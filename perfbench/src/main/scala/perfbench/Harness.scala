package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.ml.classification.NaiveBayes
import org.apache.spark.ml.Pipeline
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftColumns

import graft.SparkEntry
import graft.ml.{EmnistFixture, EmnistPipeline, HistGbt}
import graft.util.{BlockHygiene, Sampling}

/** One benchmark run in one JVM: set a session up, run a cold pass and
  * then warm passes over the workload's calls for the given number of
  * seconds, and, off the timer, write each oracled call's output for the
  * DuckDB check. Everything measured is written as one JSON document to
  * `--out`; run.py turns it into metrics. With `--setup-only 1` the JVM
  * only sets the session up, writes the set-up time and exits: run.py
  * starts a few of those to time set-up in fresh JVMs.
  *
  * Set-up is timed from `--launched-ms`, the epoch milliseconds at which
  * run.py started the JVM, to a session that has run the harness warmup.
  *
  * Calls go only through the engine's public entry points: the registered
  * `SparkEntry.queries` functions and the public `graft.ml` functions.
  * A call that throws a non-fatal exception is recorded as failed and the
  * run goes on; anything fatal escapes `main`, and the uncaught-exception
  * handler halts the JVM with a non-zero code so the run reports nothing.
  */
object Harness {

  /** The paper's pipeline as direct `graft.ml` calls: seeded EMNIST-analog
    * fixture, scaler + PCA(64), Gaussian NB and a 39-class HistGbt, scored
    * on the held-out 15%.
    */
  val EmnistCall = "emnist_pipeline"

  final case class Conf(seed: Long, seconds: Double, trace: Boolean, data: String,
      work: String, out: String, calls: Seq[String], warmPasses: Int, cores: Int,
      launchedMs: Double, setupOnly: Boolean)

  def parse(argv: Array[String]): Conf = {
    val m = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Conf(m("seed").toLong, m("seconds").toDouble, m("trace") == "1", m("data"), m("work"),
      m("out"), m("calls").split(",").toSeq, m("warm-passes").toInt, m("cores").toInt,
      m("launched-ms").toDouble, m("setup-only") == "1")
  }

  def main(argv: Array[String]): Unit = {
    Thread.setDefaultUncaughtExceptionHandler { (t: Thread, e: Throwable) =>
      System.err.println(s"[perfbench] fatal error in thread ${t.getName}; run aborted")
      e.printStackTrace()
      Runtime.getRuntime.halt(3)
    }
    val conf = parse(argv)
    val unknown = conf.calls.filterNot(c => c == EmnistCall || SparkEntry.queries.contains(c))
    require(unknown.isEmpty,
      s"calls not registered in SparkEntry.queries: ${unknown.mkString(", ")}")
    val harness = new Harness(conf)
    val result = if (conf.setupOnly) harness.setUpOnly() else harness.run()
    val json = new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(result)
    Files.writeString(Paths.get(conf.out), json)
    sys.exit(0)
  }
}

final class Harness(conf: Harness.Conf) {
  import Harness._

  private val tracer = new Tracer
  private var spark: SparkSession = _

  private def seconds(t0: Double): Double = (Clock.nowMs - t0) / 1e3

  private def describe(e: Throwable): String =
    s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"

  /** The Verify session posture on `local[cores]`, with Spark's scratch
    * space inside the run's own work directory.
    */
  private def newSession(): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[${conf.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", conf.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.local.dir", s"${conf.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${conf.work}/warehouse")
    if (conf.trace)
      builder.config("spark.sql.queryExecutionListeners", classOf[PlanListener].getName)
    val s = builder.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** One scan, shuffle, sort and noop write, so the cold pass does not
    * also pay for the first query the session ever plans.
    */
  private def warmup(s: SparkSession): Unit =
    s.read.parquet(s"${conf.data}/lineitem.parquet")
      .groupBy(col("l_returnflag")).count().orderBy(col("l_returnflag"))
      .write.format("noop").mode("overwrite").save()

  /** Seconds from the JVM's launch to a session that has run the warmup. */
  private def setUp(): Double = {
    spark = newSession()
    warmup(spark)
    seconds(conf.launchedMs)
  }

  def setUpOnly(): Map[String, Any] = {
    val setup = setUp()
    spark.stop()
    Map("setup_s" -> setup)
  }

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP).toSeq
  private def gcTotals: (Long, Long) =
    (gcBeans.map(_.getCollectionTime).sum, gcBeans.map(_.getCollectionCount).sum)

  /** (steal, total) CPU ticks of the host so far, from /proc/stat's cpu
    * line; zeros where there is no such file.
    */
  private def cpuTicks: (Long, Long) =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1)
        .map(_.toLong)
      (f(7), f.take(8).sum)
    } catch { case NonFatal(_) => (0L, 0L) }

  /** Deterministic label noise on the EMNIST-analog fixture, whose clean
    * classes are separable: a hash of (label, row_id, seed) moves 15% of
    * the rows to another class, never their own, while their features
    * stay those of the true class. The holdout scores then sit below 1.0
    * and carry signal.
    */
  private def noisyLabel: Column = {
    val classes = typedLit(EmnistFixture.classes)
    val flip = pmod(xxhash64(col("label"), col("row_id"), lit(conf.seed)), lit(1000)) < 150
    val shift = pmod(xxhash64(col("label"), col("row_id"), lit(conf.seed + 1)), lit(38))
    val other = element_at(classes,
      (pmod(array_position(classes, col("label")) + shift, lit(39)) + 1).cast("int"))
    when(flip, other).otherwise(col("label"))
  }

  private def emnistPipeline(): Map[String, Any] = {
    val s = spark
    import s.implicits._
    val data = tracer.span("ml.fixture") {
      val d = EmnistFixture.df(s, dim = 1024, seed = conf.seed)
        .withColumn("label", noisyLabel)
        .withColumn("fvec", array_to_vector($"features")).cache()
      d.count()
      d
    }
    val (train, test) = Sampling.split8515(data, conf.seed)
    val (trainF, testF) = tracer.span("ml.features_fit") {
      val features = new Pipeline().setStages(EmnistPipeline.featureStages(64)).fit(train)
      val tr = features.transform(train).select($"label_idx", $"pca").cache()
      val te = features.transform(test).select($"label_idx", $"pca").cache()
      tr.count(); te.count()
      (tr, te)
    }
    val nb = tracer.span("ml.nb_fit") {
      new NaiveBayes().setModelType("gaussian")
        .setFeaturesCol("pca").setLabelCol("label_idx").fit(trainF)
    }
    val gbt = tracer.span("ml.gbt_fit") {
      HistGbt.fitValidated(trainF, numClasses = EmnistFixture.classes.size,
        maxIter = 1, maxLeaves = 8, maxDepth = 3, maxBins = 32,
        sampleTarget = 5000).model
    }
    val ((nbAcc, nbF1), (acc, f1)) = tracer.span("ml.eval") {
      (EmnistPipeline.evaluate(nb.transform(testF)),
        EmnistPipeline.evaluate(gbt.transform(testF)))
    }
    Seq(data, trainF, testF).foreach(_.unpersist(false))
    Map("holdout_acc" -> acc, "holdout_f1" -> f1, "nb_acc" -> nbAcc, "nb_f1" -> nbF1)
  }

  private def runCall(name: String): Map[String, Any] = {
    var build, drain = 0.0
    var error: String = null
    var ml: Map[String, Any] = null
    val t = Clock.nowMs
    tracer.span(s"call:$name") {
      try {
        if (name == EmnistCall) ml = emnistPipeline()
        else {
          val t0 = Clock.nowMs
          val df = tracer.span("build") { SparkEntry.queries(name)(spark, conf.data) }
          build = seconds(t0)
          val t1 = Clock.nowMs
          tracer.span("drain") { df.write.format("noop").mode("overwrite").save() }
          drain = seconds(t1)
        }
      } catch {
        case NonFatal(e) =>
          error = describe(e)
          System.err.println(s"[perfbench] $name failed: $error")
      }
    }
    val wall = seconds(t)
    val t2 = Clock.nowMs
    val swept = tracer.span("sweep") { BlockHygiene.sweep(spark) }
    val sweep = seconds(t2)
    Map("name" -> name, "wall_s" -> wall, "build_s" -> build, "drain_s" -> drain,
      "sweep_s" -> sweep, "swept" -> swept, "error" -> error, "ml" -> ml)
  }

  private def runPass(kind: String, traced: Boolean): Map[String, Any] = {
    tracer.on = traced
    heapPools.foreach(_.resetPeakUsage())
    val (gcMs0, gcN0) = gcTotals
    val (steal0, ticks0) = cpuTicks
    val t0 = Clock.nowMs
    val calls = tracer.span(s"pass:$kind") { conf.calls.map(runCall) }
    val wall = seconds(t0)
    tracer.on = false
    val (gcMs1, gcN1) = gcTotals
    val (steal1, ticks1) = cpuTicks
    Map("kind" -> kind, "traced" -> traced, "wall_s" -> wall, "calls" -> calls,
      "gc_s" -> (gcMs1 - gcMs0) / 1e3, "gc_count" -> (gcN1 - gcN0),
      "heap_peak_mb" -> heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0,
      "steal_frac" ->
        (if (ticks1 > ticks0) (steal1 - steal0).toDouble / (ticks1 - ticks0) else 0.0))
  }

  /** Rows per second of one public GraftColumns kernel, projected over a
    * cached frame and drained through the noop sink; median of three.
    */
  private def kernelRate(frame: DataFrame, kernel: Column): Double = {
    val rows = frame.count().toDouble
    val times = (0 until 3).map { _ =>
      val t0 = Clock.nowMs
      frame.select(kernel.as("k")).write.format("noop").mode("overwrite").save()
      seconds(t0)
    }.sorted
    rows / times(1)
  }

  private def kernels(): Map[String, Double] = {
    val s = spark
    import s.implicits._
    val reps = spark.range(40).toDF("rep")
    val docs = reps.crossJoin(spark.read.parquet(s"${conf.data}/documents.parquet")
      .select($"text")).cache()
    val emb = reps.crossJoin(spark.read.parquet(s"${conf.data}/embeddings.parquet")
      .select($"embedding".cast("array<double>").as("e"))).cache()
    val skeleton = spark.range(20000).select(
      element_at(typedLit(EmnistFixture.classes), ($"id" % 39 + 1).cast("int")).as("label"),
      $"id".cast("int").as("row_id")).cache()
    val rates = Map(
      "char_grams" -> kernelRate(docs, GraftColumns.charGramHashes($"text", 5)),
      "word_grams" -> kernelRate(docs, GraftColumns.wordGrams(split($"text", " "), 3)),
      "simhash64" -> kernelRate(docs, GraftColumns.simHash64($"text")),
      "winnow" -> kernelRate(docs, GraftColumns.winnowFingerprints($"text", 5, 4)),
      "cosine" -> kernelRate(emb, GraftColumns.cosineSimilarity($"e", reverse($"e"))),
      "emnist_features" -> kernelRate(skeleton,
        GraftColumns.emnistFeatures($"label", $"row_id", 1024, conf.seed)))
    Seq(docs, emb, skeleton).foreach(_.unpersist(true))
    rates
  }

  /** Heap in use after a full collection: what the session keeps alive,
    * pinned memo state included.
    */
  private def liveHeapMb(): Double = {
    System.gc(); Thread.sleep(100); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def pinnedMb(): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0

  /** Off the timer: each oracled call's output, as one parquet file per
    * call, beside the oracle SQL that run.py evaluates in DuckDB.
    */
  private def checkOutputs(): (Map[String, String], Map[String, String]) = {
    val oracled = conf.calls.distinct.filter(SparkEntry.oracleSql.contains)
    val errors = oracled.flatMap { name =>
      try {
        SparkEntry.queries(name)(spark, conf.data)
          .write.mode("overwrite").parquet(s"${conf.work}/check/$name")
        None
      } catch {
        case NonFatal(e) => Some(name -> describe(e))
      } finally BlockHygiene.sweep(spark)
    }.toMap
    (oracled.map(n => n -> SparkEntry.oracleSql(n)).toMap, errors)
  }

  def run(): Map[String, Any] = {
    val setup = setUp()
    if (conf.trace) spark.sparkContext.addSparkListener(tracer.sparkListener)
    val passes = ArrayBuffer[Map[String, Any]]()
    tracer.on = conf.trace
    tracer.span("run") {
      passes += runPass("cold", conf.trace)
      // Warm passes: the workload's fixed count of each kind, or more if
      // they end before the run's seconds. Passes keep getting faster for
      // tens of seconds while the JIT warms up, so a fixed count puts the
      // median at the same point of that curve in every run. A traced run
      // interleaves untraced and traced passes as U T T U ..., so that the
      // same trend cancels out of the tracing overhead.
      val t0 = Clock.nowMs
      def count(traced: Boolean) = passes.count(p => p("kind") == "warm" && p("traced") == traced)
      var i = 0
      while (seconds(t0) < conf.seconds || count(false) < conf.warmPasses ||
          (conf.trace && count(true) < conf.warmPasses)) {
        passes += runPass("warm", conf.trace && (i % 4 == 1 || i % 4 == 2))
        i += 1
      }
    }
    val measured = passes.map(_("wall_s").asInstanceOf[Double]).sum
    val heap = liveHeapMb()
    val pinned = pinnedMb()
    val kernelRates = if (conf.trace) kernels() else Map.empty[String, Double]
    val (oracle, checkErrors) = checkOutputs()
    val out = Map(
      "seed" -> conf.seed, "cores" -> conf.cores,
      "setup_s" -> setup, "passes" -> passes.toSeq, "measured_s" -> measured,
      "live_heap_mb" -> heap, "pinned_mb" -> pinned, "kernels" -> kernelRates,
      "oracle" -> oracle, "check_errors" -> checkErrors)
    spark.stop() // delivers the listener events still queued
    if (conf.trace) out ++ tracer.toJson else out
  }
}
