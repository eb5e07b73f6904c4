package graft.util

import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bucketed (pre-shuffled) table layout — the co-located-join story at
  * 100 TB, promoted from test-only (`BucketingSpec`) to an oracled query.
  *
  * A fact⋈fact join on a high-cardinality key shuffles BOTH sides every
  * time it runs. Bucketing pays that shuffle ONCE at write time: both
  * tables hash-partitioned into the same bucket count on the join key
  * (plus in-bucket sort), after which every join on that key is
  * Exchange-free — each task zips bucket i with bucket i. On a
  * 1000-executor cluster this turns the recurring O(data) network cost
  * of the orders⋈lineitem backbone into a one-time layout decision;
  * it is the same trade Hive/Iceberg bucketed tables and Spark's own
  * `spark.sql.sources.bucketing` make.
  *
  * No reference analogue (the reference has no joins at all) — this is
  * SURVEY §2 scale posture surface.
  */
object Bucketing {

  /** Write `df` as a bucketed+sorted EXTERNAL table (explicit parquet
    * location) in the session catalog, replacing any previous version.
    * `saveAsTable` is required — bucket metadata lives in the catalog,
    * plain `parquet(path)` writes would lose it.
    *
    * The pre-write `repartition(buckets, key)` kills write
    * amplification: bucket id and HashPartitioning use the SAME
    * murmur3-pmod function, so partition i holds exactly bucket i and
    * each task writes ONE file — without it every input task writes a
    * sliver of every bucket (tasks × buckets small files; 512 here,
    * arbitrarily many at 100 TB).
    */
  def writeBucketed(df: DataFrame, table: String, path: String,
      key: String, buckets: Int): Unit =
    df.repartition(buckets, col(key))
      .write
      .bucketBy(buckets, key).sortBy(key)
      .option("path", path)
      .mode("overwrite")
      .saveAsTable(table)

  /** (session, sfDir) pairs whose bucketed layout already exists — the
    * layout is written ONCE per process and reused by every subsequent
    * invocation, which is the operation's entire premise: bucketing pays
    * the shuffle at LAYOUT time so the recurring join is Exchange-free.
    * Round 12 wrote a fresh temp dir per invocation (2–3 full
    * orders+lineitem copies leaked into /tmp per bench run and the
    * timed number measured layout+join every repeat); the memoized form
    * measures the recurring join on warm repeats — the cost a user
    * actually pays — and a shutdown hook removes the one layout dir.
    */
  private val laidOut =
    new java.util.concurrent.ConcurrentHashMap[String, java.nio.file.Path]()

  /** Number of layout BUILDS this process has paid — lets tests (and
    * bench forensics) assert that warm repeats hit the memo instead of
    * silently re-laying-out (round-13 driver read 3× the warm cost).
    */
  private[graft] val layoutBuilds = new java.util.concurrent.atomic.AtomicLong

  private def deleteRecursively(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(f => java.nio.file.Files.deleteIfExists(f))
    }

  /** ORACLED exercise (q101): bucket orders and lineitem by the join key
    * (16 buckets), then run the revenue-per-priority backbone join over
    * the BUCKETED tables. The merge hint pins sort-merge (so the plan is
    * the bucketed no-Exchange SMJ at every scale factor, never a
    * broadcast that would mask the layout); `BucketingSpec` asserts the
    * Exchange-free plan, the oracle checks the numbers. The layout is
    * memoized per (session, source dir) — see [[laidOut]].
    */
  def q101BucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // Catalog table names carry a dir-derived suffix: the memo is keyed
    // per (session, dir), so with GLOBAL names a second dir in the same
    // session would overwrite the tables while the first dir's memo
    // entry still points at them — a later call for the first dir would
    // silently join the second dir's data. Both the memo key and the
    // suffix use the CANONICAL path (two spellings of one dir must not
    // rebuild the layout) and the suffix carries 64 hash bits (two
    // murmur seeds) so distinct dirs cannot share a table name at the
    // 2^-32 odds a single 32-bit hash would leave.
    val canonical = new java.io.File(dir).getCanonicalPath
    val suffix = {
      import scala.util.hashing.MurmurHash3.stringHash
      f"${(stringHash(canonical, 0x9747b28c).toLong & 0xffffffffL) << 32 |
        (stringHash(canonical, 0x85ebca6b).toLong & 0xffffffffL)}%016x"
    }
    val ordersTable = s"graft_q101_orders_$suffix"
    val lineitemTable = s"graft_q101_lineitem_$suffix"
    val memoKey = s"${System.identityHashCode(spark)}#$canonical"
    def build(): java.nio.file.Path = {
      val base = java.nio.file.Files.createTempDirectory("graft-q101")
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        try deleteRecursively(base) catch { case NonFatal(_) => () }))
      writeBucketed(graft.ops.Sources.orders(spark, dir), ordersTable,
        s"$base/orders", "o_orderkey", 16)
      writeBucketed(graft.ops.Sources.lineitem(spark, dir), lineitemTable,
        s"$base/lineitem", "l_orderkey", 16)
      layoutBuilds.incrementAndGet()
      // Build-vs-warm is observable in any run's stderr: a repeat that
      // logs this line did NOT hit the memo (round-13 bench forensics).
      System.err.println(s"[graft] q101 bucketed layout BUILD for $canonical")
      base
    }
    // Staleness check AND rebuild run atomically under the per-key bin
    // lock (advisor round 13): the earlier unlocked check→remove→
    // computeIfAbsent sequence let a concurrent reader observe the
    // window between a stale entry's drop and its re-register. A hit
    // re-validates its catalog entries before being served —
    // identityHashCode keys are not unique across session lifetimes, so
    // a hit whose tables are absent from THIS session's catalog is a
    // dead session's entry (or a dropped layout); rebuild rather than
    // failing the read. The layout write deliberately runs under the
    // lock: concurrent callers for the same key must wait for it, not
    // race it.
    laidOut.compute(memoKey, (_, cur) =>
      if (cur != null && spark.catalog.tableExists(ordersTable) &&
          spark.catalog.tableExists(lineitemTable)) cur
      else build())
    val price = $"l_extendedprice".cast("decimal(12,2)")
    val disc  = $"l_discount".cast("decimal(3,2)")
    spark.table(lineitemTable).hint("merge")
      .join(spark.table(ordersTable), $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_orderpriority")
      .agg(
        round(sum(price * (lit(1) - disc)), 2).cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy($"o_orderpriority")
  }
}
