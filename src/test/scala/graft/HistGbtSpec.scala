package graft.ml

import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.functions._

/** M5 histogram edition — LightGBM-mechanics Newton boosting
  * (`ml/HistGbt.scala`): quantile binning, histogram split finding,
  * Newton leaves, leaf-wise growth, histogram subtraction. The split
  * test pins the learner to HAND-COMPUTED XGBoost-objective numbers so
  * the gain/leaf algebra can't drift.
  */
class HistGbtSpec extends graft.SparkTestBase {
  import spark.implicits._

  test("binOf: first bin whose upper edge admits v; overflow to last") {
    val edges = Array(1.0, 3.0, 7.0)
    assert(HistGbt.binOf(0.5, edges) === 0)
    assert(HistGbt.binOf(1.0, edges) === 0) // upper-inclusive
    assert(HistGbt.binOf(1.1, edges) === 1)
    assert(HistGbt.binOf(3.0, edges) === 1)
    assert(HistGbt.binOf(7.0, edges) === 2)
    assert(HistGbt.binOf(7.1, edges) === 3) // overflow bin
    assert(HistGbt.binOf(42.0, Array.empty[Double]) === 0) // constant feature
  }

  test("quantile edges: ascending, distinct, never include the max") {
    val vecs = (0 until 1000).map(i =>
      org.apache.spark.ml.linalg.Vectors.dense(i.toDouble, 5.0))
    val rdd = spark.sparkContext.parallelize(vecs, 4)
    val edges = HistGbt.quantileEdges(rdd, dims = 2, maxBins = 8,
      sampleTarget = 10000) // full pass at this size
    assert(edges(0).length === 7)
    assert(edges(0).toSeq === edges(0).sorted.toSeq)
    assert(edges(0).distinct.length === edges(0).length)
    assert(edges(0).last < 999.0, "max value must not be a cut")
    assert(edges(1).isEmpty, "constant feature gets a single bin")
  }

  test("one split reproduces hand-computed Newton gain and leaf values") {
    // One binned feature, 3 bins. Rows (bin, g, h):
    //   bin0: 2×(g=-1, h=1)   bin1: 2×(g=1, h=1)   bin2: 2×(g=1, h=1)
    // λ=0, γ=0. Root G=2, H=6, parent score G²/H = 2/3.
    //   cut ≤0: GL=-2,HL=2 → 2;  GR=4,HR=4 → 4;  gain = ½(2+4−2/3) = 8/3
    //   cut ≤1: GL= 0,HL=4 → 0;  GR=2,HR=2 → 2;  gain = ½(0+2−2/3) = 2/3
    // Best split: threshold 0; Newton leaves −GL/HL = 1, −GR/HR = −1.
    val rows = Seq.fill(2)((Array(0.toByte), -1.0, 1.0)) ++
      Seq.fill(2)((Array(1.toByte), 1.0, 1.0)) ++
      Seq.fill(2)((Array(2.toByte), 1.0, 1.0))
    val rdd = spark.sparkContext.parallelize(rows, 3)
    val tree = HistGbt.fitTree(rdd, dims = 1, bins = 3, maxLeaves = 2,
      maxDepth = 4, lambda = 0.0, gamma = 0.0, minChildHess = 1e-3)
    assert(tree.numLeaves === 2)
    assert(tree.feature(0) === 0)
    assert(tree.threshold(0) === 0)
    assert(math.abs(tree.predictBinned(Array(0.toByte)) - 1.0) < 1e-12)
    assert(math.abs(tree.predictBinned(Array(1.toByte)) + 1.0) < 1e-12)
    assert(math.abs(tree.predictBinned(Array(2.toByte)) + 1.0) < 1e-12)
  }

  test("lambda regularizes the Newton leaf toward zero") {
    val rows = Seq.fill(4)((Array(0.toByte), -2.0, 1.0)) ++
      Seq.fill(4)((Array(1.toByte), 2.0, 1.0))
    val rdd = spark.sparkContext.parallelize(rows, 2)
    val tree = HistGbt.fitTree(rdd, dims = 1, bins = 2, maxLeaves = 2,
      maxDepth = 3, lambda = 4.0, gamma = 0.0, minChildHess = 1e-3)
    // leaf value = −G/(H+λ) = −(−8)/(4+4) = 1 on the left, −1 right
    assert(math.abs(tree.predictBinned(Array(0.toByte)) - 1.0) < 1e-12)
    assert(math.abs(tree.predictBinned(Array(1.toByte)) + 1.0) < 1e-12)
  }

  test("gamma prunes splits whose gain does not clear the threshold") {
    // Same data as the hand-computed case: best gain is 8/3 ≈ 2.67.
    val rows = Seq.fill(2)((Array(0.toByte), -1.0, 1.0)) ++
      Seq.fill(2)((Array(1.toByte), 1.0, 1.0)) ++
      Seq.fill(2)((Array(2.toByte), 1.0, 1.0))
    val rdd = spark.sparkContext.parallelize(rows, 2)
    val pruned = HistGbt.fitTree(rdd, dims = 1, bins = 3, maxLeaves = 8,
      maxDepth = 4, lambda = 0.0, gamma = 10.0, minChildHess = 1e-3)
    assert(pruned.numLeaves === 1, "gain 8/3 must not clear gamma=10")
    val grown = HistGbt.fitTree(rdd, dims = 1, bins = 3, maxLeaves = 8,
      maxDepth = 4, lambda = 0.0, gamma = 2.0, minChildHess = 1e-3)
    assert(grown.numLeaves > 1, "gain 8/3 clears gamma=2")
  }

  test("leaf-wise growth splits the best-gain leaf first under a budget") {
    // Two features. Feature 0 separates {A} from {B,C} with a huge
    // gradient gap; feature 1 separates B from C with a small one. With
    // maxLeaves=2 the single split MUST be the feature-0 one.
    val rows =
      Seq.fill(4)((Array(0.toByte, 0.toByte), -10.0, 1.0)) ++ // A
      Seq.fill(4)((Array(1.toByte, 0.toByte), 9.0, 1.0)) ++   // B
      Seq.fill(4)((Array(1.toByte, 1.toByte), 11.0, 1.0))     // C
    val rdd = spark.sparkContext.parallelize(rows, 3)
    val tree = HistGbt.fitTree(rdd, dims = 2, bins = 2, maxLeaves = 2,
      maxDepth = 4, lambda = 1.0, gamma = 0.0, minChildHess = 1e-3)
    assert(tree.numLeaves === 2)
    assert(tree.feature(0) === 0, "budgeted split must take the best gain")
  }

  test("histogram split matches brute-force exact search on random data") {
    // Property check: for random (bins, g, h) datasets the learner's
    // first split must equal an independent exhaustive search over
    // every (feature, cut) with the same gain formula and the same
    // first-strictly-greater tie-break.
    val dims = 3; val bins = 4
    val lambda = 0.7; val minH = 1e-3
    for (seed <- 1 to 8) {
      val rnd = new scala.util.Random(seed)
      val rows = Seq.fill(60)((
        Array.fill(dims)(rnd.nextInt(bins).toByte),
        rnd.nextGaussian(), 0.25 + rnd.nextDouble()))
      // brute force over the same search space
      val g0 = rows.map(_._2).sum; val h0 = rows.map(_._3).sum
      val parent = g0 * g0 / (h0 + lambda)
      var best = (Double.NegativeInfinity, -1, -1)
      for (d <- 0 until dims; b <- 0 until bins - 1) {
        val left = rows.filter(r => (r._1(d) & 0xff) <= b)
        val gl = left.map(_._2).sum; val hl = left.map(_._3).sum
        val gr = g0 - gl; val hr = h0 - hl
        if (hl >= minH && hr >= minH && left.nonEmpty &&
            left.size < rows.size) {
          val gain = 0.5 * (gl * gl / (hl + lambda) +
            gr * gr / (hr + lambda) - parent)
          if (gain > best._1) best = (gain, d, b)
        }
      }
      val tree = HistGbt.fitTree(
        spark.sparkContext.parallelize(rows, 4), dims, bins,
        maxLeaves = 2, maxDepth = 3, lambda = lambda, gamma = 0.0,
        minChildHess = minH)
      // the learner also gates on gain > 0 — a non-positive best gain
      // must yield a stump, same as no admissible cut at all
      if (best._2 < 0 || best._1 <= 0.0) {
        assert(tree.numLeaves === 1, s"seed=$seed")
      } else {
        assert(tree.feature(0) === best._2, s"seed=$seed feature")
        assert(tree.threshold(0) === best._3, s"seed=$seed threshold")
      }
    }
  }

  private def treeBits(t: HistGbt.Tree) =
    (t.feature.toSeq, t.threshold.toSeq, t.left.toSeq, t.right.toSeq,
      t.value.map(java.lang.Double.doubleToRawLongBits).toSeq,
      t.gain.map(java.lang.Double.doubleToRawLongBits).toSeq)

  /** q111's noisy fixture binned the way a fit bins it (64 dims, 32
    * bins), each row carrying softmax (grad, hess) for all ten classes
    * from seeded random scores, in `parts` partitions.
    */
  private def noisyBinned(parts: Int) = {
    val rows = EmnistFixture.noisyTenClassFrame(spark).collect().map(r =>
      (r.getAs[org.apache.spark.ml.linalg.Vector](1), r.getDouble(0).toInt))
    val edges = HistGbt.edgesFromSample(rows.map(_._1), 64, 32)
    val rnd = new scala.util.Random(11)
    val binned = rows.map { case (v, y) =>
      val s = Array.fill(10)(rnd.nextGaussian())
      val ex = s.map(x => math.exp(x - s.max))
      val p = ex.map(_ / ex.sum)
      (HistGbt.encode(v, edges, None),
        Array.tabulate(10)(k => p(k) - (if (k == y) 1.0 else 0.0)),
        p.map(q => math.max(q * (1.0 - q), 1e-16)))
    }
    spark.sparkContext.parallelize(binned.toSeq, parts)
  }

  test("lockstep fit: every class tree is bit-identical to a lone fitTree " +
      "on its slice, at 1 and 2 partitions and under step grouping") {
    // ≥3 partitions would merge task results in completion order (the
    // treeAggregate final fold), which no fit is bit-stable under
    for (parts <- Seq(1, 2); (maxLeaves, maxDepth) <- Seq((8, 3), (15, 6))) {
      val data = noisyBinned(parts).cache()
      def lockstep(stepBytes: Long) = HistGbt.fitTrees(data, 10, 64, 32,
        maxLeaves, maxDepth, 1.0, 0.0, 1e-3, stepBytes)
      val oneJob = lockstep(32L << 20)
      // a cap of three trees' slots: each step runs as ⌈active/3⌉ jobs
      val grouped = lockstep(3L * 8 * (64 * 32 * 3 + 3))
      (0 until 10).foreach { k =>
        val alone = HistGbt.fitTree(data.map { case (b, g, h) => (b, g(k), h(k)) },
          64, 32, maxLeaves, maxDepth, 1.0, 0.0, 1e-3)
        val where = s"class $k, $parts partitions, $maxLeaves/$maxDepth"
        assert(treeBits(oneJob(k)) === treeBits(alone), where)
        assert(treeBits(grouped(k)) === treeBits(alone), where)
      }
      assert(oneJob.exists(_.numLeaves > 4), "the trees must actually grow")
      data.unpersist(false)
    }
  }

  test("fitValidated is repeatable: two fits on one cached 2-partition " +
      "input give identical models") {
    val (train, _) = graft.util.Sampling.split8515(
      EmnistFixture.noisyTenClassFrame(spark), 42L)
    val input = train.repartition(2).cache()
    input.count()
    def fit() = HistGbt.fitValidated(input, numClasses = 10, maxIter = 3,
      maxLeaves = 8, maxDepth = 3, maxBins = 32, sampleTarget = 5000).model
    val (a, b) = (fit(), fit())
    assert(a.priors.map(java.lang.Double.doubleToRawLongBits).toSeq ===
      b.priors.map(java.lang.Double.doubleToRawLongBits).toSeq)
    assert(a.binEdges.map(_.toSeq).toSeq === b.binEdges.map(_.toSeq).toSeq)
    assert(a.rounds.flatten.map(treeBits) === b.rounds.flatten.map(treeBits))
    input.unpersist(false)
  }

  private lazy val tenClass = EmnistFixture.tenClassFrame(spark).cache()

  test("q105: histogram Newton boosting clears every oracle boolean") {
    val out = HistGbt.q105HistGbt(spark, "unused").collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getString(0) === "hist_gbt_newton")
    assert(r.getInt(1) === 10)
    assert(r.getBoolean(2), "holdout accuracy >= 0.9")
    assert(r.getBoolean(3), "boosted model beats priors-only")
    assert(r.getBoolean(4), "train deviance decreases every round")
  }

  test("q111: noisy fixture holds the signal-bearing accuracy band") {
    val out = HistGbt.q111HistGbtNoisy(spark, "unused").collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getString(0) === "hist_gbt_noisy")
    assert(r.getInt(1) === 10)
    assert(r.getBoolean(2), "holdout accuracy >= 0.78 (floor)")
    assert(r.getBoolean(3), "holdout accuracy <= 0.90 (fixture non-separable)")
    assert(r.getBoolean(4), "boosted model beats priors-only")
    assert(r.getBoolean(5), "train deviance decreases every round")
  }

  test("early stopping: stops at the validation minimum and truncates to it") {
    val data = EmnistFixture.noisyTenClassFrame(spark).cache()
    val (train, holdout) = graft.util.Sampling.split8515(data, 42L)
    val res = HistGbt.fitValidated(train, numClasses = 10, maxIter = 40,
      maxLeaves = 8, maxDepth = 3, maxBins = 32, sampleTarget = 5000,
      validation = Some(holdout), earlyStoppingRounds = 3)
    val roundsRun = res.valDeviance.length - 1 // index 0 = priors-only
    assert(roundsRun < 40, "noisy fixture must trigger the early stop")
    // best iteration is the argmin of the recorded trajectory; the
    // model is truncated to exactly that many rounds, and training ran
    // exactly `patience` rounds past it
    val best = res.valDeviance.zipWithIndex.minBy(_._1)._2
    assert(res.bestIter === best)
    assert(res.model.rounds.length === res.bestIter)
    assert(roundsRun === res.bestIter + 3)
    // consistency: a fresh application of the truncated model scores
    // the validation frame to the deviance the incremental vectors
    // recorded at that round
    val d = HistGbt.deviance(res.model, holdout)
    assert(math.abs(d - res.valDeviance(res.bestIter)) < 1e-9)
    data.unpersist(false)
  }

  test("gain importances: the separating feature dominates; normalized sum 1") {
    // Feature 0 separates the classes with a huge gradient gap; feature
    // 1 is pure noise. Gain-based importances must put (nearly) all
    // mass on feature 0.
    val rnd = new scala.util.Random(5)
    val rows = (0 until 200).map { i =>
      val y = i % 2
      (y.toDouble, org.apache.spark.ml.linalg.Vectors.dense(
        y * 10.0 + rnd.nextGaussian() * 0.1, rnd.nextGaussian()))
    }
    val df = spark.createDataFrame(rows).toDF("label_idx", "pca")
    val model = HistGbt.fit(df, numClasses = 2, maxIter = 3, maxLeaves = 4,
      maxDepth = 3, maxBins = 16, sampleTarget = 1000)
    val imp = HistGbt.featureImportances(model)
    assert(math.abs(imp.sum - 1.0) < 1e-9)
    assert(imp(0) > 0.9, s"separating feature should dominate: ${imp.toSeq}")
    val raw = HistGbt.featureImportances(model, normalize = false)
    assert(raw(0) > 0.0 && raw.sum > 0.0)
  }

  test("M7: model round-trips through parquet with identical predictions") {
    val (train, test) = graft.util.Sampling.split8515(tenClass, 42L)
    val model = HistGbt.fit(train, numClasses = 10, maxIter = 2,
      maxLeaves = 6, maxDepth = 3, maxBins = 16, sampleTarget = 2000)
    val dir = java.nio.file.Files.createTempDirectory("histgbt-m7").toString
    HistGbt.save(model, spark, dir)
    val loaded = HistGbt.load(spark, dir)
    assert(loaded.priors.toSeq === model.priors.toSeq)
    assert(loaded.learningRate === model.learningRate)
    assert(loaded.binEdges.map(_.toSeq).toSeq === model.binEdges.map(_.toSeq).toSeq)
    assert(loaded.rounds.length === model.rounds.length)
    val a = model.transform(test).select("prediction").collect().toSeq
    val b = loaded.transform(test).select("prediction").collect().toSeq
    assert(a === b)
  }

  test("model routes raw vectors through the same bins as training") {
    val (train, _) = graft.util.Sampling.split8515(tenClass, 42L)
    val model = HistGbt.fit(train, numClasses = 10, maxIter = 2,
      maxLeaves = 6, maxDepth = 3, maxBins = 16, sampleTarget = 2000)
    // transform must be deterministic and defined on every row
    val a = model.transform(tenClass).select("prediction").collect()
    val b = model.transform(tenClass).select("prediction").collect()
    assert(a.toSeq === b.toSeq)
    assert(a.forall { r =>
      val p = r.getDouble(0); p >= 0.0 && p <= 9.0 && p == math.floor(p)
    })
  }

  // --- GOSS + EFB (Ke et al. 2017 §3-4) -----------------------------------

  test("encode: bundle offset algebra — zero code, member offsets, " +
      "first-active-wins, singleton passthrough") {
    import org.apache.spark.ml.linalg.Vectors
    // feature 0: edges [1,3] (3 bins); feature 1: edges [5] (2 bins);
    // feature 2: edges [2,4,6] (4 bins, stays singleton)
    val edges = Array(Array(1.0, 3.0), Array(5.0), Array(2.0, 4.0, 6.0))
    val bundles = Some(Array(Array(0, 1), Array(2)))
    def enc(v: Double*) =
      HistGbt.encode(Vectors.dense(v.toArray), edges, bundles).map(_ & 0xff)
    assert(enc(0.0, 0.0, 5.0).toSeq === Seq(0, 2))      // all-zero -> 0
    assert(enc(0.5, 0.0, 0.0).toSeq === Seq(1 + 0, 0))  // f0 bin0 -> 1
    assert(enc(9.0, 0.0, 9.0).toSeq === Seq(1 + 2, 3))  // f0 overflow -> 3
    assert(enc(0.0, 4.0, 0.0).toSeq === Seq(1 + 3 + 0, 0)) // f1 bin0 -> 4
    assert(enc(0.0, 6.0, 0.0).toSeq === Seq(1 + 3 + 1, 0)) // f1 bin1 -> 5
    assert(enc(2.0, 6.0, 0.0).toSeq === Seq(1 + 1, 0))  // conflict: f0 wins
    // identity (None) matches the plain per-feature binning
    val plain = HistGbt.encode(Vectors.dense(2.0, 6.0, 5.0), edges, None)
    assert(plain.map(_ & 0xff).toSeq === Seq(1, 1, 2))
  }

  test("buildBundles: exclusive features merge, conflicting features " +
      "stay apart under a zero budget, byte capacity is honored") {
    import org.apache.spark.ml.linalg.Vectors
    // f0 and f1 perfectly exclusive (one-hot pair), f2 overlaps both
    val sample = (0 until 100).map { i =>
      val f0 = if (i % 2 == 0) 1.0 else 0.0
      val f1 = if (i % 2 == 1) 1.0 else 0.0
      Vectors.dense(f0, f1, 1.0)
    }.toArray
    val binsPer = Array(2, 2, 2)
    val zero = HistGbt.buildBundles(sample, 3, binsPer,
      maxConflictRate = 0.0)
    assert(zero.map(_.toSeq).toSet === Set(Seq(0, 1), Seq(2)),
      s"exclusive pair must bundle, overlapping f2 must not: " +
        zero.map(_.mkString("[", ",", "]")).mkString(" "))
    // every feature appears exactly once
    assert(zero.flatten.sorted.toSeq === Seq(0, 1, 2))
    // capacity: members stop joining once the merged code space would
    // exceed a byte
    val wide = HistGbt.buildBundles(
      (0 until 64).map(_ => Vectors.dense(new Array[Double](8))).toArray,
      8, Array.fill(8)(64), maxConflictRate = 1.0, maxCodes = 256)
    wide.foreach { ms =>
      assert(1 + ms.map(_ => 64).sum <= 256 || ms.length == 1,
        s"bundle ${ms.mkString(",")} exceeds the byte code space")
    }
  }

  test("GOSS at a=0.2/b=0.1 reproduces the full-data fit within an " +
      "accuracy band, deterministically under repartitioning") {
    val (train, test) = graft.util.Sampling.split8515(tenClass, 42L)
    def fitAcc(df: org.apache.spark.sql.DataFrame,
        goss: Boolean): Double = {
      val res = HistGbt.fitValidated(df, numClasses = 10, maxIter = 3,
        maxLeaves = 8, maxDepth = 3, maxBins = 32, sampleTarget = 5000,
        gossTopRate = if (goss) 0.2 else 0.0,
        gossOtherRate = if (goss) 0.1 else 0.0)
      val n = test.count().toDouble
      res.model.transform(test)
        .filter(col("prediction") === col("label_idx")).count() / n
    }
    val full = fitAcc(train, goss = false)
    val goss = fitAcc(train, goss = true)
    // Ke et al. Table 2: one-side sampling tracks the full fit; the
    // clean fixture separates, so both should be high and close
    assert(goss >= full - 0.08,
      s"GOSS acc $goss fell more than 0.08 below full-data acc $full")
    // same-input determinism is EXACT: the coin is content-hashed and
    // the threshold histogram commutative, so a repeat fit is identical
    val repeat = fitAcc(train, goss = true)
    assert(repeat === goss, "GOSS repeat fit must be bit-identical")
    // under REPARTITIONING no row's sampling fate changes, but FP
    // summation order inside histogram aggregation can flip a near-tie
    // split and cascade (the same caveat every fit here carries) — a
    // loose band, not exactness, is the honest assertion
    val repartitioned = fitAcc(train.repartition(17), goss = true)
    assert(math.abs(repartitioned - goss) <= 0.05,
      s"GOSS under repartitioning moved $goss -> $repartitioned")
  }

  test("EFB bundles the fixture's structural zeros and the bundled " +
      "model round-trips through parquet (including bundles)") {
    val (train, test) = graft.util.Sampling.split8515(tenClass, 42L)
    val res = HistGbt.fitValidated(train, numClasses = 10, maxIter = 2,
      maxLeaves = 6, maxDepth = 3, maxBins = 16, sampleTarget = 5000,
      efbMaxConflictRate = 0.05)
    val model = res.model
    val bs = model.bundles.get
    assert(bs.flatten.sorted.toSeq === (0 until 64).toSeq,
      "every feature exactly once across bundles")
    assert(bs.length < 64, "80%-zeros features must actually bundle")
    assert(bs.exists(_.length >= 2))
    // quality survives bundling on the separable fixture
    val n = test.count().toDouble
    val acc = model.transform(test)
      .filter(col("prediction") === col("label_idx")).count() / n
    assert(acc >= 0.9, s"bundled model accuracy $acc")
    // persistence carries the bundling; predictions identical on reload
    val dir = java.nio.file.Files.createTempDirectory("histgbt-efb").toString
    HistGbt.save(model, spark, dir)
    val loaded = HistGbt.load(spark, dir)
    assert(loaded.bundles.get.map(_.toSeq).toSeq === bs.map(_.toSeq).toSeq)
    val a = model.transform(test).select("prediction").collect().toSeq
    val b = loaded.transform(test).select("prediction").collect().toSeq
    assert(a === b)
    // save() RECONCILES the bundles dir (advisor round 19): overwriting
    // the EFB model with a bundle-free model at the SAME path must not
    // leave the stale bundles table for load() to silently attach to
    // the new trees — that would corrupt every routed prediction.
    val plain = model.copy(bundles = None)
    HistGbt.save(plain, spark, dir)
    val reloaded = HistGbt.load(spark, dir)
    assert(reloaded.bundles.isEmpty,
      "stale bundles table survived an overwrite by a bundle-free model")
  }
}
