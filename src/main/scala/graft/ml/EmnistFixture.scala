package graft.ml

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic EMNIST-analog fixture — FIXTURES.md §B1, standing in
  * for the reference's Kaggle handwritten-characters corpus
  * (/root/reference/main.py:28-34: 39 classes A–Z, 1–9, @ # $ &).
  *
  * Generation is fully distributed and seed-stable: every cell is a pure
  * function of (label, row, dim, seed) via xxhash64, so the same rows
  * materialize regardless of partitioning or cluster size — no driver
  * staging (the reference vstacks the whole corpus in driver RAM,
  * main.py:169).
  *
  * Shape mirrors the reference: ~80% structural zeros (main.py:229-235
  * measures sparsity), per-class template + noise so per-class mean
  * aggregation (A5) recovers the template and classifiers clear chance
  * by a wide margin, and deliberately imbalanced class counts so the
  * balanced-load path (P5, main.py:157-165) has work to do.
  */
object EmnistFixture {

  val classes: Seq[String] =
    ('A' to 'Z').map(_.toString) ++ (1 to 9).map(_.toString) ++ Seq("@", "#", "$", "&")

  /** Imbalanced per-class row counts in [20, 60], deterministic. */
  def classCounts: Seq[(String, Int)] =
    classes.zipWithIndex.map { case (c, i) => (c, 20 + (i * 7919) % 41) }

  /** The labeled corpus: `label: string, row_id: int, features:
    * array<double>` with `dim` columns (default 1,024 = 32×32 like the
    * reference, main.py:123-124). `scale` multiplies every class count
    * (cells stay pure functions of (label, row, dim, seed), so scale=1
    * rows are a prefix of scale=N rows): scale≈110 reproduces the
    * reference's 170,820-image working set (main.py:192) for
    * reference-scale throughput runs.
    */
  def df(spark: SparkSession, dim: Int = 1024, seed: Long = 42L,
      scale: Int = 1): DataFrame = {
    import spark.implicits._
    val skeleton = classCounts
      .flatMap { case (c, n) => (0 until n * scale).map(r => (c, r)) }
      .toDF("label", "row_id")
      .repartition(8 * scale, $"label", $"row_id")
    // ~20% of dims are active per class (hash-chosen), giving ~80%
    // zeros; active cells are a class template value in [100, 200) plus
    // per-cell noise in [-10, 10]. The kernel is the codegen'd
    // [[graft.expressions.EmnistFeatures]] — bit-identical to the HOF
    // xxhash64 formulation (asserted in ImagesSpec), but one JVM loop
    // per row with the (label, d)-only template terms cached per label
    // instead of 3 interpreted hash lambdas per cell per row.
    skeleton.withColumn(
      "features",
      org.apache.spark.sql.graftshim.GraftColumns
        .emnistFeatures($"label", $"row_id", dim, seed))
  }

  /** Shared ten-class slice used by the boosting exercises (q97
    * SoftmaxGbt, q105 HistGbt) and their specs — first 10 classes, raw
    * `dim`-dimensional features as an MLlib vector under the q32
    * column names (label_idx: 0-9 double, pca: vector). ONE definition
    * so the two oracled queries and the tests can never drift to
    * different slices. Uncached — callers own the cache lifecycle.
    */
  def tenClassFrame(spark: SparkSession, dim: Int = 64): DataFrame = {
    import org.apache.spark.ml.functions.array_to_vector
    val keep = classes.take(10)
    df(spark, dim = dim)
      .filter(col("label").isInCollection(keep))
      .withColumn("label_idx",
        array_position(
          array(keep.map(c => lit(c)): _*), col("label")).cast("double") - 1)
      .withColumn("pca", array_to_vector(col("features")))
      .select(col("label_idx"), col("pca"))
  }

  /** [[tenClassFrame]] with deterministic LABEL NOISE — the
    * NON-SEPARABLE variant for accuracy-bearing classifier checks.
    * The clean fixture is separable by construction (disjoint-enough
    * hash-chosen templates), so accuracy floors saturate at 1.0 and
    * carry no signal; the reference's own corpus is not separable (its
    * LightGBM lands in the low 80s, main.py:431-433). A hash-chosen
    * `noise` fraction of rows carries a WRONG label_idx (uniform over
    * the other 9 classes) while features stay keyed to the true class,
    * which caps ANY classifier's expected holdout accuracy at
    * ~(1-noise) — with noise=0.18 the Bayes ceiling is ~0.82, the
    * reference's anchor zone. Both the flip coin and the wrong-class
    * choice are pure functions of (label, row_id, seed), so the frame
    * is identical under any partitioning.
    */
  def noisyTenClassFrame(spark: SparkSession, dim: Int = 64,
      noise: Double = 0.18, seed: Long = 7L, scale: Int = 5): DataFrame = {
    import org.apache.spark.ml.functions.array_to_vector
    val keep = classes.take(10)
    // scale=5 (~1.9k rows, ~290 holdout) keeps the fit sub-second while
    // giving the accuracy floor enough holdout mass that the band is a
    // property of the classifier, not of a 47-row sample
    val base = df(spark, dim = dim, scale = scale)
      .filter(col("label").isInCollection(keep))
      .withColumn("true_idx",
        array_position(
          array(keep.map(c => lit(c)): _*), col("label")).cast("double") - 1)
    val coin = pmod(xxhash64(col("label"), col("row_id"), lit(seed)),
      lit(1000000L))
    val flip = coin < lit(math.round(noise * 1000000L))
    // wrong class: uniform 0..8, shifted past true_idx so the flipped
    // label ALWAYS differs (a self-flip would silently lower the
    // effective noise rate)
    val other = pmod(xxhash64(col("label"), col("row_id"), lit(seed + 1)),
      lit(9L)).cast("double")
    base
      .withColumn("label_idx",
        when(flip, when(other >= col("true_idx"), other + 1).otherwise(other))
          .otherwise(col("true_idx")))
      .withColumn("pca", array_to_vector(col("features")))
      .select(col("label_idx"), col("pca"))
      // collapse df()'s 8·scale generation partitions back to 8: the
      // boosting consumer runs many tiny jobs over this frame, and at
      // ~2k rows their cost is TASK COUNT, not data
      // (measured: q111 ~8 s at 40 partitions, ~3 s at 8). Fit results
      // are partitioning-independent (content-hashed sampling,
      // full-collect edges at this n), so this is purely a cost knob.
      .coalesce(8)
  }
}
