package graft

import org.apache.spark.sql.SparkSession

/** Session posture shared by the harness mains (Bench, Verify,
  * Explain), so the plan Explain dumps and the results Verify checks
  * are the ones Bench times.
  */
object HarnessSession {
  /** A `local[SPARK_GRAFT_CPUS]` session (default: the real core count —
    * a hardcoded local[32] oversubscribes smaller machines and silently
    * changes shuffle partitioning) with one shuffle partition per core,
    * UTC, ns parquet timestamps read as longs, no UI, and every query
    * under the graft extensions (BandJoinToBinned + SQL functions).
    * `conf` adds harness-specific settings.
    */
  def create(conf: (String, String)*): SparkSession = {
    val cpus = sys.env.getOrElse(
      "SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)
    val spark = conf.foldLeft(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The query subset named by `SPARK_GRAFT_ONLY=q1,q2,…` (unset: all
    * queries). Unknown names fail fast — a typo would otherwise run
    * nothing and still report success.
    */
  def onlyQueries(): Option[Set[String]] = {
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_ONLY names not in SparkEntry.queries: ${unknown.mkString(", ")}")
    }
    only
  }
}
