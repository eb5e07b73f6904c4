package graft

/** Dump `.explain("formatted")` for named registered queries (the
  * plans/rNN before/after evidence files). Args: <sfDir> <outDir>
  * <suffix> <q1,q2,...>. The session is Bench's ([[HarnessSession]])
  * so the dumped plan is the plan the bench times. Queries whose
  * construction runs eager work (ML fits, index writes) execute that
  * work before the final frame's plan is printed — the dump is still
  * the declared query's plan.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    require(args.length == 4,
      "usage: Explain <sfDir> <outDir> <suffix> <q1,q2,...>")
    val Array(sfDir, outDir, suffix, names) = args
    val spark = HarnessSession.create()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    for (name <- names.split(",").map(_.trim).filter(_.nonEmpty)) {
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query: $name"))
      val plan = fn(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"),
        plan.getBytes("UTF-8"))
      graft.util.BlockHygiene.sweep(spark)
      println(s"[explain] wrote $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
