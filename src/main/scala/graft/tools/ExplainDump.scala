package graft.tools

/** The plan-evidence dumper: write `.explain("formatted")` of named
  * declared queries to `plans/<tag>/<query>_<suffix>.txt` so optimization
  * claims ("2 Exchange → 1", "window → partial agg") are checkable against
  * committed artifacts without running Spark.
  *
  * Usage: runMain graft.tools.ExplainDump <tag> <suffix> <query...>
  *   e.g. runMain graft.tools.ExplainDump r21 before q_dedup_containment_lshe
  *
  * The session is [[graft.GraftSession]]'s, the one Bench times, so the
  * dumped plan is the plan the bench runs; sfDir comes from
  * SPARK_GRAFT_SF_DIR like Bench.
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val tag = args(0)
    val suffix = args(1)
    val names = args.drop(2).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.create(logLevel = "ERROR")
    val dir = java.nio.file.Paths.get(s"plans/$tag")
    java.nio.file.Files.createDirectories(dir)
    for (n <- names) {
      val df = graft.SparkEntry.queries(n)(spark, sfDir)
      val out = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(dir.resolve(s"${n}_$suffix.txt"), out)
      println(s"[explain] wrote plans/$tag/${n}_$suffix.txt (${out.length} chars)")
    }
    spark.stop()
  }
}
