package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional extra args: restrict to named queries (local iteration)
    val only = args.drop(2).toSet
    val spark = GraftSession.create()
    new java.io.File(outDir).mkdirs()
    // An erroring query produces no parquet dir and would otherwise VANISH
    // from the downstream compare (round 8: 5 broken queries silently absent
    // from CORRECTNESS_r08.json, file still looked all-green). Record every
    // failure and the full declared manifest so "ran" vs "declared" is
    // auditable from the dump alone.
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val selected = SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only.contains(name) }
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failures(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
      }
    }
    def q(s: String): String = graft.util.Json.str(s)
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Files.writeString(Paths.get(s"$outDir/manifest.json"),
      selected.keys.toSeq.sorted.map(q).mkString("[", ",", "]"))
    Files.writeString(Paths.get(s"$outDir/errors.json"),
      failures.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    if (failures.nonEmpty)
      System.err.println(s"[verify] ${failures.size}/${selected.size} queries FAILED: " +
        failures.keys.mkString(", "))
    spark.stop()
  }
}
