package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared deterministic fixtures for suites that need CONTROLLED geometry
  * (the driver testdata embeddings are near-uniform — hostile to anything
  * that needs clusters to exist). */
object TestFixtures {

  /** An artifact loaded the way `graft serve --cache` loads it: cache pins
    * plus the served BM25 postings, built before the first request. */
  def servingLoad(spark: SparkSession, dir: String): graft.index.IndexData =
    Cli.serveReady(spark, dir, Some(true))

  /** Documents-schema corpus where doc i sits near unit axis `axisOf(i)` of
    * a 16-dim space, plus small id-derived noise (k-means has real work; no
    * two vectors tie). Used by the sidecar drift-contract specs: a batch on
    * DIFFERENT axes is a measurably shifted distribution. */
  def clusteredDocs(spark: SparkSession, ids: Seq[String],
      axisOf: Int => Int): DataFrame = {
    import spark.implicits._
    val rows = ids.zipWithIndex.map { case (id, i) =>
      val ax = axisOf(i)
      val v = Array.tabulate(16) { j =>
        (if (j == ax) 1.0f else 0.0f) + 0.05f * (((i * 7 + j * 13) % 11) - 5) / 5.0f
      }.toSeq
      (id, id, "", 1, 1, s"doc $id", Seq("doc", id), v)
    }
    rows.toDF("doc_id", "file_path", "header_path", "line_start", "line_end",
      "content", "tokens", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
  }
}
