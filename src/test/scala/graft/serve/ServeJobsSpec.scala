package graft.serve

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.{Cli, TestSpark}
import graft.TestFixtures.servingLoad
import graft.core.Schemas.Setting
import graft.embed.HashingEmbedder
import graft.index.{IndexData, IndexJob}
import graft.util.InputMetrics

/** The served request's Spark job budget, pinned as job COUNTS (never
  * wall-clock): a warm `Cli.runSearch` over a cache-pinned artifact answers
  * its BM25 leg, vector leg (exact, IVF, PQ) and candidate fetch from the
  * instance's driver-resident `ServedIndex` — no Spark job at all. Only a
  * positions restriction runs on Spark: its probe plus one broadcast job
  * per term join, in the candidate restriction and — near-first ranking —
  * in the BM25 leg too. Analyzer and embedder resolution from the
  * artifact settings must add none: the settings are a per-instance
  * snapshot and the embedder is resolved once per loaded artifact. A
  * disk-backed (`--no-cache`) request serves the Spark legs off parquet,
  * with the corpus stats row and the seen terms' dfs memoized on the
  * instance: only a term the instance has never looked up costs a job. */
class ServeJobsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val dim = 8

  /** An on-disk artifact with IVF + PQ sidecars, loaded the way
    * `graft serve --cache` loads it (cache pins + served BM25 postings). */
  private lazy val (dir, index) = {
    val he = new HashingEmbedder(dim)
    val contents = Seq(
      "d1" -> "spark runs fast and spark scales",
      "d2" -> "duck db is a small database",
      "d3" -> "spark spark spark joins tables",
      "d4" -> "unrelated words entirely here",
      "d5" -> "fast joins merge sorted tables",
      "d6" -> "spark streams merge windows",
      "d7" -> "database tables store rows",
      "d8" -> "rows and windows and streams")
    val df = contents.map { case (id, text) =>
        (id, text, text.split(" ").toSeq, he.embed(Seq(text)).head) }
      .toDF("doc_id", "content", "tokens", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
      .withColumn("file_path", concat(lit("docs/"), col("doc_id")))
      .withColumn("header_path", lit(""))
      .withColumn("line_start", lit(1)).withColumn("line_end", lit(1))
    val tmp = java.nio.file.Files.createTempDirectory("servejobs").toString
    IndexData.write(df, Seq(Setting("embedding_model", he.name),
      Setting("embedding_dim", dim.toString),
      Setting("analyzer", "whitespace")).toDF(), tmp)
    IndexJob.withPq(IndexJob.withAnn(IndexData.load(spark, tmp), tmp,
      annClusters = 2, annIters = 2), tmp, pqCodes = 2)
    (tmp, servingLoad(spark, tmp))
  }

  /** Jobs scheduled by one request, after a warm-up request of the same
    * mode (first-touch work — settings snapshot, embedder resolution,
    * centroid collect, the served documents, IVF and PQ arrays — is per
    * artifact, not per request). Runs in the
    * online posture `graft serve` sets (AQE off: under AQE the BM25 leg's
    * shuffle map stage would run as a job of its own). */
  private def jobsPerRequest(ann: (Int, Int), phrase: Boolean = false,
      near: Option[String] = None,
      warm: String = "spark joins tables", query: String = "fast merge windows",
      served: IndexData = index, db: String = dir): Long = {
    def run(q: String) = Cli.runSearch(served, db, q, 3, rerank = true,
      None, None, ann, phrase = phrase,
      nearRaw = near, nearWindow = near.map(_ => 2))
    val aqeWas = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      assert(run(warm).nonEmpty)
      val (hits, jobs) = InputMetrics.jobCount(spark)(run(query))
      assert(hits.nonEmpty)
      jobs
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
  }

  test("a warm served request schedules no Spark job for exact, IVF and PQ") {
    assert(index.served.isDefined, "a cache-pinned load is served from the driver")
    assert(jobsPerRequest((0, 0)) == 0, "exact")
    assert(jobsPerRequest((2, 0)) == 0, "ivf")
    assert(jobsPerRequest((0, 4)) == 0, "pq")
    assert(jobsPerRequest((2, 4)) == 0, "ivf+pq")
  }

  test("a two-term phrase filter adds 2 jobs (positions probe + the " +
      "broadcast side of its term join); a two-term near request adds 4 " +
      "(the same probe in the BM25 leg and in the candidate restriction)") {
    assert(jobsPerRequest((0, 0), phrase = true,
      warm = "spark joins", query = "merge sorted") == 2, "exact + phrase")
    assert(jobsPerRequest((0, 0), near = Some("merge,tables"),
      warm = "spark joins tables", query = "fast merge tables") == 4, "exact + near")
  }

  test("disk-backed serving (--no-cache) keeps its stats rows and term dfs " +
      "per loaded instance: a repeated-term request schedules 5 jobs for exact " +
      "and IVF, 6 for PQ; a never-seen term adds its one df lookup, and its " +
      "repeat adds none") {
    // a copy of the artifact: Spark's CacheManager matches cached plans by
    // path, so a plain load of `dir` would read the cache pins of `index`
    val diskDir = java.nio.file.Files.createTempDirectory("servejobs-disk").toString
    org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(dir),
      new java.io.File(diskDir))
    val disk = Cli.serveReady(spark, diskDir, Some(false))
    assert(disk.postings.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
    assert(disk.served.isEmpty, "disk-backed serving takes the Spark legs")
    def jobs(ann: (Int, Int), warm: String, query: String) =
      jobsPerRequest(ann, warm = warm, query = query, served = disk, db = diskDir)
    val q = "fast merge windows"
    assert(jobs((0, 0), q, q) == 5, "exact")
    assert(jobs((2, 0), q, q) == 5, "ivf")
    assert(jobs((0, 4), q, q) == 6, "pq")
    // "rows" is in the corpus, "qqq" is not: each is looked up once, and an
    // absent term is remembered as absent
    Seq("rows", "qqq").foreach { t =>
      assert(jobs((0, 0), q, s"$q $t") == 6, s"first request with '$t'")
      assert(jobs((0, 0), s"$q $t", s"$q $t") == 5, s"repeat with '$t'")
    }
  }

  test("a tfidf artifact loads its model once per loaded artifact; a " +
      "missing model fails every request with its named error") {
    val docs = java.nio.file.Files.createTempDirectory("servejobs-docs")
    Seq("a" -> "spark joins tables fast", "b" -> "merge sorted windows",
        "c" -> "database rows and tables").foreach { case (n, text) =>
      java.nio.file.Files.writeString(docs.resolve(s"$n.md"), s"# $n\n\n$text\n")
    }
    val db = java.nio.file.Files.createTempDirectory("servejobs-tfidf").toString + "/idx"
    IndexJob.runTfIdf(spark, Seq(docs.toString), db, dim = 16)
    val served = servingLoad(spark, db)
    assert(served.setting("embedding_model").exists(_.startsWith("tfidf-")))
    assert(jobsPerRequest((0, 0), warm = "spark tables", query = "merge windows",
      served = served, db = db) == 0, "model load must not repeat per request")
    served.uncacheAll()

    val fs = new org.apache.hadoop.fs.Path(db)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(db, "tfidf_model"), true)
    val broken = IndexData.load(spark, db)
    (1 to 2).foreach { i =>
      val e = intercept[org.apache.spark.sql.AnalysisException](
        Cli.runSearch(broken, db, "spark", 3, rerank = true, None, None))
      assert(e.getMessage.contains("tfidf_model"), s"request $i: ${e.getMessage}")
    }
  }

  test("setting(k) schedules no job after the first lookup on an instance") {
    val fresh = IndexData.load(spark, dir)
    val (first, firstJobs) = InputMetrics.jobCount(spark)(fresh.setting("analyzer"))
    assert(first.contains("whitespace"))
    // load took the snapshot: its format check reads format_version there
    assert(firstJobs == 0)
    val (again, jobs) = InputMetrics.jobCount(spark) {
      Seq("analyzer", "embedding_model", "embedding_dim", "absent_key")
        .map(fresh.setting)
    }
    assert(again == Seq(Some("whitespace"), Some(s"hashing-bow-$dim"),
      Some(dim.toString), None))
    assert(jobs == 0)
  }
}
