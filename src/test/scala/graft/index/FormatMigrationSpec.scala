package graft.index

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.analyze.DefaultAnalyzer
import graft.embed.HashingEmbedder
import graft.search.{HybridSearch, ServeSearch}

/** An artifact of an older layout — no `format_version` row, postings
  * without `dl`, IVF lists without `assign_dist`, PQ codes without
  * `err_sum`, a segment without `dead_ids` — is refused by load and by the
  * append merge, and `graft compact` migrates it: afterwards it serves
  * exactly what a fresh build of the same corpus serves. */
class FormatMigrationSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val he = new HashingEmbedder(8)
  private def write(dir: String, name: String, text: String): Unit =
    Files.writeString(Paths.get(dir, name), text)
  private def opts(scan: String, clear: Boolean) = IndexJob.Options(clear = clear,
    mergeMode = "append", trimPathPrefix = Some(s"file:$scan"),
    annClusters = 2, annIters = 2, pqCodes = 2, pqIters = 2)

  private val base = Seq(
    "a.md" -> "# A\n\nspark merges sorted runs fast\n",
    "b.md" -> "# B\n\nvector cosine search over a dense embedding space\n",
    "d.md" -> "# D\n\nduck database tables store rows and windows\n",
    "e.md" -> "# E\n\nstreams of rows merge into sorted windows\n")
  private val delta = Seq(
    "a.md" -> "# A v2\n\nreplaced body about spark hash joins and merge tables\n",
    "c.md" -> "# C\n\nhybrid ranking fuses dense vector scores with spark rows\n")

  private def tree(files: Seq[(String, String)]): String = {
    val dir = Files.createTempDirectory("fmt-docs").toString
    files.foreach { case (n, t) => write(dir, n, t) }
    dir
  }

  /** Rewrite a table in place, without the given column. */
  private def dropColumn(dir: String, column: String): Unit = {
    val df = spark.read.parquet(dir)
    val kept = df.drop(column).localCheckpoint(true)
    val w = kept.write.mode("overwrite")
    (if (kept.columns.contains("cluster")) w.partitionBy("cluster") else w).parquet(dir)
  }

  private val queries = Seq("spark merges", "hash joins tables", "dense vector ranking",
    "sorted windows rows")
  private val modes = Seq(
    "exact" -> HybridSearch.Options(rerank = false),
    "ivf" -> HybridSearch.Options(rerank = false, annNprobe = 2),
    "pq" -> HybridSearch.Options(rerank = false, annPqShortlist = 100),
    "ivf+pq" -> HybridSearch.Options(rerank = false, annNprobe = 2, annPqShortlist = 100))

  /** Every (mode, query) answer of the served (cache-pinned) artifact. */
  private def served(idx: String): Seq[Seq[Any]] = {
    val index = IndexData.load(spark, idx).cached()
    try modes.flatMap { case (_, o) =>
      queries.map(q => ServeSearch.search(index, q, DefaultAnalyzer, Some(he), None, o)
        .collect().toSeq.map(_.toSeq))
    }
    finally index.uncacheAll(blocking = true)
  }

  test("an older-format artifact is refused by load and append, and compact " +
      "migrates it to serve exactly what a fresh build serves") {
    val idx = Files.createTempDirectory("fmt-idx").toString + "/idx"
    val baseDocs = tree(base)
    IndexJob.run(spark, Seq(baseDocs), idx, he, opts = opts(baseDocs, clear = true))
    val deltaDocs = tree(delta)
    IndexJob.run(spark, Seq(deltaDocs), idx, he, opts = opts(deltaDocs, clear = false))
    val before = IndexData.load(spark, idx)
    assert(before.pendingSegments == 1)
    assert(before.setting(IndexData.FormatVersionKey).contains(IndexData.FormatVersion.toString))
    assert(before.ann.isDefined && before.pq.isDefined)

    // downgrade to the layouts that predate the version stamp
    val seg = s"$idx/${IndexData.SegDir}/1"
    val settings = spark.read.parquet(s"$idx/settings")
      .filter(col("key") =!= IndexData.FormatVersionKey).localCheckpoint(true)
    settings.coalesce(1).write.mode("overwrite").parquet(s"$idx/settings")
    Seq(idx, seg).foreach { root =>
      dropColumn(s"$root/postings", "dl")
      dropColumn(s"$root/${AnnIndex.PostingsDir}", "assign_dist")
      dropColumn(s"$root/${PqIndex.CodesDir}", "err_sum")
    }
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new org.apache.hadoop.fs.Path(seg, "dead_ids"), true))

    val refused = intercept[IndexData.UnsupportedFormat](IndexData.load(spark, idx))
    assert(refused.getMessage.contains(s"graft compact --db $idx"), refused.getMessage)
    assert(refused.getMessage.contains(s"no ${IndexData.FormatVersionKey}"), refused.getMessage)
    val more = tree(Seq("f.md" -> "# F\n\nlate arrival about probe pruning\n"))
    intercept[IndexData.UnsupportedFormat] {
      IndexJob.run(spark, Seq(more), idx, he, opts = opts(more, clear = false))
    }
    def segNames = fs.listStatus(new org.apache.hadoop.fs.Path(idx, IndexData.SegDir))
      .map(_.getPath.getName).toSeq
    assert(segNames == Seq("1"), s"a refused append left ${segNames.mkString(", ")}")

    val compacted = IndexJob.compact(spark, idx)
    assert(compacted.pendingSegments == 0)
    assert(compacted.setting(IndexData.FormatVersionKey)
      .contains(IndexData.FormatVersion.toString))
    val migrated = served(idx)

    // a fresh build of the live corpus, at the same path, same trim rule
    fs.delete(new org.apache.hadoop.fs.Path(idx), true)
    val liveDocs = tree(base.toMap.++(delta).toSeq.sortBy(_._1))
    IndexJob.run(spark, Seq(liveDocs), idx, he, opts = opts(liveDocs, clear = true))
    val fresh = served(idx)
    assert(fresh.exists(_.nonEmpty))
    modes.flatMap(m => queries.map(q => s"${m._1}: $q")).zip(migrated.zip(fresh))
      .foreach { case (label, (m, f)) => assert(m == f, s"$label\n  migrated=$m\n  fresh   =$f") }
  }
}
