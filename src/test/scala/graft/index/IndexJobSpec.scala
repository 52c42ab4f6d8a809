package graft.index

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.analyze.DefaultAnalyzer
import graft.embed.HashingEmbedder
import graft.search.HybridSearch

/** The §7.2 minimum end-to-end slice: INDEX a markdown tree with the regex
  * analyzer + hashing embedder, then SEARCH it and get the right chunk back. */
class IndexJobSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("index markdown directory then search it end-to-end") {
    val root = Files.createTempDirectory("graft-idx").toFile
    val docs = new java.io.File(root, "docs"); docs.mkdirs()
    val sub = new java.io.File(docs, "sub"); sub.mkdirs()
    Files.writeString(new java.io.File(docs, "a.md").toPath,
      """---
        |title: a
        |---
        |# Search Engines
        |
        |## Full Text
        |BM25 ranks documents by term frequency.
        |
        |## Vectors
        |Embeddings capture semantic similarity.
        |""".stripMargin)
    Files.writeString(new java.io.File(sub, "b.md").toPath,
      "# Cooking\n\nRecipes involve ingredients and heat.\n")
    Files.writeString(new java.io.File(sub, "ignore.txt").toPath, "not markdown")

    val indexDir = new java.io.File(root, "index").getAbsolutePath
    val embedder = new HashingEmbedder(32)
    val index = IndexJob.run(spark, Seq(docs.getAbsolutePath), indexDir, embedder,
      opts = IndexJob.Options(trimPathPrefix = Some("file:" + docs.getAbsolutePath)))

    // artifact shape
    val documents = index.documents.collect()
    assert(documents.length == 4) // 3 sections in a.md + 1 in b.md
    val paths = documents.map(_.getAs[String]("file_path")).toSet
    assert(paths == Set("a.md", "sub/b.md")) // .txt ignored, prefix trimmed
    val headers = documents.map(_.getAs[String]("header_path")).toSet
    assert(headers.contains("Search Engines/Full Text"))
    assert(index.setting("embedding_model").contains(embedder.name))
    assert(index.setting("embedding_dim").contains("32"))
    // front matter stripped but line numbers preserved: '# Search Engines'
    // is line 4 of the original file
    val first = documents.filter(_.getAs[String]("header_path") == "Search Engines")
    assert(first.head.getAs[Int]("line_start") == 4)

    // stats exist and are consistent
    assert(index.stats.collect().head.getAs[Long]("n_docs") == 4L)

    // search finds the right chunk, hybrid end-to-end
    val hits = HybridSearch.search(index, "BM25 term frequency ranking",
      analyzer = DefaultAnalyzer,
      embedder = Some(embedder),
      reranker = None,
      opts = HybridSearch.Options(k = 2)).collect()
    assert(hits.nonEmpty)
    assert(hits.head.getAs[String]("header_path") == "Search Engines/Full Text")

    // incremental re-index (clear=false): re-indexed path replaced, new file
    // added, untouched file kept (S4 semantics)
    Files.writeString(new java.io.File(docs, "a.md").toPath,
      "# Rewritten\n\nNow only one section about gardening.\n")
    Files.writeString(new java.io.File(docs, "c.md").toPath,
      "# New File\n\nFresh content arrives.\n")
    val index2 = IndexJob.run(spark, Seq(docs.getAbsolutePath), indexDir, embedder,
      opts = IndexJob.Options(clear = false,
        trimPathPrefix = Some("file:" + docs.getAbsolutePath)))
    val docs2 = index2.documents.collect()
    val byPath = docs2.groupBy(_.getAs[String]("file_path"))
    assert(byPath.keySet == Set("a.md", "c.md", "sub/b.md"))
    assert(byPath("a.md").length == 1) // replaced, old 3 sections gone
    assert(byPath("a.md").head.getAs[String]("header_path") == "Rewritten")
    assert(index2.stats.collect().head.getAs[Long]("n_docs") == 3L)

    // S5: settings upsert is keyed replace AND persists back to the same dir
    // (the lineage reads the path being overwritten — regression guard)
    val upserted = index2.upsertSetting("embedding_model", "other")
      .upsertSetting("new_key", "v1")
    assert(upserted.setting("embedding_model").contains("other"))
    assert(upserted.setting("new_key").contains("v1"))
    assert(upserted.settings.count() == index2.settings.count() + 1)
    upserted.settings.coalesce(1).write.mode("overwrite")
      .parquet(s"$indexDir/settings")
    val reloaded = graft.index.IndexData.load(spark, indexDir)
    assert(reloaded.setting("new_key").contains("v1"))
  }

  test("settings are a per-instance snapshot: upsertSetting returns a copy " +
      "with the new value and the original keeps its own") {
    val spark2 = spark
    import spark2.implicits._
    val original = IndexData.fromDocuments(
      Seq(("d1", Seq("a", "b"))).toDF("doc_id", "tokens"),
      Seq(graft.core.Schemas.Setting("analyzer", "default")).toDF())
    assert(original.setting("analyzer").contains("default"))
    val updated = original.upsertSetting("analyzer", "bigram")
      .upsertSetting("new_key", "v1")
    assert(updated.setting("analyzer").contains("bigram"))
    assert(updated.setting("new_key").contains("v1"))
    assert(original.setting("analyzer").contains("default"))
    assert(original.setting("new_key").isEmpty)
    assert(original.settingsMap == Map("analyzer" -> "default"))
  }

  test("runRows indexes a row corpus: one row = one chunk, searchable end-to-end") {
    val spark2 = spark
    import spark2.implicits._
    val rows = Seq(
      (1L, "alpha beta gamma spark merging tables", "web/a"),
      (2L, "delta epsilon different content entirely", null.asInstanceOf[String]))
      .toDF("doc_id", "text", "source")
    val root = Files.createTempDirectory("graft-rows").toFile
    val index = IndexJob.runRows(spark, rows,
      new java.io.File(root, "idx").getAbsolutePath, new HashingEmbedder(16))
    val docs = index.documents.orderBy("file_path").collect()
    assert(docs.length == 2)
    // path = <source-or-"doc">:<doc_id> — the doc_id is always in the path
    // (source is a SHARED provenance label; a source-only path would merge
    // sibling docs into one replace-by-path identity)
    assert(docs.map(_.getAs[String]("file_path")).toSet == Set("web/a:1", "doc:2"))
    assert(docs.forall(_.getAs[String]("header_path") == ""))
    val hits = HybridSearch.search(index, "alpha spark tables",
      analyzer = DefaultAnalyzer, embedder = Some(new HashingEmbedder(16)),
      reranker = None, opts = HybridSearch.Options(k = 1)).collect()
    assert(hits.head.getAs[String]("file_path") == "web/a:1")
  }

  test("a PLAIN --trim-path-prefix strips the file:-schemed scan paths") {
    // the CLI-user form: no `file:` scheme on the prefix — must not
    // silently no-op against binaryFile's `file:/...` URIs
    val root = Files.createTempDirectory("graft-trim").toFile
    val docs = new java.io.File(root, "docs"); docs.mkdirs()
    Files.writeString(new java.io.File(docs, "plain.md").toPath,
      "# T\n\nsome content here.\n")
    val index = IndexJob.run(spark, Seq(docs.getAbsolutePath),
      new java.io.File(root, "idx").getAbsolutePath, new HashingEmbedder(16),
      opts = IndexJob.Options(trimPathPrefix = Some(docs.getAbsolutePath)))
    val paths = index.documents.collect().map(_.getAs[String]("file_path")).toSet
    assert(paths == Set("plain.md"), paths)
  }
}
