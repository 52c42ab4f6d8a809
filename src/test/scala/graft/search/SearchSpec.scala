package graft.search

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.core.Schemas.Setting
import graft.functions.VectorOps
import graft.index.IndexData

class SearchSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def corpus = Seq(
    // (doc_id, content, tokens, embedding)
    ("d1", "spark runs fast", Seq("spark", "runs", "fast"), Array(1f, 0f, 0f)),
    ("d2", "duck db is a database", Seq("duck", "db", "is", "a", "database"), Array(0f, 1f, 0f)),
    ("d3", "spark spark spark", Seq("spark", "spark", "spark"), Array(0.6f, 0.8f, 0f)),
    ("d4", "unrelated words entirely", Seq("unrelated", "words", "entirely"), Array(0f, 0f, 1f)))
    .toDF("doc_id", "content", "tokens", "embedding")
    .withColumn("file_path", concat(lit("docs/"), col("doc_id")))
    .withColumn("header_path", lit(""))
    .withColumn("line_start", lit(1)).withColumn("line_end", lit(1))

  private def index = IndexData.fromDocuments(corpus,
    Seq(Setting("embedding_model", "test")).toDF())

  test("BM25 matches the Okapi formula computed by hand") {
    val scored = Bm25.scores(Seq("spark"), index.postings, index.termdf, index.stats)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // corpus: N=4 docs, df(spark)=2, dl = [3,5,3,3], avgdl = 3.5
    val idf = math.log((4 - 2 + 0.5) / (2 + 0.5) + 1.0)
    def ts(tf: Int, dl: Int): Double =
      idf * tf * 2.2 / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / 3.5))
    assert(math.abs(scored("d1") - ts(1, 3)) < 1e-12)
    assert(math.abs(scored("d3") - ts(3, 3)) < 1e-12)
    assert(!scored.contains("d2") && !scored.contains("d4"))
  }

  test("dl-carrying postings score bit-identically to the doclen join, " +
      "and skip the join in the plan") {
    // the denormalized-dl layout (Bm25.postings withDl) must be a pure
    // physical change: same expression over the same size(tokens) source,
    // so every score double is bit-equal to the three-table join over
    // dl-less postings, written out here as the oracle
    val terms = Seq("spark", "fast")
    val withDl = Bm25.scores(terms, index.postings, index.termdf, index.stats)
    val joined = index.postings.drop("dl")
      .filter(col("term").isin(terms: _*))
      .join(broadcast(index.termdf.filter(col("term").isin(terms: _*))), "term")
      .join(index.doclen, "doc_id")
      .crossJoin(broadcast(index.stats))
      .groupBy("doc_id")
      .agg(sum(Bm25.termScore(col("tf"), col("df"), col("dl"),
        col("n_docs"), col("avgdl"))).as("score"))
    val a = withDl.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val b = joined.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(a == b, s"withDl=$a joined=$b")
    assert(a.keySet == Set("d1", "d3"))
    // and the dl path genuinely has no doclen join: exactly one join (the
    // broadcast termdf attach) vs the oracle's two
    def joins(df: org.apache.spark.sql.DataFrame): Int =
      "Join".r.findAllIn(df.queryExecution.optimizedPlan.toString).size
    assert(joins(withDl) < joins(joined),
      s"dl path joins=${joins(withDl)} doclen join=${joins(joined)}")
  }

  test("FTS probe pushes In(term) to the postings parquet scan") {
    // the serving path's inverted-index probe semantics (reference
    // `src/db.py:143-150`): a query reads only its own terms' posting
    // lists. The isin literal must reach the parquet scan as a pushed
    // filter — with the term-sorted file layout that is what lets parquet
    // row-group stats prune the corpus-proportional table at 100 TB.
    val tmp = java.nio.file.Files.createTempDirectory("fts-prune").toString
    IndexData.write(index.documents, index.settings, tmp)
    val loaded = IndexData.load(spark, tmp)
    val scored = Bm25.scores(Seq("spark", "fast"), loaded.postings,
      loaded.termdf, loaded.stats)
    val p = scored.queryExecution.executedPlan.toString
    val pushed = "PushedFilters: \\[[^\\]]*".r.findAllIn(p).toSeq
    assert(pushed.exists(f => f.contains("In(term, [fast,spark") ||
      f.contains("In(term, [spark,fast")),
      s"term IN-list not pushed to a parquet scan:\n${pushed.mkString("\n")}\n${p.take(1500)}")
    // and the pruned read still computes the exact same scores as the
    // in-memory stats pipeline
    val onDisk = scored.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val inMem = Bm25.scores(Seq("spark", "fast"), index.postings, index.termdf,
      index.stats)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(onDisk == inMem, s"disk=$onDisk mem=$inMem")
    assert(onDisk.keySet == Set("d1", "d3"))
  }

  test("FTS probe pushes In(term) through the segmented live view's union") {
    // after an append-merge the postings live view is base ∪ segment with a
    // broadcast tombstone mask — the term IN-list must still push through
    // the union into EVERY parquet scan, or segment reads stay unpruned
    val tmp = java.nio.file.Files.createTempDirectory("fts-prune-seg").toString
    val settingsDf = Seq(Setting("embedding_model", "test")).toDF()
    // IndexData.write: stats rows carry file_path (append-merge layout)
    IndexData.write(corpus, settingsDf, tmp)
    val delta = Seq(("d5", "spark again here", Seq("spark", "again", "here"),
        Array(0.5f, 0.5f, 0f)))
      .toDF("doc_id", "content", "tokens", "embedding")
      .withColumn("file_path", concat(lit("docs/"), col("doc_id")))
      .withColumn("header_path", lit(""))
      .withColumn("line_start", lit(1)).withColumn("line_end", lit(1))
    graft.index.IndexJob.appendMerge(spark, delta, settingsDf, tmp)
    val live = IndexData.load(spark, tmp)
    assert(live.pendingSegments == 1)
    val scored = Bm25.scores(Seq("spark", "fast"), live.postings,
      live.termdf, live.stats)
    val p = scored.queryExecution.executedPlan.toString
    val postingsScans = "PushedFilters: \\[[^\\]]*".r.findAllIn(p).toSeq
      .filter(f => f.contains("In(term"))
    assert(postingsScans.size >= 2,
      s"expected the In(term) push on base AND segment scans, got ${postingsScans.size}:\n${p.take(2000)}")
    val got = scored.collect().map(r => r.getString(0)).toSet
    assert(got == Set("d1", "d3", "d5"), got.mkString(","))
  }

  test("cosine distance matches known geometry") {
    val df = Seq((Array(1f, 0f, 0f), Array(0.6f, 0.8f, 0f))).toDF("a", "b")
      .select(VectorOps.cosineDist($"a", $"b").as("d"))
    val d = df.head().getDouble(0)
    assert(math.abs(d - (1.0 - 0.6)) < 1e-6) // unit vectors: 1 - dot
  }

  test("hybridScore implements the reference fusion rule") {
    val rows = Seq(
      (Some(1.0), Some(0.5)), (Some(1.0), None), (None, Some(0.5)),
      (None: Option[Double], None: Option[Double]))
      .toDF("fts", "vss")
      .select(HybridSearch.hybridScore($"fts", $"vss").as("s"))
      .collect().map(_.getDouble(0)).toSeq
    assert(rows == Seq(0.75, 0.8, 0.4, 0.0))
  }

  test("rrf fusion: rank-based scores, missing legs contribute zero, search works") {
    val rows = Seq((Some(1L), Some(2L)), (Some(1L), None), (None, Some(3L)))
      .toDF("fr", "vr")
      .select(HybridSearch.rrfScore($"fr", $"vr").as("s"))
      .collect().map(_.getDouble(0)).toSeq
    assert(math.abs(rows(0) - (1.0 / 61 + 1.0 / 62)) < 1e-12)
    assert(math.abs(rows(1) - 1.0 / 61) < 1e-12)
    assert(math.abs(rows(2) - 1.0 / 63) < 1e-12)

    // e2e with rrf: the top doc must hit BOTH legs (rank-sum dominance) and
    // every score stays in the rrf range (0, 2/61]
    val hits = HybridSearch.search(index, "spark database",
      embedder = Some(new graft.embed.LookupEmbedder(
        Map("spark database" -> Array(1f, 0f, 0f)))),
      reranker = None,
      opts = HybridSearch.Options(k = 3, rerank = false,
        fusion = "rrf", scoreThreshold = 0.001))
      .select("doc_id", "score").collect()
    assert(hits.nonEmpty)
    assert(hits.forall(r => r.getDouble(1) > 0 && r.getDouble(1) <= 2.0 / 61 + 1e-12))
    // rank math, verifiable by hand: fts ranks (idf-driven) d3=1, d2=2,
    // d1=3; vss ranks d1=1, d3=2. So d3 = 1/61+1/62 beats d1 = 1/63+1/61.
    assert(hits.map(_.getString(0)).take(2).toSeq == Seq("d3", "d1"), hits.mkString(","))
  }

  test("search end-to-end: fusion, candidate-set semantics, path rewrite, k") {
    val hits = HybridSearch.search(
      index, "spark database",
      analyzer = graft.analyze.WhitespaceAnalyzer,
      embedder = Some(new graft.embed.FixedVectorEmbedder(Array(1f, 0f, 0f))),
      reranker = None,
      opts = HybridSearch.Options(k = 3,
        removePathPrefix = Some("docs"), addPathPrefix = Some("new"))).collect()
    assert(hits.nonEmpty && hits.length <= 3)
    // Reference-fusion quirk (SURVEY.md §2.9): the hybrid score AVERAGES a
    // BM25 score with a cosine DISTANCE, so d1's perfect vector match
    // (distance 0) halves its mean, while FTS-only d2 keeps 0.8×BM25 with
    // the rarer term 'database' — d2 ranks first, d1 must still be present.
    assert(hits.head.getAs[String]("doc_id") == "d2")
    val d1 = hits.find(_.getAs[String]("doc_id") == "d1").get
    assert(d1.getAs[String]("file_path") == "new/d1")
    assert(d1.getAs[Double]("vss_score") == 0.0)
    // scores sorted descending
    val scores = hits.map(_.getAs[Double]("score")).toSeq
    assert(scores == scores.sorted.reverse)
  }

  test("path rewrite strips a plain prefix from file:-schemed stored paths") {
    // binaryFile scans store `file:/...` URIs; a user's plain filesystem
    // prefix must still strip them (the silent-no-op regression)
    import spark.implicits._
    val out = Seq("file:/data/docs/a.md", "/data/docs/b.md", "/other/c.md")
      .toDF("p")
      .select(HybridSearch.rewritePath($"p", Some("/data/docs"), Some("x")).as("r"))
      .as[String].collect().toSeq
    // the UNMATCHED absolute path passes through the add leg unchanged
    // (os.path.join semantics, round 18) — the old pin "x//other/c.md"
    // was the mangled concat the reference never produces
    assert(out == Seq("x/a.md", "x/b.md", "/other/c.md"))
  }

  test("search degrades to FTS-only without an embedder (reference VSS fallback)") {
    val hits = HybridSearch.search(index, "spark",
      analyzer = graft.analyze.WhitespaceAnalyzer,
      embedder = None, reranker = None,
      opts = HybridSearch.Options(k = 5)).collect()
    assert(hits.map(_.getAs[String]("doc_id")).toSet == Set("d1", "d3"))
    hits.foreach(r => assert(r.isNullAt(r.fieldIndex("vss_score"))))
  }

  test("throwing reranker degrades to the pre-rerank ordering, not an exception") {
    val throwing = new graft.rerank.Reranker {
      def name: String = "throwing"
      def score(query: String, texts: Seq[String]): Seq[Double] =
        throw new RuntimeException("model unavailable")
    }
    val base = HybridSearch.search(index, "spark database",
      analyzer = graft.analyze.WhitespaceAnalyzer,
      embedder = None, reranker = None,
      opts = HybridSearch.Options(k = 4)).collect()
    val degraded = HybridSearch.search(index, "spark database",
      analyzer = graft.analyze.WhitespaceAnalyzer,
      embedder = None, reranker = Some(throwing),
      opts = HybridSearch.Options(k = 4)).collect()
    // reference `src/searcher.py:296-310`: rerank failure restores
    // original_score — same docs, same scores, same order as no-rerank
    assert(degraded.map(_.getAs[String]("doc_id")).toSeq ==
      base.map(_.getAs[String]("doc_id")).toSeq)
    assert(degraded.map(_.getAs[Double]("score")).toSeq ==
      base.map(_.getAs[Double]("score")).toSeq)
  }

  test("phrase search keeps only candidates with the adjacent in-order run") {
    // "spark runs" occurs adjacently only in d1; d3 has spark without runs
    val hits = HybridSearch.search(index, "spark runs",
      analyzer = graft.analyze.WhitespaceAnalyzer,
      embedder = None, reranker = None,
      opts = HybridSearch.Options(k = 5, rerank = false, phraseOnly = true))
      .select("doc_id").collect().map(_.getString(0)).toSeq
    assert(hits == Seq("d1"), hits.mkString(","))
    // without the flag, bag-of-words BM25 also surfaces d3
    val loose = HybridSearch.search(index, "spark runs",
      analyzer = graft.analyze.WhitespaceAnalyzer,
      embedder = None, reranker = None,
      opts = HybridSearch.Options(k = 5, rerank = false))
      .select("doc_id").collect().map(_.getString(0)).toSet
    assert(loose.contains("d1") && loose.contains("d3"))
    // predicate unit cases: order matters, runs longer than the doc don't
    val df = Seq(
      (Seq("a", "b", "c"), true), (Seq("c", "a", "b"), true),
      (Seq("b", "a", "c"), false), (Seq("a"), false))
      .toDF("tokens", "expected")
      .withColumn("got", HybridSearch.phrasePredicate(col("tokens"), Seq("a", "b")))
    assert(df.filter(col("got") =!= col("expected")).count() == 0)
  }

  test("zero-norm query embedding degrades to BM25-only — no NaN scores") {
    // an all-OOV query embeds to the zero vector (TfIdf with all-idf-0
    // terms, w2v with unseen vocab); cosine against it is 0/0 = NaN, and
    // Spark sorts NaN ABOVE every real double, so without the guard NaN
    // rows pass the threshold and rank FIRST (found by driving the CLI)
    final class ZeroEmbedder extends graft.embed.Embedder {
      def dim = 3
      def name = "zero"
      def embed(texts: Seq[String]): Seq[Array[Float]] =
        texts.map(_ => Array(0f, 0f, 0f))
    }
    val hits = HybridSearch.search(index, "spark",
      analyzer = graft.analyze.WhitespaceAnalyzer,
      embedder = Some(new ZeroEmbedder),
      opts = HybridSearch.Options(k = 3, rerank = false)).collect()
    assert(hits.nonEmpty, "BM25-only degradation returned nothing")
    hits.foreach { r =>
      assert(!r.getAs[Double]("score").isNaN, "NaN hybrid score leaked")
      assert(r.isNullAt(r.fieldIndex("vss_score")),
        "vss_score should be null when the query embedding is zero")
    }
    // ranking is the BM25 ranking: d3 (tf=3) over d1 (tf=1)
    assert(hits.head.getAs[String]("doc_id") == "d3")
  }

  test("zero-norm DOC embedding cannot poison fusion with NaN") {
    val corpusWithZero = corpus.unionByName(
      Seq(("dz", "spark zero vec", Seq("spark", "zero", "vec"),
          Array(0f, 0f, 0f)))
        .toDF("doc_id", "content", "tokens", "embedding")
        .withColumn("file_path", concat(lit("docs/"), col("doc_id")))
        .withColumn("header_path", lit(""))
        .withColumn("line_start", lit(1)).withColumn("line_end", lit(1)))
    val idx = IndexData.fromDocuments(corpusWithZero,
      Seq(Setting("embedding_model", "test")).toDF())
    // k = corpus size forces the NaN-distance doc into the vss cut
    val hits = HybridSearch.search(idx, "spark",
      analyzer = graft.analyze.WhitespaceAnalyzer,
      embedder = Some(new graft.embed.FixedVectorEmbedder(Array(1f, 0f, 0f))),
      opts = HybridSearch.Options(k = 5, rerank = false,
        scoreThreshold = 0.0)).collect()
    assert(hits.nonEmpty)
    hits.foreach { r =>
      assert(!r.getAs[Double]("score").isNaN,
        s"NaN score for ${r.getAs[String]("doc_id")}")
      val vi = r.fieldIndex("vss_score")
      assert(r.isNullAt(vi) || !r.getDouble(vi).isNaN, "NaN vss_score leaked")
    }
  }

  test("X6 add-prefix keeps os.path.join semantics (reference " +
      "src/searcher.py:211-213): absolute and URI-schemed paths pass " +
      "through, empty prefix is a no-op — on BOTH engines; dirname(db) " +
      "is the CLI default (src/cli.py:187-189)") {
    val sp = spark
    import sp.implicits._
    def both(path: String, remove: Option[String], add: Option[String]): (String, String) = {
      val c = Seq(Tuple1(path)).toDF("p")
        .select(HybridSearch.rewritePath(col("p"), remove, add).as("r"))
        .collect().head.getString(0)
      (c, ServeSearch.rewritePathLocal(path, remove, add))
    }
    val cases = Seq(
      (("a/b.md", None, Some("new")), "new/a/b.md"),
      (("/abs/b.md", None, Some("new")), "/abs/b.md"), // join discards prefix
      (("file:/tmp/x.md", None, Some("/tmp")), "file:/tmp/x.md"), // URI = absolute
      (("s3a://bucket/x.md", None, Some("p")), "s3a://bucket/x.md"),
      // a colon INSIDE a relative filename is not a URI scheme — the
      // reference's join prefixes it (round-18 second review)
      (("draft:v2.md", None, Some("new")), "new/draft:v2.md"),
      (("a/b.md", None, Some("")), "a/b.md"), // falsy prefix = no-op
      (("docs/d1", Some("docs"), Some("new")), "new/d1")) // remove THEN add
    for (((p, r, a), want) <- cases) {
      val (c, l) = both(p, r, a)
      assert(c == want && l == want, s"'$p' -> col='$c' local='$l' want='$want'")
    }
    assert(graft.Cli.defaultAddPrefix("/tmp/sub/idx").contains("/tmp/sub"))
    assert(graft.Cli.defaultAddPrefix("idx").isEmpty) // dirname("") is falsy
    // posixpath.dirname semantics, NOT File.getParent: a trailing slash
    // names the artifact dir itself (shell tab completion), and the root
    // slash survives (round-18 second review — getParent climbed a level)
    assert(graft.Cli.defaultAddPrefix("/tmp/sub/idx/").contains("/tmp/sub/idx"))
    assert(graft.Cli.defaultAddPrefix("idx/").contains("idx"))
    assert(graft.Cli.defaultAddPrefix("/idx").contains("/"))
    assert(graft.Cli.defaultAddPrefix("/tmp//idx").contains("/tmp"))
  }

  test("P5: a query matching no document returns empty, not an error") {
    val res = HybridSearch.search(index, "zzz qqq nothing_matches_this",
      analyzer = graft.analyze.WhitespaceAnalyzer, embedder = None, reranker = None)
    assert(res.collect().isEmpty)
  }

  test("deterministic reranker reorders by token overlap") {
    val hits = HybridSearch.search(index, "spark runs",
      analyzer = graft.analyze.WhitespaceAnalyzer,
      embedder = None,
      reranker = Some(new graft.rerank.TokenOverlapReranker(
        graft.analyze.WhitespaceAnalyzer.tokenize)),
      opts = HybridSearch.Options(k = 4)).collect()
    // d1 shares both query tokens -> highest overlap score
    assert(hits.head.getAs[String]("doc_id") == "d1")
    assert(hits.head.getAs[Double]("score") > hits.last.getAs[Double]("score"))
  }
}
