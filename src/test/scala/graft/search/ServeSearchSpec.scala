package graft.search

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.analyze.WhitespaceAnalyzer
import graft.core.Schemas.Setting
import graft.embed.{Embedder, HashingEmbedder}
import graft.index.{IndexData, IndexJob}
import graft.rerank.TokenOverlapReranker

/** ServeSearch is a latency reformulation, NOT a second engine: every
  * (query, options) cell here must produce BIT-IDENTICAL rows and columns
  * to HybridSearch.search — including the degradation contracts (zero-norm
  * query, NaN doc embedding, absent legs) and every ANN mode — on both
  * sets of legs: the Spark legs of a plain load and the driver-resident
  * `ServedIndex` of a `cached()` instance. */
class ServeSearchSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val he = new HashingEmbedder(8)
  private val rr = new TokenOverlapReranker()

  private lazy val dir: String = {
    val contents = Seq(
      "d1" -> "spark runs fast and spark scales",
      "d2" -> "duck db is a small database",
      "d3" -> "spark spark spark joins tables",
      "d4" -> "unrelated words entirely here",
      "d5" -> "fast joins merge sorted tables",
      "d6" -> "spark streams merge windows",
      "d7" -> "database tables store rows",
      "d8" -> "rows and windows and streams")
    val base = contents.map { case (id, text) =>
      (id, text, text.split(" ").toSeq, he.embed(Seq(text)).head)
    }
    val degenerate = Seq(
      // zero-norm embedding → NaN cosine: must fuse as "missed the vss leg"
      ("dz", "spark zero vector doc", Seq("spark", "zero", "vector", "doc"),
        Array.fill(8)(0f)),
      // no embedding at all → excluded from the vss leg by the isNotNull guard
      ("dn", "spark null vector doc", Seq("spark", "null", "vector", "doc"), null))
    val df = (base ++ degenerate)
      .toDF("doc_id", "content", "tokens", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
      // one file:-scheme path so the prefix-rewrite parity is exercised
      .withColumn("file_path",
        when(col("doc_id") === "d6", concat(lit("file:docs/"), col("doc_id")))
          .otherwise(concat(lit("docs/"), col("doc_id"))))
      .withColumn("header_path", lit(""))
      .withColumn("line_start", lit(1)).withColumn("line_end", lit(1))
    val tmp = java.nio.file.Files.createTempDirectory("servesearch").toString
    IndexData.write(df, Seq(Setting("embedding_model", "test")).toDF(), tmp)
    val withAnn = IndexJob.withAnn(IndexData.load(spark, tmp), tmp,
      annClusters = 2, annIters = 2)
    IndexJob.withPq(withAnn, tmp, pqCodes = 2)
    tmp
  }

  /** The warm instance (`cached()`: driver-resident legs) and a plain
    * load of the same artifact (Spark legs). */
  private lazy val idx: IndexData = IndexData.load(spark, dir).cached()
  private lazy val cold: IndexData = IndexData.load(spark, dir)
  private def legs: Seq[(String, IndexData)] = Seq("cold" -> cold, "warm" -> idx)

  private def assertParity(label: String, query: String,
      opts: HybridSearch.Options = HybridSearch.Options(),
      embedder: Option[Embedder] = Some(he),
      reranker: Option[graft.rerank.Reranker] = Some(rr),
      on: Seq[(String, IndexData)] = legs, dagOn: IndexData = idx): Unit = {
    val dag = HybridSearch.search(dagOn, query, WhitespaceAnalyzer, embedder, reranker, opts)
    val dr = dag.collect().toSeq.map(_.toSeq)
    on.foreach { case (leg, index) =>
      val srv = ServeSearch.search(index, query, WhitespaceAnalyzer, embedder, reranker, opts)
      assert(dag.columns.toSeq == srv.columns.toSeq,
        s"$label ($leg): columns dag=${dag.columns.toSeq} serve=${srv.columns.toSeq}")
      val sr = srv.collect().toSeq.map(_.toSeq)
      assert(dr == sr, s"$label ($leg):\n  dag  =$dr\n  serve=$sr")
    }
  }

  test("default hybrid (mean fusion + rerank) is bit-identical") {
    assertParity("default", "spark joins tables")
    assertParity("default-2", "fast merge windows")
    assertParity("default-3", "database rows")
  }

  test("no-rerank and rerank=false are bit-identical") {
    assertParity("no-reranker", "spark joins tables", reranker = None)
    assertParity("rerank-off", "spark joins tables",
      opts = HybridSearch.Options(rerank = false))
  }

  test("rrf fusion is bit-identical (rank math on rounded scores)") {
    assertParity("rrf", "spark joins tables",
      opts = HybridSearch.Options(fusion = "rrf", scoreThreshold = 0.001))
    assertParity("rrf-k3", "fast merge windows",
      opts = HybridSearch.Options(fusion = "rrf", scoreThreshold = 0.001, k = 3))
  }

  test("phrase filter is bit-identical") {
    assertParity("phrase-hit", "spark runs", opts = HybridSearch.Options(phraseOnly = true))
    assertParity("phrase-miss", "runs spark", opts = HybridSearch.Options(phraseOnly = true))
  }

  test("path prefix rewrite (incl. file: scheme) is bit-identical") {
    assertParity("rewrite", "spark streams merge",
      opts = HybridSearch.Options(removePathPrefix = Some("docs"),
        addPathPrefix = Some("/new/root")))
    assertParity("rewrite-dotted", "spark streams merge",
      opts = HybridSearch.Options(removePathPrefix = Some("./docs/")))
  }

  test("degradations are bit-identical: no embedder, zero-norm query, empty/unseen query") {
    assertParity("fts-only", "spark joins tables", embedder = None)
    val zeroEmbedder = new Embedder {
      override def name = "zero"
      override def dim = 8
      override def embed(texts: Seq[String]): Seq[Array[Float]] =
        texts.map(_ => Array.fill(8)(0f))
    }
    assertParity("zero-norm-query", "spark joins tables", embedder = Some(zeroEmbedder))
    assertParity("empty-query", "")
    assertParity("unseen-terms", "zzz qqq www")
  }

  test("LARGE pq shortlist (> RerankFetchInMax) is bit-identical to the " +
      "DAG path, alone and composed") {
    assertParity("pq large", "spark merge",
      HybridSearch.Options(k = 3, annPqShortlist = HybridSearch.RerankFetchInMax + 44))
    assertParity("ivf+pq large", "spark merge",
      HybridSearch.Options(k = 3, annNprobe = 2,
        annPqShortlist = HybridSearch.RerankFetchInMax + 44))
  }

  test("ANN modes (ivf / pq / ivf+pq) are bit-identical") {
    assertParity("ivf-1", "spark joins tables",
      opts = HybridSearch.Options(annNprobe = 1))
    assertParity("ivf-2", "fast merge windows",
      opts = HybridSearch.Options(annNprobe = 2))
    assertParity("pq", "spark joins tables",
      opts = HybridSearch.Options(annPqShortlist = 3))
    assertParity("ivf+pq", "spark joins tables",
      opts = HybridSearch.Options(annNprobe = 1, annPqShortlist = 3))
  }

  test("a NaN reranker score is kept and sorted FIRST in both paths " +
      "(Spark double semantics: NaN > any double — round-12 ADVICE)") {
    // content-keyed (not position-keyed) so the score is independent of
    // batch boundaries, per the Reranker contract
    val nanRr = new graft.rerank.Reranker {
      override def name = "nan-on-d1"
      override def score(query: String, texts: Seq[String]): Seq[Double] =
        texts.map(t => if (t.contains("spark runs fast")) Double.NaN else 0.5)
    }
    val opts = HybridSearch.Options()
    // assertParity's Seq == cannot compare NaN cells (Scala unboxes and
    // NaN != NaN numerically) — normalize NaN to a sentinel first
    def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
      df.collect().toSeq.map(_.toSeq.map {
        case d: java.lang.Double if d.isNaN => "NaN"
        case x => x
      })
    val dag = rows(HybridSearch.search(idx, "spark joins tables",
      WhitespaceAnalyzer, Some(he), Some(nanRr), opts))
    legs.foreach { case (leg, index) =>
      val serve = rows(ServeSearch.search(index, "spark joins tables",
        WhitespaceAnalyzer, Some(he), Some(nanRr), opts))
      assert(dag == serve, s"nan-rerank ($leg):\n  dag  =$dag\n  serve=$serve")
    }
    // and the semantics themselves: the NaN-scored doc survives the
    // threshold filter and leads the sort in the serve path
    val srv = ServeSearch.search(idx, "spark joins tables", WhitespaceAnalyzer,
      Some(he), Some(nanRr), opts).collect()
    assert(srv.nonEmpty && srv.head.getString(0) == "d1" &&
      srv.head.getDouble(6).isNaN,
      s"NaN-scored d1 must lead: ${srv.map(r => (r.getString(0), r.getDouble(6))).toSeq}")
  }

  test("--snippets projection over serving hits matches the batch kernel " +
      "exactly and degrades to nulls for hits with no verbatim term " +
      "(round-18 directive #3)") {
    val terms = Seq("spark", "merge")
    val hits = ServeSearch.search(idx, "spark merge", WhitespaceAnalyzer,
      Some(he), None, HybridSearch.Options(k = 5, rerank = false))
    val projected = Snippets.project(hits, hits("content"), terms)
      .select("doc_id", "content", "term", "off", "snippet", "highlighted")
      .collect().map(r => r.getString(0) ->
        (r.getString(2), if (r.isNullAt(3)) -1L else r.getLong(3),
          r.getString(4), r.getString(5))).toMap
    assert(projected.nonEmpty)
    // independent expectation: the q_search_snippets formulation evaluated
    // over the SAME (doc_id, text) rows through a fresh DataFrame — the
    // batch-kernel face of the identical expressions
    val expected = Snippets.project(
        idx.documents.select(col("doc_id"), col("content")), col("content"), terms)
      .filter(col("doc_id").isin(projected.keys.toSeq: _*))
      .select("doc_id", "term", "off", "snippet", "highlighted")
      .collect().map(r => r.getString(0) ->
        (r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2),
          r.getString(3), r.getString(4))).toMap
    assert(projected == expected, s"\n  serving=$projected\n  batch =$expected")
    // the term-anchored window really anchors: a doc whose first matching
    // term is "spark" carries a [spark] highlight at the right offset
    projected.get("d1").foreach { case (term, off, snippet, highlighted) =>
      assert(term == "spark" && off == 1L)
      assert(snippet.startsWith("spark runs fast"))
      assert(highlighted.contains("[spark]"))
    }
    assert(projected.contains("d1"))
    // replace-all parity with the oracle: d3 ("spark spark spark ...")
    // highlights every occurrence inside the window
    projected.get("d3").foreach { case (_, _, _, highlighted) =>
      assert(highlighted.split("\\[spark\\]").length >= 3, highlighted)
    }
    // regex-metacharacter term (whitespace-analyzer tokens can carry them):
    // the highlight is a LITERAL replace — "c++" must bracket, not throw a
    // PatternSyntaxException (round-19 self-review)
    val meta = Snippets.project(
        Seq(("m1", "fast c++ kernels beat jits")).toDF("doc_id", "content"),
        col("content"), Seq("c++"))
      .select("term", "off", "highlighted").collect().head
    assert(meta.getString(0) == "c++" && meta.getLong(1) == 6L)
    assert(meta.getString(2) == "fast [c++] kernels beat jits", meta)
  }

  test("dl-less postings (artifacts written before the denormalized layout) " +
      "serve through the doclen join, bit-identical") {
    val legacy = cold.copy(postings = cold.postings.drop("dl"))
    assertParity("dl-less", "spark joins tables", on = Seq("cold" -> legacy),
      dagOn = legacy)
  }

  test("high threshold and small k are bit-identical") {
    assertParity("threshold", "spark joins tables",
      opts = HybridSearch.Options(scoreThreshold = 0.5))
    assertParity("k1", "spark joins tables", opts = HybridSearch.Options(k = 1))
  }

  test("append-merge LIVE view (pending segments): cold and warm serve paths " +
      "are bit-identical to the DAG path") {
    // `graft serve` on an appended-but-not-yet-compacted artifact is a real
    // production state: postings/termdf/doclen/stats are the segmented
    // union frames with tombstone masking and dead-stat subtraction. The
    // impact-postings build must compose with all of that.
    import java.nio.file.Files
    val docs = Files.createTempDirectory("srv-appnd").toString
    val idxDir = Files.createTempDirectory("srv-appnd-idx").toString + "/idx"
    def write(dir: String, name: String, text: String): Unit =
      Files.writeString(java.nio.file.Paths.get(dir, name), text)
    def jopts(scan: String, clear: Boolean) = IndexJob.Options(clear = clear,
      mergeMode = "append", trimPathPrefix = Some(s"file:$scan"))
    write(docs, "a.md", "# A\n\nspark merges sorted runs fast\n")
    write(docs, "b.md", "# B\n\nvector cosine search embedding space\n")
    IndexJob.run(spark, Seq(docs), idxDir, he, opts = jopts(docs, clear = true))
    val delta = Files.createTempDirectory("srv-appnd-d").toString
    write(delta, "a.md", "# A v2\n\nreplaced body about spark hash joins\n")
    write(delta, "c.md", "# C\n\nhybrid ranking fuses lexical and dense scores\n")
    IndexJob.run(spark, Seq(delta), idxDir, he, opts = jopts(delta, clear = false))
    def parity(label: String, live: IndexData, q: String): Unit = {
      assert(live.pendingSegments >= 1)
      val dag = HybridSearch.search(live, q, WhitespaceAnalyzer, Some(he), Some(rr))
      val srv = ServeSearch.search(live, q, WhitespaceAnalyzer, Some(he), Some(rr))
      val (dr, sr) = (dag.collect().toSeq.map(_.toSeq), srv.collect().toSeq.map(_.toSeq))
      assert(dr == sr, s"$label:\n  dag  =$dr\n  serve=$sr")
      assert(dr.nonEmpty, s"$label: empty result proves nothing")
    }
    // cold leg over the segmented frames
    parity("cold-live", IndexData.load(spark, idxDir), "spark joins")
    val live = IndexData.load(spark, idxDir).cached()
    try {
      parity("warm-live", live, "spark joins") // served arrays over the live view
      parity("warm-live-2", live, "dense scores fuse")
    } finally live.uncacheAll()
  }

  test("WARM impact-postings leg is bit-identical too (the `graft serve` path)") {
    // a cached() instance serves the BM25 leg from the driver-resident
    // impact-scored postings instead of the per-request three-way join —
    // same termScore doubles summed in the order Spark's aggregation meets
    // them, so parity must hold across fusion modes, ANN modes and
    // degradations
    assert(idx.served.isDefined, "cached() attaches the served legs")
    assert(cold.served.isEmpty, "a plain load serves the Spark legs")
    val warm = Seq("warm" -> idx)
    assertParity("warm-default", "spark joins tables", on = warm)
    assertParity("warm-rrf", "fast merge windows",
      opts = HybridSearch.Options(fusion = "rrf", scoreThreshold = 0.001), on = warm)
    assertParity("warm-ivf", "spark joins tables",
      opts = HybridSearch.Options(annNprobe = 1), on = warm)
    assertParity("warm-pq", "spark joins tables",
      opts = HybridSearch.Options(annPqShortlist = 3), on = warm)
    assertParity("warm-fts-only", "spark joins tables", embedder = None, on = warm)
    assertParity("warm-unseen", "zzz qqq www", on = warm)
    assertParity("warm-threshold", "spark joins tables",
      opts = HybridSearch.Options(scoreThreshold = 0.5), on = warm)
  }
}
