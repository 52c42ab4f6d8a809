package graft.search

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.core.Schemas.Setting
import graft.index.IndexData

/** Phrase-FIRST retrieval (`--phrase-rank`, round-16 directive #2).
  *
  * `--phrase` only FILTERS the fused candidate set, so a document that
  * contains the phrase but sits outside both top-k legs is unreachable —
  * the round-16 verdict's named semantics gap. `--phrase-rank` restricts
  * the BM25 leg to the corpus-wide phrase-matching doc set (the pruned
  * positions probe) BEFORE the top-k cut. Pins: (a) the gap itself — a
  * phrase doc outside the global BM25 top-k is returned by the new mode
  * and absent from the old; (b) bit-parity between the serving
  * formulation and the DataFrame DAG path; (c) the request stays
  * probe-sized (rows-read ≪ corpus); (d) the sidecar-less fallback
  * degrades to the filter semantics rather than failing. */
class PhraseRankSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** 40 docs HEAVY in the query terms without adjacency (top the global
    * BM25 ranking), one long NEEDLE doc carrying the exact phrase at a low
    * score, and filler docs for file granularity. k=5 puts the needle far
    * outside the BM25 top-k. */
  private lazy val artifactDir: String = {
    val d = java.nio.file.Files.createTempDirectory("phraserank").toString + "/idx"
    val heavy = (0 until 40).map { i =>
      (s"heavy$i", Seq.fill(6)(Seq("table", s"x$i", "value", s"y$i")).flatten)
    }
    val needle = Seq(("needle0",
      Seq("table", "value") ++ (0 until 60).map(j => s"pad$j")))
    val filler = (0 until 4000).map { i =>
      (s"zfill$i", Seq(s"afill$i", s"mfill$i", s"qfill$i", s"zfill$i"))
    }
    val docs = (heavy ++ needle ++ filler)
      .map { case (id, toks) => (id, toks.mkString(" "), toks) }
      .toDF("doc_id", "content", "tokens")
      .withColumn("embedding", lit(null).cast("array<float>"))
      .withColumn("file_path", concat(lit("docs/"), col("doc_id")))
      .withColumn("header_path", lit(""))
      .withColumn("line_start", lit(1)).withColumn("line_end", lit(1))
    val partsWas = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "64")
      IndexData.write(docs, Seq(Setting("embedding_model", "test")).toDF(), d)
    } finally spark.conf.set("spark.sql.shuffle.partitions", partsWas)
    d
  }

  private def opts(rank: Boolean) = HybridSearch.Options(
    k = 5, phraseOnly = !rank, phraseRank = rank, scoreThreshold = 0.0)

  private def serveIds(index: IndexData, rank: Boolean): Seq[String] =
    ServeSearch.search(index, "table value",
      analyzer = graft.analyze.WhitespaceAnalyzer, opts = opts(rank))
      .select("doc_id").as[String].collect().toSeq

  test("a phrase doc OUTSIDE the global BM25 top-k is returned by " +
      "--phrase-rank and unreachable under --phrase") {
    val index = IndexData.load(spark, artifactDir)
    assert(index.positions.isDefined)
    // the gap: the global top-k is all heavy docs, none carry the phrase
    assert(serveIds(index, rank = false).isEmpty,
      "--phrase filter of the top-k must drop every heavy candidate")
    val ranked = serveIds(index, rank = true)
    assert(ranked == Seq("needle0"),
      s"--phrase-rank must retrieve the corpus-wide phrase doc, got $ranked")
  }

  test("serving formulation ≡ DataFrame DAG path under --phrase-rank " +
      "(bit-identical rows)") {
    val index = IndexData.load(spark, artifactDir)
    val an = graft.analyze.WhitespaceAnalyzer
    val dag = HybridSearch.search(index, "table value", analyzer = an,
      opts = opts(rank = true)).collect().map(_.toSeq).toSeq
    // on the Spark legs of a plain load and on the driver-resident legs of
    // a cache-pinned one (released after, so later specs read from disk)
    val warm = IndexData.load(spark, artifactDir).cached()
    try Seq("cold" -> index, "cached" -> warm).foreach { case (leg, served) =>
      val serve = ServeSearch.search(served, "table value", analyzer = an,
        opts = opts(rank = true)).collect().map(_.toSeq).toSeq
      assert(serve == dag, s"$leg: serve=$serve\ndag=$dag")
    } finally warm.uncacheAll(blocking = true)
  }

  test("--phrase-rank adds only a PROBE-SIZED delta over the plain BM25 " +
      "request (rows-read), never a second corpus scan") {
    val index = IndexData.load(spark, artifactDir)
    val positionsTotal = index.positions.get.count()
    val an = graft.analyze.WhitespaceAnalyzer
    val plain = HybridSearch.Options(k = 5, scoreThreshold = 0.0)
    def run(o: HybridSearch.Options) =
      ServeSearch.search(index, "table value", analyzer = an, opts = o).collect()
    // warm the per-session term-df/stats caches so both measurements see
    // the same baseline reads (this fixture is too small for postings
    // row-group pruning — a 3-row file is one full-range row group — so
    // the ABSOLUTE request cost is fixture-bound; the scale property to
    // pin is the DELTA the new retrieval leg adds)
    run(plain); run(opts(rank = true))
    val (_, baseRead) = graft.util.InputMetrics.rowsRead(spark) { run(plain) }
    val (hits, rankRead) = graft.util.InputMetrics.rowsRead(spark, expectNonZero = true) {
      run(opts(rank = true))
    }
    assert(hits.nonEmpty)
    val delta = rankRead - baseRead
    assert(delta <= positionsTotal / 4,
      s"phrase-rank added $delta rows over the $baseRead-row plain request " +
        s"(positions table: $positionsTotal rows) — the phrase leg must be a pruned probe")
  }

  test("without the positions sidecar --phrase-rank degrades to the " +
      "--phrase filter semantics (and still answers)") {
    val index = IndexData.load(spark, artifactDir)
    val stripped = index.copy(positions = None)
    assert(serveIds(stripped, rank = true).isEmpty,
      "fallback must match the filter semantics, not fail or over-return")
    // DAG path degrades identically
    val dag = HybridSearch.search(stripped, "table value",
      analyzer = graft.analyze.WhitespaceAnalyzer, opts = opts(rank = true))
      .select("doc_id").as[String].collect().toSeq
    assert(dag.isEmpty)
  }
}
