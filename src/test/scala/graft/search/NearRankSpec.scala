package graft.search

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.core.Schemas.Setting
import graft.index.IndexData

/** Proximity-FIRST retrieval (`--near a,b --window w` / `"a b"~w`,
  * round-17 directive #3) — the sloppy-phrase generalization of
  * `--phrase-rank`: the BM25 leg is restricted to the corpus-wide docs
  * where the near terms appear in order within the window
  * ([[PhraseSearch.sloppyPhraseMatches]], chained pruned probes) BEFORE
  * the top-k cut. Pins, mirroring PhraseRankSpec: (a) the reachability
  * gap — a near-matching doc outside the global BM25 top-k is returned by
  * the restriction and unreachable under the candidate filter alone;
  * (b) serve/DAG bit-parity; (c) the restriction adds only a probe-sized
  * rows-read delta; (d) the sidecar-less fallback degrades to the
  * candidate filter; (e) the three matchers (batch operator, column HOF,
  * driver-local replica) agree on ordered-within-window semantics. */
class NearRankSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** 40 docs HEAVY in both terms but always > window apart (top the global
    * BM25 ranking, fail the near restriction), one NEEDLE doc with the
    * terms 3 apart (near-matches at window 4, NOT adjacent — distinguishes
    * near from phrase) at a low BM25 score, and filler for file
    * granularity. k=5 puts the needle far outside the BM25 top-k. */
  private lazy val artifactDir: String = {
    val d = java.nio.file.Files.createTempDirectory("nearrank").toString + "/idx"
    val heavy = (0 until 40).map { i =>
      (s"heavy$i",
        Seq.fill(6)(Seq("table") ++ (0 until 9).map(j => s"p$i-$j") ++ Seq("value")).flatten)
    }
    val needle = Seq(("needle0",
      Seq("table", "mid1", "mid2", "value") ++ (0 until 60).map(j => s"pad$j")))
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

  private def opts(near: Boolean) = HybridSearch.Options(
    k = 5, scoreThreshold = 0.0,
    nearTerms = if (near) Seq("table", "value") else Nil,
    nearWindow = if (near) 4 else 0)

  private def serveIds(index: IndexData, near: Boolean): Seq[String] =
    ServeSearch.search(index, "table value",
      analyzer = graft.analyze.WhitespaceAnalyzer, opts = opts(near))
      .select("doc_id").as[String].collect().toSeq

  test("a near-matching doc OUTSIDE the global BM25 top-k is returned by " +
      "the --near restriction; heavy docs with the terms > window apart " +
      "are excluded") {
    val index = IndexData.load(spark, artifactDir)
    assert(index.positions.isDefined)
    // without near mode the top-k is all heavy docs — needle unreachable
    val plain = serveIds(index, near = false)
    assert(plain.nonEmpty && plain.forall(_.startsWith("heavy")), plain)
    val ranked = serveIds(index, near = true)
    assert(ranked == Seq("needle0"),
      s"--near must retrieve the corpus-wide near doc, got $ranked")
  }

  test("serving formulation ≡ DataFrame DAG path under --near " +
      "(bit-identical rows)") {
    val index = IndexData.load(spark, artifactDir)
    val an = graft.analyze.WhitespaceAnalyzer
    val dag = HybridSearch.search(index, "table value", analyzer = an,
      opts = opts(near = true)).collect().map(_.toSeq).toSeq
    // on the Spark legs of a plain load and on the driver-resident legs of
    // a cache-pinned one (released after, so later specs read from disk)
    val warm = IndexData.load(spark, artifactDir).cached()
    try Seq("cold" -> index, "cached" -> warm).foreach { case (leg, served) =>
      val serve = ServeSearch.search(served, "table value", analyzer = an,
        opts = opts(near = true)).collect().map(_.toSeq).toSeq
      assert(serve == dag, s"$leg: serve=$serve\ndag=$dag")
    } finally warm.uncacheAll(blocking = true)
  }

  test("--near adds only a PROBE-SIZED rows-read delta over the plain " +
      "request, never a second corpus scan") {
    val index = IndexData.load(spark, artifactDir)
    val positionsTotal = index.positions.get.count()
    val an = graft.analyze.WhitespaceAnalyzer
    def run(o: HybridSearch.Options) =
      ServeSearch.search(index, "table value", analyzer = an, opts = o).collect()
    run(opts(near = false)); run(opts(near = true)) // warm per-session caches
    val (_, baseRead) = graft.util.InputMetrics.rowsRead(spark) { run(opts(near = false)) }
    val (hits, nearRead) = graft.util.InputMetrics.rowsRead(spark, expectNonZero = true) {
      run(opts(near = true))
    }
    assert(hits.nonEmpty)
    val delta = nearRead - baseRead
    assert(delta <= positionsTotal / 4,
      s"--near added $delta rows over the $baseRead-row plain request " +
        s"(positions table: $positionsTotal rows) — the near leg must be a pruned probe")
  }

  test("without the positions sidecar --near degrades to the candidate " +
      "filter (warns, still answers; near docs outside the legs unreachable)") {
    val index = IndexData.load(spark, artifactDir)
    val stripped = index.copy(positions = None)
    assert(serveIds(stripped, near = true).isEmpty,
      "fallback must match the filter semantics, not fail or over-return")
    val dag = HybridSearch.search(stripped, "table value",
      analyzer = graft.analyze.WhitespaceAnalyzer, opts = opts(near = true))
      .select("doc_id").as[String].collect().toSeq
    assert(dag.isEmpty)
  }

  test("matcher parity: sloppyPhraseMatches (positions join), " +
      "sloppyPredicate (column HOF), sloppyLocal (driver replica) agree " +
      "on ordered-within-window semantics") {
    val cases = Seq(
      // (tokens, expected for terms=[a,b], window=3)
      (Seq("a", "x", "x", "b"), true),   // span exactly 3
      (Seq("a", "x", "x", "x", "b"), false), // span 4 > 3
      (Seq("b", "x", "a"), false),       // reverse order never matches
      (Seq("a", "b"), true),             // adjacency is a near match too
      (Seq("x", "a", "y", "b", "z"), true),
      (Seq("a", "a", "x", "x", "b"), true), // second anchor occurrence works
      (Seq("a"), false), (Seq.empty[String], false))
    val terms = Seq("a", "b")
    for ((toks, want) <- cases) {
      assert(ServeSearch.sloppyLocal(toks, terms, 3) == want, s"local: $toks")
      val hof = Seq(Tuple1(toks)).toDF("tokens")
        .select(HybridSearch.sloppyPredicate(col("tokens"), terms, 3).as("m"))
        .collect().head.getBoolean(0)
      assert(hof == want, s"hof: $toks")
      val pos = Seq(Tuple1(toks)).toDF("tokens")
        .select(lit("d").as("doc_id"), posexplode(col("tokens")).as(Seq("pos", "term")))
      val joined = if (toks.isEmpty) false
        else PhraseSearch.sloppyPhraseMatches(pos, terms, 3).count() > 0
      assert(joined == want, s"join: $toks")
    }
    // 3-term chain: in-order within the window, middle term required
    val t3 = Seq("a", "b", "c")
    assert(ServeSearch.sloppyLocal(Seq("a", "x", "b", "c"), t3, 3))
    assert(!ServeSearch.sloppyLocal(Seq("a", "c", "b"), t3, 3)) // out of order
    val hof3 = Seq(Tuple1(Seq("a", "x", "b", "c"))).toDF("tokens")
      .select(HybridSearch.sloppyPredicate(col("tokens"), t3, 3).as("m"))
      .collect().head.getBoolean(0)
    assert(hof3)
  }

  test("fuzz parity: seeded-random token arrays agree across sloppyLocal, " +
      "sloppyPredicate, and the positions-join operator for 2- and 3-term " +
      "shapes at every window 1..5") {
    val sp = spark
    import sp.implicits._
    val rnd = new scala.util.Random(18) // deterministic
    val alphabet = Vector("a", "b", "c", "d")
    val cases: Seq[(Long, Seq[String])] = (0L until 120L).map { id =>
      id -> Seq.fill(rnd.nextInt(13))(alphabet(rnd.nextInt(alphabet.size)))
    }
    val termSets = Seq(Seq("a", "b"), Seq("a", "b", "c"))
    for (terms <- termSets; window <- math.max(1, terms.size - 1) to 5) {
      val local = cases.map { case (id, toks) =>
        id -> ServeSearch.sloppyLocal(toks, terms, window)
      }.toMap
      // one DF evaluation for ALL cases of this (terms, window) group
      val hof = cases.toDF("id", "tokens")
        .select(col("id"),
          HybridSearch.sloppyPredicate(col("tokens"), terms, window).as("m"))
        .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      val pos = cases.toDF("id", "tokens")
        .select(col("id").cast("string").as("doc_id"),
          posexplode(col("tokens")).as(Seq("pos", "term")))
      val joined = PhraseSearch.sloppyPhraseMatches(pos, terms, window)
        .select("doc_id").as[String].collect().map(_.toLong).toSet
      for ((id, want) <- local) {
        assert(hof(id) == want,
          s"HOF mismatch id=$id terms=$terms w=$window toks=${cases(id.toInt)._2}")
        assert(joined.contains(id) == want,
          s"join mismatch id=$id terms=$terms w=$window toks=${cases(id.toInt)._2}")
      }
    }
  }

  test("near options validate coherently on BOTH engines: < 2 terms, " +
      "duplicate terms, window too small, phrase-mode combination") {
    val index = IndexData.load(spark, artifactDir)
    def bad(o: HybridSearch.Options): Unit = {
      intercept[IllegalArgumentException](
        ServeSearch.search(index, "q", opts = o))
      intercept[IllegalArgumentException](
        HybridSearch.search(index, "q", opts = o))
    }
    bad(HybridSearch.Options(nearTerms = Seq("solo"), nearWindow = 2))
    bad(HybridSearch.Options(nearTerms = Seq("a", "a"), nearWindow = 2))
    bad(HybridSearch.Options(nearTerms = Seq("a", "b", "c"), nearWindow = 1))
    bad(HybridSearch.Options(nearTerms = Seq("a", "b"), nearWindow = 2,
      phraseRank = true))
    // term-count cap (round-18 ADVICE): sloppyPredicate nests one exists()
    // per term, so an unbounded --near list (analyzer expansion included)
    // would generate arbitrarily deep codegen on the candidate-filter path
    bad(HybridSearch.Options(
      nearTerms = (1 to HybridSearch.MaxNearTerms + 1).map(i => s"t$i"),
      nearWindow = 99))
    // the cap itself is still servable: exactly MaxNearTerms validates
    HybridSearch.requireNearCoherent(HybridSearch.Options(
      nearTerms = (1 to HybridSearch.MaxNearTerms).map(i => s"t$i"),
      nearWindow = 99))
  }

  test("CLI query-shape resolution: --near comma list tokenizes through " +
      "the index analyzer; inline slop syntax parses terms AND window; " +
      "--near without --window errors") {
    val tok = (s: String) => graft.analyze.DefaultAnalyzer.tokenize(s)
    assert(graft.Cli.resolveNear("q text", Some("Table, Value"), Some(4), tok) ==
      (("q text", Seq("table", "value"), 4)))
    assert(graft.Cli.resolveNear("\"table value\"~4", None, None, tok) ==
      (("table value", Seq("table", "value"), 4)))
    assert(graft.Cli.resolveNear("plain query", None, None, tok) ==
      (("plain query", Nil, 0)))
    intercept[RuntimeException](
      graft.Cli.resolveNear("q", Some("a,b"), None, tok))
    // an explicit --near wins over inline slop syntax (query left intact)
    assert(graft.Cli.resolveNear("\"x y\"~9", Some("a,b"), Some(3), tok) ==
      (("\"x y\"~9", Seq("a", "b"), 3)))
    // terms that tokenize to NOTHING must error, not silently drop the
    // restriction the user asked for (round-18 review)
    intercept[RuntimeException](
      graft.Cli.resolveNear("q", Some("！，？"), Some(4), tok))
    intercept[RuntimeException](
      graft.Cli.resolveNear("\"！\"~4", None, None, tok))
    // an overflow-sized slop window gets the contract error, not a raw
    // NumberFormatException
    val e = intercept[RuntimeException](
      graft.Cli.resolveNear("\"a b\"~99999999999", None, None, tok))
    assert(e.getMessage.contains("not a valid integer"), e.getMessage)
  }
}
