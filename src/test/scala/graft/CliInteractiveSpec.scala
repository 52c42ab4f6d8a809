package graft

import java.io.{ByteArrayOutputStream, PrintStream}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Schemas.Setting
import graft.index.IndexData

/** Scripted session through the interactive `search` loop (reference
  * `src/cli.py:345-379`: `search` without `--query` prompts per line). */
class CliInteractiveSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("index rejects an unknown --embedder before any Spark work") {
    val e = intercept[IllegalArgumentException] {
      Cli.main(Array("index", "--db", "/tmp/never_created_idx",
        "--docs", "/tmp/nowhere", "--embedder", "tf-idf"))
    }
    assert(e.getMessage.contains("tf-idf") && e.getMessage.contains("hashing"))
    assert(!new java.io.File("/tmp/never_created_idx").exists())
  }

  test("version prints engine + runtime versions and matches build.sbt") {
    // reference `src/cli.py:31-34` prints the package version; the engine
    // face adds the Spark/Scala runtime. No SparkSession is built.
    val line = Cli.versionLine
    assert(line.startsWith(s"graft ${Cli.Version} "))
    assert(line.contains(s"Spark ${org.apache.spark.SPARK_VERSION}"))
    assert(line.contains(s"Scala ${scala.util.Properties.versionNumberString}"))
    // Cli.Version is hand-pinned (offline build: no BuildInfo codegen) —
    // keep it honest against build.sbt's ThisBuild / version
    val sbt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("build.sbt")),
      java.nio.charset.StandardCharsets.UTF_8)
    assert(sbt.contains(s"""ThisBuild / version := "${Cli.Version}""""),
      s"Cli.Version ${Cli.Version} not found in build.sbt")
  }

  test("parseAnn covers every documented --ann form") {
    assert(Cli.parseAnn(None) == (0, 0))
    assert(Cli.parseAnn(Some("ivf")) == (2, 0))
    assert(Cli.parseAnn(Some("ivf:4")) == (4, 0))
    assert(Cli.parseAnn(Some("pq")) == (0, 50))
    assert(Cli.parseAnn(Some("pq:100")) == (0, 100))
    assert(Cli.parseAnn(Some("ivf+pq")) == (2, 50))
    assert(Cli.parseAnn(Some("ivf:3+pq:80")) == (3, 80))
    assert(Cli.parseAnn(Some("ivf:auto")) == (Cli.AutoNprobe, 0))
    // the -1 sentinel must survive the leg combine — a plain max would let
    // the pq leg's nprobe=0 erase it and silently drop the IVF probe
    assert(Cli.parseAnn(Some("ivf:auto+pq:100")) == (Cli.AutoNprobe, 100))
    assert(Cli.parseAnn(Some("pq:100+ivf:auto")) == (Cli.AutoNprobe, 100))
    // pq:auto (round-18 directive #1) — and the shortlist sentinel must
    // survive the combine exactly like the nprobe one
    assert(Cli.parseAnn(Some("pq:auto")) == (0, Cli.AutoShortlist))
    assert(Cli.parseAnn(Some("ivf:3+pq:auto")) == (3, Cli.AutoShortlist))
    assert(Cli.parseAnn(Some("pq:auto+ivf:3")) == (3, Cli.AutoShortlist))
    assert(Cli.parseAnn(Some("ivf:auto+pq:auto")) ==
      (Cli.AutoNprobe, Cli.AutoShortlist))
    // explicit exact: the serving-default override (round-12 directive 2)
    assert(Cli.parseAnn(Some("exact")) == (0, 0))
    intercept[RuntimeException](Cli.parseAnn(Some("hnsw")))
    // explicit numbers must be positive — 0 would silently mean exact, and
    // a negative would collide with the Auto* sentinels (-1): `pq:-1` as an
    // accidental auto request (round-19 self-review)
    intercept[RuntimeException](Cli.parseAnn(Some("ivf:0")))
    intercept[RuntimeException](Cli.parseAnn(Some("ivf:-1")))
    intercept[RuntimeException](Cli.parseAnn(Some("pq:0")))
    intercept[RuntimeException](Cli.parseAnn(Some("pq:-1")))
    // `exact` is a whole-mode override — combining it with probed legs is a
    // contradiction, not a combo to silently reduce (round-13 ADVICE)
    intercept[RuntimeException](Cli.parseAnn(Some("exact+ivf:4")))
    intercept[RuntimeException](Cli.parseAnn(Some("pq:50+exact")))
  }

  test("serving defaults to ivf:auto only for a sidecar whose fitted curve " +
      "meets the target below nprobe=K (round-12 directive 2)") {
    // curve reaches 0.9 at nprobe=2 < last step 4: default to auto
    assert(Cli.serveDefaultsToAuto(hasAnn = true, Some("1:0.40,2:0.95,4:1.00")))
    // no sidecar: exact, whatever any leftover curve setting says
    assert(!Cli.serveDefaultsToAuto(hasAnn = false, Some("1:0.40,2:0.95,4:1.00")))
    // pre-curve artifact: exact (never guess an unmeasured probe)
    assert(!Cli.serveDefaultsToAuto(hasAnn = true, None))
    // honest curve that never reaches the target: exact
    assert(!Cli.serveDefaultsToAuto(hasAnn = true, Some("1:0.10,2:0.30,4:0.50")))
    // curve meeting the target only at its LAST step (nprobe=K ≡ probe
    // everything): no pruning win — exact
    assert(!Cli.serveDefaultsToAuto(hasAnn = true, Some("1:0.40,2:0.60,4:0.95")))
    // malformed persisted curve (hand-edited settings): the FLAGLESS default
    // path must fall back to the exact scan, never crash serve startup
    // (round-13 ADVICE)
    assert(!Cli.serveDefaultsToAuto(hasAnn = true, Some("garbage")))
    assert(!Cli.serveDefaultsToAuto(hasAnn = true, Some("1:0.40,oops,4:1.00")))
    assert(!Cli.serveDefaultsToAuto(hasAnn = true, Some("")))
  }

  test("ivf:auto resolves the smallest nprobe meeting the fitted recall target") {
    import spark.implicits._
    def idxWith(curve: Option[String]): IndexData = {
      val settings = curve match {
        case Some(c) => Seq(Setting(graft.index.AnnIndex.RecallCurveKey, c)).toDF()
        case None    => Seq.empty[Setting].toDF()
      }
      IndexData.fromDocuments(
        Seq(("d1", "a b")).toDF("doc_id", "content")
          .withColumn("tokens", split(col("content"), " ")),
        settings)
    }
    val idx = idxWith(Some("1:0.40,2:0.95,4:1.00"))
    // smallest step meeting 0.9 is nprobe=2
    assert(Cli.resolveAutoNprobe(idx, (Cli.AutoNprobe, 0)) == (2, 0))
    // a curve never reaching the target probes everything (its last step)
    val low = idxWith(Some("1:0.10,2:0.30,4:0.50"))
    assert(Cli.resolveAutoNprobe(low, (Cli.AutoNprobe, 0)) == (4, 0))
    // pre-curve artifact: the ivf default
    assert(Cli.resolveAutoNprobe(idxWith(None), (Cli.AutoNprobe, 0)) == (2, 0))
    // non-auto requests pass through untouched (incl. exact and composed)
    assert(Cli.resolveAutoNprobe(idx, (3, 0)) == (3, 0))
    assert(Cli.resolveAutoNprobe(idx, (0, 0)) == (0, 0))
    assert(Cli.resolveAutoNprobe(idx, (Cli.AutoNprobe, 20)) == (2, 20))
  }

  test("pq:auto resolves the smallest shortlist meeting the fitted recall " +
      "target, symmetric with ivf:auto (round-18 directive #1)") {
    import spark.implicits._
    def idxWith(curve: Option[String]): IndexData = {
      val settings = curve match {
        case Some(c) => Seq(Setting(graft.index.PqIndex.RecallCurveKey, c)).toDF()
        case None    => Seq.empty[Setting].toDF()
      }
      IndexData.fromDocuments(
        Seq(("d1", "a b")).toDF("doc_id", "content")
          .withColumn("tokens", split(col("content"), " ")),
        settings)
    }
    val idx = idxWith(Some("10:0.60,20:0.95,40:1.00"))
    // smallest step meeting 0.9 is shortlist=20
    assert(Cli.resolveAutoShortlist(idx, (0, Cli.AutoShortlist)) == (0, 20))
    // a curve never reaching the target reranks everything (its last step)
    val low = idxWith(Some("10:0.10,20:0.30,40:0.50"))
    assert(Cli.resolveAutoShortlist(low, (0, Cli.AutoShortlist)) == (0, 40))
    // pre-curve artifact: the pq default
    assert(Cli.resolveAutoShortlist(idxWith(None), (0, Cli.AutoShortlist)) ==
      (0, graft.index.PqIndex.DefaultShortlist))
    // non-auto requests pass through untouched (incl. exact and composed)
    assert(Cli.resolveAutoShortlist(idx, (0, 35)) == (0, 35))
    assert(Cli.resolveAutoShortlist(idx, (0, 0)) == (0, 0))
    assert(Cli.resolveAutoShortlist(idx, (4, Cli.AutoShortlist)) == (4, 20))
    // resolveAutoAnn resolves BOTH legs independently: nprobe from the IVF
    // curve, shortlist from the PQ curve
    val both = {
      val settings = Seq(
        Setting(graft.index.AnnIndex.RecallCurveKey, "1:0.40,2:0.95,4:1.00"),
        Setting(graft.index.PqIndex.RecallCurveKey, "10:0.60,20:0.95,40:1.00")
      ).toDF()
      IndexData.fromDocuments(
        Seq(("d1", "a b")).toDF("doc_id", "content")
          .withColumn("tokens", split(col("content"), " ")),
        settings)
    }
    assert(Cli.resolveAutoAnn(both, (Cli.AutoNprobe, Cli.AutoShortlist)) ==
      (2, 20))
    assert(Cli.resolveAutoAnn(both, (Cli.AutoNprobe, 0)) == (2, 0))
    assert(Cli.resolveAutoAnn(both, (0, Cli.AutoShortlist)) == (0, 20))
    assert(Cli.resolveAutoAnn(both, (0, 0)) == (0, 0))
  }

  test("a pq-only artifact with a healthy fitted curve serves pq:auto by " +
      "default; ivf takes precedence; an unhealthy/absent pq curve stays exact") {
    import spark.implicits._
    def idxOf(kvs: (String, String)*): IndexData = IndexData.fromDocuments(
      Seq(("d1", "a b")).toDF("doc_id", "content")
        .withColumn("tokens", split(col("content"), " ")),
      kvs.map { case (k, v) => Setting(k, v) }.toDF())
    val pqStub = graft.index.PqIndex(
      Seq.empty[(Long, Int, Seq[Float])].toDF("j", "cid", "cv"),
      Seq.empty[(String, Seq[Int], Double)].toDF("doc_id", "codes", "err_sum"))
    val healthy = graft.index.PqIndex.RecallCurveKey -> "10:0.60,20:0.95,40:1.00"
    // pq-only + healthy curve → pq:auto
    assert(Cli.defaultServeAnn(
      idxOf(healthy).copy(pq = Some(pqStub)), None) == (0, Cli.AutoShortlist))
    // explicit flag always wins
    assert(Cli.defaultServeAnn(
      idxOf(healthy).copy(pq = Some(pqStub)), Some("exact")) == (0, 0))
    // no pq sidecar: leftover curve setting alone never triggers auto
    assert(Cli.defaultServeAnn(idxOf(healthy), None) == (0, 0))
    // curve meeting the target only at its LAST step (shortlist = corpus ≡
    // exact): no pruning win — exact
    assert(Cli.defaultServeAnn(
      idxOf(graft.index.PqIndex.RecallCurveKey -> "10:0.40,40:0.95")
        .copy(pq = Some(pqStub)), None) == (0, 0))
    // pre-curve pq artifact: exact (never guess an unmeasured shortlist)
    assert(Cli.defaultServeAnn(idxOf().copy(pq = Some(pqStub)), None) == (0, 0))
    // curve meets the target only OUTSIDE the pruned-fetch regime
    // (resolved 2560 > ServeAutoShortlistMax): the default declines —
    // past ~200 scattered ids the rerank fetch reads ~every row group, so
    // the two-stage path loses to exact (PqServeProbe, round-19)
    assert(Cli.defaultServeAnn(
      idxOf(graft.index.PqIndex.RecallCurveKey -> "10:0.20,2560:0.95,20000:1.00")
        .copy(pq = Some(pqStub)), None) == (0, 0))
    // ... but an EXPLICIT pq:auto is still honored there (with the stderr
    // advisory), resolving from the same curve
    assert(Cli.resolveAutoShortlist(
      idxOf(graft.index.PqIndex.RecallCurveKey -> "10:0.20,2560:0.95,20000:1.00"),
      (0, Cli.AutoShortlist)) == (0, 2560))
    // BOTH sidecars, unhealthy ivf curve + healthy pq curve: pq:auto is
    // the fallback — ADC prunes rerank bytes even when probing would cost
    // recall (round-19 self-review #2)
    val annStub = graft.index.AnnIndex(
      Seq.empty[(Int, Seq[Float])].toDF("cluster", "centroid"),
      Seq.empty[(Int, String)].toDF("cluster", "doc_id"))
    assert(Cli.defaultServeAnn(
      idxOf(graft.index.AnnIndex.RecallCurveKey -> "1:0.10,2:0.30,4:0.50",
        healthy).copy(ann = Some(annStub), pq = Some(pqStub)),
      None) == (0, Cli.AutoShortlist))
  }

  test("compact --if-pending skips below threshold, folds at or above it") {
    assert(Cli.compactSkipNote(2, Some(4)).isDefined)  // 2 < 4: skip
    assert(Cli.compactSkipNote(4, Some(4)).isEmpty)    // at threshold: fold
    assert(Cli.compactSkipNote(7, Some(4)).isEmpty)    // above: fold
    assert(Cli.compactSkipNote(0, None).isEmpty)       // no flag: always fold
  }

  test("annVerifyNote reports live recall; silent when exact found nothing") {
    val full = Cli.annVerifyNote(Seq("a", "b", "c"), Seq("a", "b", "c"))
    assert(full.exists(_.contains("overlap 3/3")), full)
    assert(full.exists(_.contains("1.00")), full)
    val partial = Cli.annVerifyNote(Seq("a", "x", "y"), Seq("a", "b", "c"))
    assert(partial.exists(_.contains("overlap 1/3")), partial)
    assert(partial.exists(_.contains("0.33")), partial)
    // 0/0 is not a recall — an empty exact result must not produce a note
    assert(Cli.annVerifyNote(Seq("a"), Seq.empty).isEmpty)
    // approx empty but exact non-empty IS a (zero) recall
    val zero = Cli.annVerifyNote(Seq.empty, Seq("a", "b"))
    assert(zero.exists(_.contains("overlap 0/2")), zero)
  }

  test("thresholdWarning fires only on a mean-domain threshold with rrf fusion") {
    // rrf max single-leg contribution at rank k=5 is 1/65 ≈ 0.01538
    assert(Cli.thresholdWarning(Some(0.01), "rrf", 5).isEmpty)   // below 1/65: coherent
    val warn = Cli.thresholdWarning(Some(0.02), "rrf", 5)        // above 1/65: cuts hits
    assert(warn.isDefined && warn.get.contains("rank-domain"), warn)
    assert(Cli.thresholdWarning(Some(0.02), "mean", 5).isEmpty)  // mean fusion: any T ok
    assert(Cli.thresholdWarning(None, "rrf", 5).isEmpty)         // default T: no warning
    // the reference-habit 0.01 DOES warn once k pushes 1/(60+k) below it
    assert(Cli.thresholdWarning(Some(0.01), "rrf", 50).isDefined)
  }

  test("corpusFitRebuildWarning fires when a corpus-fit embedder would surprise a merge") {
    // --merge append with tfidf/word2vec: always a surprise
    assert(Cli.corpusFitRebuildWarning("tfidf", "append", clear = false,
      artifactExists = false).exists(_.contains("REBUILT")))
    assert(Cli.corpusFitRebuildWarning("word2vec", "append", clear = true,
      artifactExists = true).isDefined)
    // rewrite over an EXISTING artifact without --clear: also a surprise
    assert(Cli.corpusFitRebuildWarning("tfidf", "rewrite", clear = false,
      artifactExists = true).isDefined)
    // fresh build, or explicit --clear: exactly what the user asked for
    assert(Cli.corpusFitRebuildWarning("tfidf", "rewrite", clear = false,
      artifactExists = false).isEmpty)
    assert(Cli.corpusFitRebuildWarning("tfidf", "rewrite", clear = true,
      artifactExists = true).isEmpty)
    // hashing embedder honors merges — never warns
    assert(Cli.corpusFitRebuildWarning("hashing", "append", clear = false,
      artifactExists = true).isEmpty)
  }

  test("shortlistWarning fires only when the pq shortlist starves top-k") {
    assert(Cli.shortlistWarning((0, 3), 5).exists(_.contains("at most 3")))
    assert(Cli.shortlistWarning((2, 3), 5).isDefined)  // composed path too
    assert(Cli.shortlistWarning((0, 5), 5).isEmpty)    // shortlist == k: fine
    assert(Cli.shortlistWarning((0, 50), 5).isEmpty)   // default-sized: fine
    assert(Cli.shortlistWarning((2, 0), 5).isEmpty)    // ivf-only: no shortlist
    assert(Cli.shortlistWarning((0, 0), 5).isEmpty)    // exact: silent
  }

  test("recallWarning fires only when the fitted curve is low at the requested nprobe") {
    import spark.implicits._
    def idxWith(curve: Option[String]): IndexData = {
      val settings = curve match {
        case Some(c) => Seq(Setting(graft.index.AnnIndex.RecallCurveKey, c)).toDF()
        case None    => Seq.empty[Setting].toDF()
      }
      IndexData.fromDocuments(
        Seq(("d1", "a b")).toDF("doc_id", "content")
          .withColumn("tokens", split(col("content"), " ")),
        settings)
    }
    val low = idxWith(Some("1:0.40,2:0.60,4:1.00"))
    // nprobe=1 → curve says 0.40 < 0.7 → note
    assert(Cli.recallWarning(low, (1, 0)).exists(_.contains("0.40")))
    // nprobe=2 → 0.60 → note; nprobe=3 uses the 2-step lower bound → note
    assert(Cli.recallWarning(low, (2, 0)).isDefined)
    assert(Cli.recallWarning(low, (3, 0)).isDefined)
    // nprobe=4 → 1.00 → silent; exact search (nprobe 0) → silent
    assert(Cli.recallWarning(low, (4, 0)).isEmpty)
    assert(Cli.recallWarning(low, (0, 0)).isEmpty)
    // no curve persisted (pre-curve artifact) → silent
    assert(Cli.recallWarning(idxWith(None), (1, 0)).isEmpty)
  }

  test("driftWarning fires only for --ann ivf search over a drifted sidecar") {
    import spark.implicits._
    def idxWith(drift: Option[String]): IndexData = {
      val settings = drift match {
        case Some(d) => Seq(Setting(graft.index.AnnIndex.DriftKey, d)).toDF()
        case None    => Seq.empty[Setting].toDF()
      }
      IndexData.fromDocuments(
        Seq(("d1", "a b")).toDF("doc_id", "content")
          .withColumn("tokens", split(col("content"), " ")),
        settings)
    }
    val drifted = idxWith(Some("0.5"))
    val warn = Cli.driftWarning(drifted, (2, 0))
    assert(warn.isDefined && warn.get.contains("--refit-ann"), warn)
    assert(Cli.driftWarning(drifted, (0, 0)).isEmpty)   // exact search: no ANN in play
    assert(Cli.driftWarning(idxWith(Some("0.1")), (2, 0)).isEmpty) // below threshold
    assert(Cli.driftWarning(idxWith(None), (2, 0)).isEmpty)        // pre-contract artifact
    // the PQ face: pq_drift is checked only when the pq stage is in play
    val pqDrifted = IndexData.fromDocuments(
      Seq(("d1", "a b")).toDF("doc_id", "content")
        .withColumn("tokens", split(col("content"), " ")),
      Seq(Setting(graft.index.PqIndex.DriftKey, "0.5")).toDF())
    val pqWarn = Cli.driftWarning(pqDrifted, (0, 50))
    assert(pqWarn.isDefined && pqWarn.get.contains("--refit-pq"), pqWarn)
    assert(Cli.driftWarning(pqDrifted, (2, 0)).isEmpty) // ivf-only: pq not served
  }

  test("segmentsWarning fires only for --ann over LEGACY uncovered segments") {
    import spark.implicits._
    def idx(pending: Int, covered: Boolean): IndexData =
      IndexData.fromDocuments(
        Seq(("d1", "a b")).toDF("doc_id", "content")
          .withColumn("tokens", split(col("content"), " ")),
        Seq.empty[Setting].toDF())
        .copy(pendingSegments = pending, sidecarsCoverSegments = covered)
    // legacy segments without sidecar deltas + an accelerated search: warn
    val warn = Cli.segmentsWarning(idx(2, covered = false), (2, 0))
    assert(warn.isDefined && warn.get.contains("compact"), warn)
    assert(Cli.segmentsWarning(idx(2, covered = false), (0, 50)).isDefined)
    // covered segments (the normal delta layout): the assembled view serves
    // them — no warning
    assert(Cli.segmentsWarning(idx(2, covered = true), (2, 0)).isEmpty)
    // exact search never warns; no segments never warns
    assert(Cli.segmentsWarning(idx(2, covered = false), (0, 0)).isEmpty)
    assert(Cli.segmentsWarning(idx(0, covered = true), (2, 0)).isEmpty)
  }

  test("layout tradeoff note fires only for SFC layouts") {
    assert(Cli.layoutTradeoffNote("none").isEmpty)
    assert(Cli.layoutTradeoffNote("zorder").exists(_.contains("doc_id")))
    assert(Cli.layoutTradeoffNote("hilbert").isDefined)
  }

  test("serving cache gate: pin within budget, disk-backed above it, " +
      "explicit flag always wins") {
    val budget = 1000L
    val fits = budget / Cli.ServeCacheInflation
    // fits (×inflation, covering the cache pins + the served arrays): cache
    assert(Cli.shouldCacheForServing(fits, budget, None))
    // exceeds: disk-backed serving
    assert(!Cli.shouldCacheForServing(fits + 1, budget, None))
    // explicit flags override the estimate both ways
    assert(Cli.shouldCacheForServing(10_000_000, budget, Some(true)))
    assert(!Cli.shouldCacheForServing(1, budget, Some(false)))
  }

  test("hitsJson serializes non-finite scores as null — bare NaN is invalid " +
      "JSON, and a custom reranker's NaN now reaches serving output") {
    import spark.implicits._
    val hits = Seq(
      ("d1", "docs/d1", "", 1, 2, "text one", Double.NaN, Some(0.5), None: Option[Double]),
      ("d2", "docs/d2", "", 3, 4, "text two", Double.PositiveInfinity, None: Option[Double], Some(0.25)),
      ("d3", "docs/d3", "", 5, 6, "text three", 0.75, Some(Double.NaN), Some(0.1)))
      .toDF("doc_id", "file_path", "header_path", "line_start", "line_end",
        "content", "score", "fts_score", "vss_score")
      .collect()
    val json = Cli.hitsJson(hits)
    // parses as strict JSON (jackson ships with Spark; strict mode rejects
    // bare NaN/Infinity tokens, which is exactly the regression pinned here)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val tree = mapper.readTree(json)
    assert(tree.isArray && tree.size() == 3)
    assert(tree.get(0).get("score").isNull)
    assert(tree.get(0).get("fts_score").asDouble() == 0.5)
    assert(tree.get(1).get("score").isNull)
    assert(tree.get(1).get("fts_score").isNull)
    assert(tree.get(2).get("score").asDouble() == 0.75)
    assert(tree.get(2).get("fts_score").isNull) // NaN cell, not absent column
  }

  test("interactive search loop honors an explicit --threshold") {
    import spark.implicits._
    val corpus = Seq(
      ("d1", "spark runs fast", Seq("spark", "runs", "fast"), Array(1f, 0f, 0f)),
      ("d2", "duck db database", Seq("duck", "db", "database"), Array(0f, 1f, 0f)))
      .toDF("doc_id", "content", "tokens", "embedding")
      .withColumn("file_path", concat(lit("docs/"), col("doc_id")))
      .withColumn("header_path", lit(""))
      .withColumn("line_start", lit(1)).withColumn("line_end", lit(1))
    val index = IndexData.fromDocuments(corpus,
      Seq(Setting("embedding_model", "hashing"), Setting("embedding_dim", "3")).toDF())
    val bos = new ByteArrayOutputStream()
    // a threshold above any attainable score filters every hit — results: []
    Cli.interactiveLoop(index, "unused-db", Iterator("spark"),
      new PrintStream(bos, true, "UTF-8"), k = 3, rerank = false,
      removeP = None, addP = None, threshold = Some(1e9))
    assert(bos.toString("UTF-8").trim == """{"results":[]}""")
  }

  test("interactive search loop answers each line and skips blanks") {
    import spark.implicits._
    val corpus = Seq(
      ("d1", "spark runs fast", Seq("spark", "runs", "fast"), Array(1f, 0f, 0f)),
      ("d2", "duck db database", Seq("duck", "db", "database"), Array(0f, 1f, 0f)))
      .toDF("doc_id", "content", "tokens", "embedding")
      .withColumn("file_path", concat(lit("docs/"), col("doc_id")))
      .withColumn("header_path", lit(""))
      .withColumn("line_start", lit(1)).withColumn("line_end", lit(1))
    val index = IndexData.fromDocuments(corpus,
      Seq(Setting("embedding_model", "hashing"), Setting("embedding_dim", "3")).toDF())

    val bos = new ByteArrayOutputStream()
    Cli.interactiveLoop(index, "unused-db", Iterator("spark", "", "   ", "database"),
      new PrintStream(bos, true, "UTF-8"), k = 3, rerank = false,
      removeP = None, addP = None)

    val outLines = bos.toString("UTF-8").trim.split("\n").toSeq
    assert(outLines.length == 2, outLines) // blank lines produce no output
    assert(outLines.forall(_.startsWith("""{"results":""")), outLines)
    assert(outLines.head.contains("\"doc_id\":\"d1\""), outLines.head)
    assert(outLines(1).contains("\"doc_id\":\"d2\""), outLines(1))
    // without --snippets the hit JSON carries NO snippet fields
    assert(!outLines.head.contains("\"snippet\""), outLines.head)

    // --snippets (round-18 directive #3): the same loop appends the
    // q_search_snippets kernel's four fields to every hit
    val bs = new ByteArrayOutputStream()
    Cli.interactiveLoop(index, "unused-db", Iterator("spark"),
      new PrintStream(bs, true, "UTF-8"), k = 3, rerank = false,
      removeP = None, addP = None, snippets = true)
    val line = bs.toString("UTF-8").trim
    assert(line.contains("\"term\":\"spark\""), line)
    assert(line.contains("\"off\":1"), line)
    assert(line.contains("\"snippet\":\"spark runs fast\""), line)
    assert(line.contains("\"highlighted\":\"[spark] runs fast\""), line)
  }

  test("jsonl serve: an escaped Japanese query returns the raw query's hits; " +
      "out-of-range top_k and malformed lines answer {\"error\"} without searching") {
    import spark.implicits._
    val an = graft.analyze.DefaultAnalyzer
    val corpus = Seq(
      ("d1", "全文検索と意味検索のハイブリッド", Array(1f, 0f, 0f)),
      ("d2", "味噌汁と炊き込みご飯の作り方", Array(0f, 1f, 0f)))
      .map { case (id, text, e) => (id, text, an.tokenize(text), e) }
      .toDF("doc_id", "content", "tokens", "embedding")
      .withColumn("file_path", concat(lit("docs/"), col("doc_id")))
      .withColumn("header_path", lit(""))
      .withColumn("line_start", lit(1)).withColumn("line_end", lit(1))
    val index = IndexData.fromDocuments(corpus,
      Seq(Setting("embedding_model", "hashing"), Setting("embedding_dim", "3")).toDF())
    var searches = 0
    def answer(q: String, k: Int): String = {
      searches += 1
      s"""{"results":${Cli.hitsJson(Cli.runSearch(index, "unused-db", q, k,
        rerank = true, None, None))}}"""
    }
    def serve(lines: String*): Seq[String] = {
      val bos = new ByteArrayOutputStream()
      Cli.jsonlLoop(lines.iterator, new PrintStream(bos, true, "UTF-8"), 5, answer)
      bos.toString("UTF-8").trim.split("\n").toSeq
    }

    val ja = "全文検索"
    val escaped = ja.flatMap(c => "\\" + "u" + "%04x".format(c.toInt))
    val Seq(raw, esc) = serve(s"""{"query":"$ja","top_k":3}""",
      s"""{"query":"$escaped","top_k":3}""")
    assert(raw.contains("\"doc_id\":\"d1\""), raw)
    assert(esc == raw)

    searches = 0
    val errs = serve("""{"query":"x","top_k":0}""", "", """{"query":"x","top_k":101}""",
      "{not json", """{"top_k":3}""")
    assert(searches == 0)
    assert(errs.size == 4, errs) // the blank line gets no answer
    assert(errs.forall(_.startsWith("{\"error\":")), errs)
    assert(errs(0) == """{"error":"top_k must be between 1 and 100, got 0"}""")
    assert(errs(1) == """{"error":"top_k must be between 1 and 100, got 101"}""")
    assert(errs(2).contains("malformed JSON request"), errs(2))
  }

  test("--top-k outside 1..100 fails with the named error before any Spark work") {
    for (cmd <- Seq("search", "serve"); k <- Seq("0", "101")) {
      val e = intercept[graft.serve.McpServer.TopKOutOfRange](
        Cli.main(Array(cmd, "--db", "/tmp/never_created_idx", "--query", "x", "--top-k", k)))
      assert(e.getMessage == s"top_k must be between 1 and 100, got $k")
    }
    assert(!new java.io.File("/tmp/never_created_idx").exists())
  }

  test("--queries batch CLI face: rows bit-match N single searches through " +
      "the SAME analyzer/embedder/reranker resolution (round-18 directive #4)") {
    import spark.implicits._
    // on-disk artifact (IndexJob-style e2e): the CLI resolves analyzer and
    // embedder from its settings, both per-request and batch
    val dir = java.nio.file.Files.createTempDirectory("graft-batchcli").toString
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id").cast("string").as("doc_id"), col("embedding"))
    val built = graft.index.IndexJob.fromTable(docs, "doc_id", "text",
      df => split(df("text"), " "), embeddings = Some(emb))
    IndexData.write(built.documents, built.settings, dir)
    val idx = IndexData.load(spark, dir)

    val queries = Seq("q0" -> "spark join merge",
      "q1" -> "window batch stream", "q2" -> "customer order value")
    for (rerank <- Seq(false, true)) {
      val batch = Cli.batchSearchFrame(idx, dir, queries, 5, rerank)
        .collect()
        .groupBy(_.getAs[String]("qid")).view
        .mapValues(_.sortBy(_.getAs[Long]("rank")).toSeq
          .map(r => (r.getAs[String]("doc_id"),
            math.rint(r.getAs[Double]("score") * 1e9)))).toMap
      queries.foreach { case (qid, text) =>
        val single = Cli.runSearch(idx, dir, text, 5, rerank, None, None).toSeq
          .map(r => (r.getAs[String]("doc_id"),
            math.rint(r.getAs[Double]("score") * 1e9)))
        assert(batch(qid) == single, s"qid=$qid rerank=$rerank:\n" +
          s"  batch =${batch(qid)}\n  single=$single")
      }
    }

    // queries-file forms: qid<TAB>text, bare text (qid = 1-based line no),
    // blank skip, duplicate-qid contract error
    assert(Cli.parseQueriesFile(Iterator("a\tspark joins", "", "plain text")) ==
      Seq("a" -> "spark joins", "3" -> "plain text"))
    intercept[RuntimeException](Cli.parseQueriesFile(Iterator("a\tx", "a\ty")))
    intercept[RuntimeException](Cli.parseQueriesFile(Iterator("", "   ")))
    // degenerate tab placements fold into well-formed rows (the line is
    // trimmed first): trailing tab+spaces vanish, a leading tab is bare text
    assert(Cli.parseQueriesFile(Iterator("a\t  ", "\tb c")) ==
      Seq("1" -> "a", "2" -> "b c"))
    // per-request-only modes are contract errors, not silent degradations
    intercept[RuntimeException](
      Cli.batchSearchFrame(idx, dir, queries, 5, rerank = false, fusion = "rrf"))
    intercept[RuntimeException](
      Cli.batchSearchFrame(idx, dir, queries, 5, rerank = false, ann = (0, 50)))
  }
}
