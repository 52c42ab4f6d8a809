package graft

import org.apache.spark.sql.SparkSession
import graft.analyze.DefaultAnalyzer
import graft.embed.HashingEmbedder
import graft.index.{IndexData, IndexJob}
import graft.rerank.TokenOverlapReranker
import graft.search.HybridSearch

/** CLI mirroring the reference's command surface (`src/cli.py:37-434`):
  *
  * {{{
  *   graft.Cli index  --db DIR --docs D1 [D2 ...] [--clear] [--trim-path-prefix P]
  *                    [--workers N]   (session parallelism, any command; reference -w —
  *                     its process-pool width maps to local executor threads + shuffle width)
  *                    (--docs may also be ONE .jsonl/.csv FILE: a pre-curated
  *                     row corpus — one row = one chunk, no splitter)
  *                    [--chunk-size N] [--overlap N] [--embedding-dim N]
  *                    [--analyzer default|bigram|whitespace]
  *                    [--dict FILE [--analyzer dict|dict-lattice]]   (CJK wordlist segmentation:
  *                     greedy longest-match (default) or lattice/Viterbi shortest-path;
  *                     wordlist persists in settings either way)
  *                    [--normalize NFC|NFD|NFKC|NFKD]   (Unicode-fold before tokenization;
  *                     persists inside the analyzer settings name, search folds queries identically)
  *                    [--ann-clusters K [--ann-iters N]]   (persist the IVF sidecar)
  *                    [--refit-ann] [--refit-pq]   (re-fit frozen sidecars after drift)
  *                    [--pq-codes K [--pq-iters N]]         (persist the PQ sidecar)
  *                    [--layout zorder|hilbert [--layout-files N]]   (cluster files)
  *                    [--merge append]   (O(delta) segment merges; see compact)
  *                    [--compact-every N]   (append mode: fold segments every N)
  *                    [--positions on|off]   (off: skip the Σdl-row phrase sidecar;
  *                     --phrase then uses the token-filter fallback)
  *                    [--watch]   (stream NEW files into the index until killed)
  *                    [--watch --format jsonl]   (watch a dir of JSONL row drops;
  *                     re-shipped doc_ids upsert)
  *                    [--multiline]   (row-corpus CSV/TSV whose quoted text holds raw newlines)
  *   graft.Cli search --db DIR --query Q [--top-k K] [--no-rerank]
  *                    [--queries FILE [--out DIR]]   (bulk evaluation: one query per
  *                     line, `qid<TAB>text` or bare text; ONE postings scan + ONE
  *                     kNN/probe pass for the whole set. --out writes parquet
  *                     (qid, rank, doc_id, score); without it, one JSON line per qid)
  *                    [--remove-path-prefix P] [--add-path-prefix P]
  *                    [--ann exact | ivf[:nprobe|:auto] | pq[:shortlist|:auto] | ivf[:np]+pq[:sl]]
  *                        (:auto = smallest nprobe/shortlist meeting the fitted recall
  *                         curve's 0.9 target, per leg; INTERACTIVE search defaults to
  *                         ivf:auto when the sidecar exists and its fitted curve meets
  *                         the target, else pq:auto on a pq-only artifact — --ann exact
  *                         forces the exact scan; one-shot --query stays exact)
  *                    [--fusion mean|rrf]   (score-average A4 or reciprocal-rank)
  *                    [--threshold T]   (min score; defaults 0.01 mean / 0.001 rrf)
  *                    [--phrase]   (candidates must contain the query as an adjacent run)
  *                    [--phrase-rank]   (phrase-FIRST retrieval: BM25 ranks the
  *                     corpus-wide phrase-matching docs via the positions sidecar)
  *                    [--near a,b[,c] --window w]   (proximity-FIRST retrieval:
  *                     docs where the terms appear in order within w positions —
  *                     the Lucene slop shape; any serving query line also accepts
  *                     the inline form `"a b"~w`)
  *                    [--ann-verify]   (also run the exact legs; live recall on stderr)
  *                    [--snippets]   (append term/off/snippet/highlighted per hit —
  *                     the q_search_snippets kernel over the ≤k hit rows; also
  *                     accepted by serve)
  *                    [--cache | --no-cache]   (interactive mode: force/skip pinning the
  *                     serving caches; default pins iff the artifact fits half
  *                     the driver heap — else serves disk-backed)
  *   graft.Cli serve  --db DIR [--top-k K] [--tool-name N] [--tool-description D]
  *                    [--transport stdio|http] [--host H] [--port P] [--path /mcp]
  *                    [--trim-prefix P] [--add-prefix P] [--protocol jsonl]
  *                    [--ann exact|ivf[:nprobe|:auto]|...]   (defaults to ivf:auto when the
  *                     IVF sidecar exists and its fitted recall curve meets the 0.9
  *                     target below nprobe=K; --ann exact forces the exact scan)
  *                    [--cache | --no-cache]   (force/skip the serving cache pins; see search)
  *                    (long-lived serving auto-detects committed on-disk index
  *                     changes — appends/compactions/rewrites — via a throttled
  *                     fingerprint check (spark.graft.serve.reloadCheckIntervalMs,
  *                     default 10s; negative disables) and reloads in place; the
  *                     MCP surface also exposes a `reload_index` tool that forces
  *                     the check immediately)
  *   graft.Cli compact --db DIR [--layout zorder|hilbert [--layout-files N]]
  *                    [--if-pending N]   (no-op unless >= N append segments pending)
  *   graft.Cli stats  --db DIR   (read-only index health JSON)
  *   graft.Cli curate --in DOCS --out DIR [--format parquet|jsonl|csv|tsv]
  *                    [--multiline]   (CSV/TSV with quoted raw newlines; one file = one split)
  *                    [--jaccard T] [--keep minid|longest] [--bucket-policy cap|subsplit]
  *                    [--containment T]   (drop docs >= T contained in a larger kept doc)
  *                    [--boilerplate-max F] [--decontaminate BENCH [--contamination-max F]]
  *                    [--sample] [--layout zorder|hilbert [--layout-cols x,y] [--layout-files N]]
  *                    [--shards N]
  *   graft.Cli version   (engine + Spark/Scala versions; reference `src/cli.py:31-34`)
  * }}}
  *
  * `--db` is the index *directory* (the artifact of SURVEY.md §1.3), not a
  * DuckDB file. `search` without `--query` enters the interactive loop
  * (reference `src/cli.py:345-379`). `serve` speaks MCP — JSON-RPC 2.0
  * initialize / tools/list / tools/call over stdio or http
  * (`src/server.py:19-98`) — over a long-lived SparkSession with the
  * search-path datasets cached (SURVEY.md §3.3); `--protocol jsonl` keeps
  * the legacy one-JSON-per-line protocol.
  */
object Cli {

  private def arg(args: Array[String], name: String): Option[String] = {
    val i = args.indexOf(name)
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }
  private def multiArg(args: Array[String], name: String): Seq[String] = {
    val i = args.indexOf(name)
    if (i < 0) Seq.empty
    else args.drop(i + 1).takeWhile(!_.startsWith("--")).toSeq
  }
  private def flag(args: Array[String], name: String): Boolean = args.contains(name)
  /** `--top-k`, default 5, within [[graft.serve.McpServer.checkTopK]]'s range. */
  private def topKArg(args: Array[String]): Int =
    graft.serve.McpServer.checkTopK(arg(args, "--top-k").map(_.toLong).getOrElse(5L))

  /** Serving-session value of `spark.sql.parquet.pushdown.inFilterThreshold`
    * — [[GraftSession]] raises the default 10 to this, so a
    * >10-distinct-term query keeps its pushed In(term,…) row-group pruning
    * instead of a min/max range spanning the alphabet between its terms
    * (SessionConfSpec pins both sides of the cliff). */
  val ServingInFilterThreshold = "1000"

  /** Session parallelism: `--workers N` (the reference's `-w`,
    * `src/cli.py:52-59` — its ProcessPoolExecutor width maps to local
    * executor threads here), resolved by [[GraftSession.cpus]]. */
  private def session(a: Array[String]): SparkSession =
    GraftSession.create(arg(a, "--workers").map(GraftSession.positiveInt("--workers", _)))

  def main(args: Array[String]): Unit = args.headOption match {
    case Some("index")   => indexCmd(args.tail)
    case Some("search")  => searchCmd(args.tail)
    case Some("serve")   => serveCmd(args.tail)
    case Some("curate")  => curateCmd(args.tail)
    case Some("compact") => compactCmd(args.tail)
    case Some("stats")   => statsCmd(args.tail)
    case Some("colloc")  => collocCmd(args.tail)
    case Some("version") => println(versionLine)
    case _ =>
      System.err.println("usage: graft.Cli index|search|serve|curate|compact|stats|colloc|version [options]")
      sys.exit(2)
  }

  /** Engine name + version. The reference's `version` command prints its
    * package version (reference `src/cli.py:31-34`); this engine's
    * equivalent adds the Spark/Scala runtime it executes on — the two
    * version facts a bug report against a Spark library actually needs.
    * No SparkSession: `version` must answer instantly. */
  private[graft] def versionLine: String =
    s"graft $Version (Spark ${org.apache.spark.SPARK_VERSION}, " +
      s"Scala ${scala.util.Properties.versionNumberString})"

  /** Kept in sync with build.sbt's `ThisBuild / version` (no BuildInfo
    * codegen available offline; a mismatch is caught by CliInteractiveSpec
    * reading build.sbt). */
  private[graft] val Version = "0.1.0"

  /** Mine top collocations from an index: ordered within-window pair
    * counts + PMI ([[graft.search.PhraseSearch.collocations]]) over the
    * artifact's positional sidecar — the sidecar-consuming path, no corpus
    * re-tokenization. An opt-out artifact (`--positions off`, or one built
    * before the sidecar existed) falls back to deriving positions from the
    * stored tokens column, corpus-scan-priced but identical results.
    * `--term X` restricts the REPORT to pairs involving X; it deliberately
    * does NOT restrict the mining — PMI needs corpus-wide unigram totals
    * either way, and a report filter can't bias the statistics. */
  private def collocCmd(a: Array[String]): Unit = {
    val db = arg(a, "--db").getOrElse(sys.error("--db required"))
    val window = arg(a, "--window").map(_.toInt).getOrElse(2)
    val minCount = arg(a, "--min-count").map(_.toLong).getOrElse(5L)
    val top = arg(a, "--top").map(_.toInt).getOrElse(20)
    val termFilter = arg(a, "--term")
    val spark = session(a)
    val index = IndexData.load(spark, db)
    // Some(frame) when the no-sidecar fallback persisted a derived frame
    // that must be unpersisted after the collect — spark.stop() would free
    // it today, but the pattern should stay safe if the command grows
    // (ADVICE r17)
    var derived = Option.empty[org.apache.spark.sql.DataFrame]
    val positions = index.positions.getOrElse {
      System.err.println(s"[graft] no positions/ sidecar at $db — deriving " +
        "positions from the stored tokens (corpus-scan-priced)")
      // materialize the derived frame once: collocations reads positions
      // THREE times (both pair-join legs + unigram counts) — re-deriving
      // the corpus posexplode per read would triple the promised price.
      // DISK_ONLY: the frame is Σdl rows (an ad-hoc positions sidecar),
      // deliberately not held in executor memory
      val f = graft.search.Bm25.positionalPostings(index.documents)
        .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
      derived = Some(f)
      f
    }
    try {
      val scored = graft.search.PhraseSearch.collocations(positions, window, minCount)
      val reported = termFilter.fold(scored)(t =>
        scored.filter(scored("term_a") === t || scored("term_b") === t))
      val rows = reported
        .orderBy(reported("pmi").desc, reported("term_a"), reported("term_b"))
        .limit(top).collect()
      def j(s: String) = graft.util.Json.str(s)
      rows.foreach { r =>
        val pmi = "%.4f".formatLocal(java.util.Locale.ROOT, r.getAs[Double]("pmi"))
        println(s"""{"term_a": ${j(r.getAs[String]("term_a"))}, """ +
          s""""term_b": ${j(r.getAs[String]("term_b"))}, """ +
          s""""n_ab": ${r.getAs[Long]("n_ab")}, "pmi": $pmi}""")
      }
      if (rows.isEmpty) System.err.println(
        s"[graft] no pairs with count ≥ $minCount in window $window" +
          termFilter.fold("")(t => s" involving '$t'"))
    } finally derived.foreach(_.unpersist())
    spark.stop()
  }

  /** Fold append-merge segments back into the canonical base and refresh
    * the ANN/PQ sidecars over the compacted corpus
    * ([[graft.index.IndexJob.compact]]). Also the one-time migration that
    * upgrades a pre-append-layout artifact. */
  private def compactCmd(a: Array[String]): Unit = {
    val db = arg(a, "--db").getOrElse(sys.error("--db required"))
    // `--if-pending N`: only fold when at least N append segments are
    // pending — the scheduled-compaction form of the append-merge posture
    // ("append often, compact on a schedule", AppendMergeProbe: the live
    // view costs a flat ~1.5× until folded). A cron job can run
    // `compact --if-pending 4` unconditionally; below threshold it is a
    // cheap no-op that leaves the artifact untouched.
    val ifPending = arg(a, "--if-pending").map(_.toInt)
    val spark = session(a)
    val before = IndexData.segments(spark, db).size
    compactSkipNote(before, ifPending).foreach { note =>
      println(note)
      spark.stop()
      return
    }
    val compactLayout = arg(a, "--layout").map(_.toLowerCase).getOrElse("none")
    layoutTradeoffNote(compactLayout).foreach(System.err.println)
    val compacted = IndexJob.compact(spark, db,
      layout = compactLayout,
      layoutFiles = arg(a, "--layout-files").map(_.toInt).getOrElse(8))
    println(s"compact: folded $before segment(s), " +
      s"${compacted.documents.count()} live docs -> $db")
    spark.stop()
  }

  /** `--layout zorder|hilbert` is an explicit trade: documents files get
    * (file_path, line_start) space-filling-curve locality INSTEAD of the
    * default doc_id clustering — so the serving fetch's pushed
    * `doc_id IN (…)` cannot prune this artifact and reads it whole per
    * request at large corpus sizes. Say so at write time, not at the first
    * slow query. */
  private[graft] def layoutTradeoffNote(layout: String): Option[String] =
    Option(layout).filter(l => l != "none").map(l =>
      s"[graft] note: --layout $l clusters documents by (file_path, line_start) " +
        "INSTEAD of doc_id — the serving fetch's IN-pruning does not apply to " +
        "this artifact (fine for path-predicate analytics; drop --layout if " +
        "low-latency serving is the priority)")

  /** The `compact --if-pending N` decision: Some(skip message) when fewer
    * than N append segments are pending (the fold would buy nothing worth
    * its full-corpus rewrite), None to proceed. No flag = always compact. */
  private[graft] def compactSkipNote(pending: Int, ifPending: Option[Int]): Option[String] =
    ifPending.filter(_ > pending).map(n =>
      s"compact: $pending pending segment(s) < --if-pending $n; nothing to do")

  /** Read-only index health report as one JSON line: corpus counts, BM25
    * constants, segment/sidecar state, and the persisted settings that
    * govern search (analyzer, embedding model, recall curve). Safe to run
    * against a live artifact — nothing is written. */
  private def statsCmd(a: Array[String]): Unit = {
    val db = arg(a, "--db").getOrElse(sys.error("--db required"))
    val spark = session(a)
    val index = IndexData.load(spark, db)
    val st = index.stats.collect().head
    val vocab = index.termdf.count()
    def j(s: String) = graft.util.Json.str(s)
    val settingsJson = index.settingsMap.toSeq
      .map { case (k, v) => s"${j(k)}: ${j(v)}" }
      .sorted.mkString("{", ",", "}")
    // formatLocal(Locale.ROOT): the plain f-interpolator uses the JVM
    // default locale, and a comma-decimal locale (de_DE) would emit
    // "avgdl": 12,345 — invalid JSON (same class as AnnIndex.encodeCurve)
    val avgdl = "%.3f".formatLocal(java.util.Locale.ROOT, st.getAs[Double]("avgdl"))
    println(
      s"""{"db": ${j(db)}, "n_docs": ${st.getAs[Long]("n_docs")}, """ +
        s""""avgdl": $avgdl, "vocab_terms": $vocab, """ +
        s""""pending_segments": ${index.pendingSegments}, """ +
        s""""format_version": ${IndexData.FormatVersion}, """ +
        s""""ann": ${index.ann.isDefined}, "pq": ${index.pq.isDefined}, """ +
        // drift keys hold the NUMERIC relative quantization-error growth
        // ("0.0" right after a fit); the warn flag applies the same
        // threshold the search-time warning uses
        s""""ann_drift": ${driftJson(index, graft.index.AnnIndex.DriftKey)}, """ +
        s""""pq_drift": ${driftJson(index, graft.index.PqIndex.DriftKey)}, """ +
        s""""settings": $settingsJson}""")
    spark.stop()
  }

  /** `{"value": <drift>, "warn": <bool>}`, or `null` when no sidecar ever
    * fit (the key is absent). */
  private def driftJson(index: IndexData, key: String): String =
    index.setting(key).flatMap(v => scala.util.Try(v.toDouble).toOption) match {
      case Some(d) =>
        val v = "%.4f".formatLocal(java.util.Locale.ROOT, d)
        s"""{"value": $v, "warn": ${d > graft.index.AnnIndex.DriftWarnThreshold}}"""
      case None => "null"
    }

  /** Run the end-to-end curation chain (quality gate → exact dedup →
    * near-dup clustering → optional weighted sampling) over a documents
    * parquet, writing `OUT/kept` + `OUT/report` — the pipeline-extension
    * surface as a usable tool (SURVEY.md §2.13). */
  private def curateCmd(a: Array[String]): Unit = {
    val in = arg(a, "--in").getOrElse(
      sys.error("--in <documents .parquet/.jsonl/.csv> required"))
    val out = arg(a, "--out").getOrElse(sys.error("--out <dir> required"))
    val opts = graft.ops.CuratePipeline.Opts(
      jaccardThreshold = arg(a, "--jaccard").map(_.toDouble).getOrElse(0.5),
      sample = flag(a, "--sample"),
      bucketPolicy = arg(a, "--bucket-policy").map(_.toLowerCase).getOrElse("cap"),
      // `--keep minid|longest`: which member of a near-dup cluster survives
      keepPolicy = arg(a, "--keep").map(_.toLowerCase).getOrElse("minid"),
      // `--boilerplate-max F`: drop docs dominated by corpus-repeated windows
      boilerplateMax = arg(a, "--boilerplate-max").map(_.toDouble).getOrElse(-1.0),
      // `--containment T`: drop docs >= T contained in a larger kept doc
      // (sub-document dups jaccard clustering cannot see)
      containmentMin = arg(a, "--containment").map(_.toDouble).getOrElse(-1.0),
      // `--normalize NFC|NFD|NFKC|NFKD`: Unicode-normalize the text before
      // tokenization so byte-distinct encodings of the same grapheme can't
      // evade the dedup/boilerplate hashes
      normalize = arg(a, "--normalize").map(_.toUpperCase))
    val spark = session(a)
    // `--format parquet|jsonl|csv|tsv` (default: by extension) — JSONL/CSV
    // corpora read through DocSources with pinned schemas (no inference scan)
    val docs = graft.sources.DocSources.read(spark, in, arg(a, "--format"),
      multiLine = flag(a, "--multiline"))
    // `--decontaminate BENCH[.parquet|.jsonl|.csv] [--contamination-max F]`:
    // screen the corpus against a benchmark table (doc_id, text) before dedup
    val optsD = arg(a, "--decontaminate") match {
      case None => opts
      case Some(benchPath) => opts.copy(
        decontaminate = Some(graft.sources.DocSources.read(spark, benchPath, None,
          multiLine = flag(a, "--multiline"))),
        contaminationMax =
          arg(a, "--contamination-max").map(_.toDouble).getOrElse(0.05))
    }
    val (kept, report) = graft.ops.CuratePipeline.run(docs, optsD)
    // `--layout zorder|hilbert [--layout-cols x,y] [--layout-files N]`:
    // range-cluster the kept corpus on the curve key before writing, so each
    // output file covers a disjoint key range (pure layout — same rows)
    val keptOut = arg(a, "--layout").map(_.toLowerCase) match {
      case None | Some("none") => kept
      case Some(m) =>
        val raw = arg(a, "--layout-cols").getOrElse("doc_id,text")
        val cols = raw.split(",").map(_.trim).filter(_.nonEmpty)
        if (cols.length != 2)
          sys.error(s"--layout-cols expects exactly two comma-separated column names " +
            s"(e.g. doc_id,text); got '$raw'")
        graft.ops.Layout.cluster(kept, m, cols(0), cols(1),
          arg(a, "--layout-files").map(_.toInt).getOrElse(8))
    }
    // `--shards N`: write the kept corpus as a training-output shard layout
    // (deterministic md5-mod shard key, one directory per shard via
    // partitionBy — the q_shard_assign assignment made physical). Composes
    // after --layout: clustering orders rows, sharding places files.
    val sharded = arg(a, "--shards").map(_.toInt) match {
      case None => keptOut.write
      case Some(n) =>
        require(n > 0, "--shards must be positive")
        keptOut
          .withColumn("shard_id", org.apache.spark.sql.functions.pmod(
            org.apache.spark.sql.functions.expr(
              "(instr('0123456789abcdef', substr(md5(text), 1, 1)) - 1) * 16 + " +
                "instr('0123456789abcdef', substr(md5(text), 2, 1)) - 1"),
            org.apache.spark.sql.functions.lit(n)))
          .repartition(org.apache.spark.sql.functions.col("shard_id"))
          .write.partitionBy("shard_id")
    }
    sharded.mode("overwrite").parquet(s"$out/kept")
    report.write.mode("overwrite").parquet(s"$out/report")
    val nIn = docs.count()
    val nKept = spark.read.parquet(s"$out/kept").count()
    println(s"curate: $nIn in, $nKept kept, ${nIn - nKept} dropped -> $out")
    spark.stop()
  }

  private val KnownEmbedders = Set("hashing", "tfidf", "word2vec")

  private def indexCmd(a: Array[String]): Unit = {
    val db = arg(a, "--db").getOrElse(sys.error("--db required"))
    val docs = multiArg(a, "--docs")
    require(docs.nonEmpty, "--docs requires at least one directory")
    // validate up front so a typo ("tf-idf") errors instead of silently
    // falling through to the hashing default in either path
    val embedder = arg(a, "--embedder").getOrElse("hashing")
    require(KnownEmbedders(embedder),
      s"unknown --embedder '$embedder' (expected one of: ${KnownEmbedders.toSeq.sorted.mkString(", ")})")
    // `--analyzer default|bigram|whitespace`: which tokenizer produces the
    // stored tokens; persisted in settings so search re-resolves the same
    // one (errors on a typo rather than silently indexing with the default).
    // `--dict FILE` (one word per line, UTF-8) upgrades the CJK handling to
    // dictionary longest-match with bigram fallback; the wordlist persists
    // inside the settings name, so search needs no extra flag.
    val baseAnalyzer = arg(a, "--dict") match {
      case Some(f) =>
        // `--analyzer dict` (greedy longest-match, the default) or
        // `--analyzer dict-lattice` (Viterbi shortest-path over the same
        // wordlist — segments ambiguous compounds where greedy strands a
        // remainder; round-20 directive #3); anything else conflicts
        val mode = arg(a, "--analyzer").map(_.toLowerCase).getOrElse("dict")
        require(mode == "dict" || mode == "dict-lattice",
          "--dict combines with --analyzer dict (greedy longest-match, " +
            "the default) or dict-lattice (lattice shortest-path); drop " +
            s"the conflicting --analyzer $mode")
        val words = java.nio.file.Files.readAllLines(
            java.nio.file.Paths.get(f),
            java.nio.charset.StandardCharsets.UTF_8)
          .toArray(Array.empty[String]).map(_.trim).filter(_.nonEmpty).toSet
        if (mode == "dict-lattice") graft.analyze.LatticeDictionaryAnalyzer(words)
        else graft.analyze.DictionaryAnalyzer(words)
      case None =>
        require(!arg(a, "--analyzer").exists(m =>
            m.equalsIgnoreCase("dict") || m.equalsIgnoreCase("dict-lattice")),
          "--analyzer dict/dict-lattice requires --dict FILE (the wordlist)")
        graft.analyze.Analyzers.byName(
          arg(a, "--analyzer").map(_.toLowerCase)
            .getOrElse(graft.analyze.Analyzers.DefaultName))
    }
    // `--normalize NFC|NFD|NFKC|NFKD`: Unicode-fold the text BEFORE
    // tokenization (what Lindera and every modern tokenizer do internally),
    // so full-width ASCII / ligatures / decomposed accents index and query
    // as the same terms. The form persists inside the analyzer settings
    // name (norm:<FORM>:<inner>), so search folds the query identically
    // with no extra flag — index-time and query-time forms cannot pair
    // stale by construction.
    val analyzer = arg(a, "--normalize") match {
      case Some(f) => graft.analyze.NormalizingAnalyzer(f.toUpperCase, baseAnalyzer)
      case None    => baseAnalyzer
    }
    val spark = session(a)
    val opts = IndexJob.Options(
      chunkSize = arg(a, "--chunk-size").map(_.toInt).getOrElse(512),
      overlap = arg(a, "--overlap").map(_.toInt).getOrElse(50),
      trimPathPrefix = arg(a, "--trim-path-prefix"),
      clear = flag(a, "--clear"),
      // reference `--splitter` enum (`src/cli.py:71-98`): llama-index ≙
      // "header" (default), chonkie ≙ "recursive"
      splitter = arg(a, "--splitter").map(_.toLowerCase).getOrElse("header") match {
        case "chonkie" | "recursive" => "recursive"
        case _                       => "header"
      },
      // the reference's HNSW build (`src/db.py:152-165`): persist an IVF
      // sidecar so `search --ann` can probe instead of scanning
      annClusters = arg(a, "--ann-clusters").map(_.toInt).getOrElse(0),
      annIters = arg(a, "--ann-iters").map(_.toInt).getOrElse(4),
      // drift recovery: drop the frozen centroids/codebooks and re-fit
      // over the merged corpus (responds to the drift warnings on search)
      annRefit = flag(a, "--refit-ann"),
      pqRefit = flag(a, "--refit-pq"),
      pqCodes = arg(a, "--pq-codes").map(_.toInt).getOrElse(0),
      pqIters = arg(a, "--pq-iters").map(_.toInt).getOrElse(3),
      layout = arg(a, "--layout").map(_.toLowerCase).getOrElse("none"),
      layoutFiles = arg(a, "--layout-files").map(_.toInt).getOrElse(8),
      // `--merge append`: O(delta) segment merges instead of base rewrites
      // (fold back with `graft compact`); default rewrite
      mergeMode = arg(a, "--merge").map(_.toLowerCase).getOrElse("rewrite"),
      // `--compact-every N`: watch-mode LSM fold cadence for append merges
      compactEvery = arg(a, "--compact-every").map(_.toInt).getOrElse(0),
      // `--positions off`: skip the Σdl-row positional sidecar (phrase
      // queries fall back to the token filter); persisted as the explicit
      // `positions=off` settings marker, inherited across merges
      positions = arg(a, "--positions").map(_.toLowerCase) match {
        case Some("off") => Some(false)
        case Some("on")  => Some(true)
        case Some(other) => sys.error(s"--positions expects on|off (got $other)")
        case None        => None
      })
    layoutTradeoffNote(opts.layout).foreach(System.err.println)
    val dim = arg(a, "--embedding-dim").map(_.toInt).getOrElse(64)
    if (flag(a, "--watch")) {
      // incremental streaming mode: keep folding NEW files from the first
      // docs dir into the index until killed (append-only per path — see
      // graft.streaming.IndexStream's contract)
      require(docs.size == 1, "--watch takes exactly one docs directory")
      // `--watch --format jsonl`: watch for JSONL row-corpus DROPS instead
      // of markdown files (one row = one chunk; per-doc_id upsert across
      // drops — IndexStream.startRows)
      val watchFmt = arg(a, "--format").map(_.toLowerCase)
      watchFmt.foreach(f => require(f == "jsonl",
        s"--watch supports --format jsonl only (got $f)"))
      val rowWatch = watchFmt.contains("jsonl")
      if (rowWatch) require(embedder == "hashing",
        s"--watch --format jsonl supports the hashing embedder only (got $embedder); " +
          "corpus-fit watch staleness contracts are markdown-watch features")
      val q = if (rowWatch)
        graft.streaming.IndexStream.startRows(
          spark, docs.head, db, new HashingEmbedder(dim), analyzer, opts)
      else embedder match {
        case "tfidf" =>
          // global-fit model, made incremental by the frozen-model +
          // periodic-re-fit staleness contract (IndexStream.startTfIdf;
          // `--refit-every N` micro-batches, 0 = barrier-only)
          graft.streaming.IndexStream.startTfIdf(
            spark, docs.head, db, dim, analyzer, opts,
            refitEvery = arg(a, "--refit-every").map(_.toInt).getOrElse(4))
        case "word2vec" =>
          // trained model under the same staleness contract
          graft.streaming.IndexStream.startWord2Vec(
            spark, docs.head, db, dim, analyzer, opts,
            refitEvery = arg(a, "--refit-every").map(_.toInt).getOrElse(4))
        case _ =>
          graft.streaming.IndexStream.start(
            spark, docs.head, db, new HashingEmbedder(dim), analyzer, opts)
      }
      System.err.println(s"[graft] watching ${docs.head} -> $db (ctrl-c to stop)")
      q.awaitTermination()
    } else {
      corpusFitRebuildWarning(embedder, opts.mergeMode, opts.clear,
        artifactExists = java.nio.file.Files.exists(
          java.nio.file.Paths.get(db, "documents")))
        .foreach(System.err.println)
      // a single --docs argument that is a JSONL/CSV FILE (by extension, or
      // an explicit --format) indexes a pre-curated row corpus (one row =
      // one chunk; see IndexJob.runRows); directories take the markdown
      // scan as before
      val fmtArg = arg(a, "--format").map(_.toLowerCase)
      val rowCorpus = docs.size == 1 &&
        java.nio.file.Files.isRegularFile(java.nio.file.Paths.get(docs.head)) &&
        fmtArg.getOrElse(graft.sources.DocSources.formatOf(docs.head)) != "parquet"
      val index =
        if (rowCorpus) {
          val rows = graft.sources.DocSources.read(spark, docs.head, fmtArg,
            multiLine = flag(a, "--multiline"))
          embedder match {
            case "tfidf" | "word2vec" =>
              IndexJob.runRowsFit(spark, rows, db, embedder, dim, analyzer, opts)
            case _ =>
              IndexJob.runRows(spark, rows, db, new HashingEmbedder(dim), analyzer, opts)
          }
        } else embedder match {
          case "tfidf"    => IndexJob.runTfIdf(spark, docs, db, dim, analyzer, opts)
          case "word2vec" => IndexJob.runWord2Vec(spark, docs, db, dim, analyzer, opts)
          case _          => IndexJob.run(spark, docs, db, new HashingEmbedder(dim), analyzer, opts)
        }
      println(s"indexed ${index.documents.count()} chunks into $db")
      // a freshly-fit IVF sidecar measured its own sample recall curve —
      // show the user the dial they just bought (see `--ann ivf:N`)
      index.setting(graft.index.AnnIndex.RecallCurveKey).foreach(c =>
        // wording matters: on frozen-centroid merges this curve is the one
        // measured at the LAST FIT, not on the corpus just written
        System.err.println(s"[graft] ann sample recall@10 by nprobe (measured at last fit): [$c]"))
      // batch face of the watch-mode LSM fold cadence: same trigger rule
      if (opts.mergeMode == "append" && opts.compactEvery > 0 &&
          IndexData.segments(spark, db).size >= opts.compactEvery) {
        val folded = IndexJob.compact(spark, db,
          layout = opts.layout, layoutFiles = opts.layoutFiles)
        println(s"compact: segment threshold reached, " +
          s"${folded.documents.count()} live docs folded")
      }
    }
    spark.stop()
  }

  private def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case '\r' => "\\r"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** JSON number or `null` — bare `NaN`/`Infinity` is invalid JSON, and a
    * custom reranker returning NaN reaches every serving output path
    * (one-shot, interactive, MCP) now that ServeSearch preserves NaN
    * scores instead of dropping them. */
  private def jsonNum(d: Double): String =
    if (java.lang.Double.isFinite(d)) d.toString else "null"

  private[graft] def hitsJson(hits: Array[org.apache.spark.sql.Row]): String =
    hits.map { r =>
      val opt = (n: String) => if (r.isNullAt(r.fieldIndex(n))) "null" else jsonNum(r.getAs[Double](n))
      val optStr = (n: String) =>
        if (r.isNullAt(r.fieldIndex(n))) "null" else jsonStr(r.getAs[String](n))
      // present only under --snippets: the q_search_snippets kernel's four
      // columns, nulls preserved (a hit whose text contains no query term
      // verbatim has term/off/highlighted null)
      val snip =
        if (!r.schema.fieldNames.contains("snippet")) ""
        else s""","term":${optStr("term")},""" +
          s""""off":${if (r.isNullAt(r.fieldIndex("off"))) "null"
            else r.getAs[Long]("off").toString},""" +
          s""""snippet":${optStr("snippet")},""" +
          s""""highlighted":${optStr("highlighted")}"""
      s"""{"doc_id":${jsonStr(r.getAs[String]("doc_id"))},""" +
        s""""file_path":${jsonStr(r.getAs[String]("file_path"))},""" +
        s""""header_path":${jsonStr(Option(r.getAs[String]("header_path")).getOrElse(""))},""" +
        s""""line_start":${r.getAs[Int]("line_start")},"line_end":${r.getAs[Int]("line_end")},""" +
        s""""content":${jsonStr(r.getAs[String]("content"))},""" +
        s""""score":${jsonNum(r.getAs[Double]("score"))},""" +
        s""""fts_score":${opt("fts_score")},"vss_score":${opt("vss_score")}$snip}"""
    }.mkString("[", ",", "]")

  /** Query-time analyzer must match the index-time tokenization — resolved
    * from the index `settings` (tokens are data; an index built with the
    * bigram analyzer searched with the default one would never match). An
    * index predating the setting falls back to the historical default. */
  private def analyzerFor(index: IndexData): graft.analyze.Analyzer =
    index.setting("analyzer").map(graft.analyze.Analyzers.byName)
      .getOrElse(DefaultAnalyzer)

  /** Query-time embedder must match the index-time model — resolved from the
    * index `settings`, like the reference (`src/cli.py:327-338`). Resolved
    * ONCE per loaded instance ([[IndexData.resolvedEmbedder]]): a tfidf/w2v
    * model load is a parquet listing plus a collect of the whole model,
    * which a served request must not repeat. A reloaded artifact or an
    * [[IndexData.upsertSetting]] copy is a new instance, so it resolves
    * afresh. Only a successful resolution is kept, so a missing or
    * mis-dimensioned model raises its named error on every request. */
  private def embedderFor(index: IndexData, db: String): graft.embed.Embedder =
    Option(index.resolvedEmbedder.get()).collect { case (`db`, e) => e }
      .getOrElse {
        val e = resolveEmbedder(index, db)
        index.resolvedEmbedder.set(db -> e)
        e
      }

  private def resolveEmbedder(index: IndexData, db: String): graft.embed.Embedder = {
    val dim = index.setting("embedding_dim").map(_.toInt).getOrElse(64)
    val tokenize = analyzerFor(index).tokenize _
    index.setting("embedding_model") match {
      case Some(m) if m.startsWith("tfidf-") =>
        graft.embed.TfIdfEmbed.load(index.documents.sparkSession, s"$db/tfidf_model",
            expectedDim = Some(dim))
          .embedder(tokenize)
      case Some(m) if m.startsWith("w2v-") =>
        graft.embed.Word2VecEmbed.load(index.documents.sparkSession,
            s"$db/w2v_model", expectedDim = Some(dim))
          .embedder(tokenize)
      case _ => new HashingEmbedder(dim)
    }
  }

  /** Corpus-fit embedders (tfidf/word2vec) ALWAYS rebuild the artifact
    * from the given `--docs` (the model fits over the scanned corpus;
    * merging old-model docs would mix embedding spaces —
    * [[graft.index.IndexJob.runTfIdf]]). A user combining them with
    * `--merge append`, or re-indexing an existing artifact without
    * `--clear`, expects a merge and silently loses every document not
    * under `--docs` — found by driving the append→compact cycle. Returns
    * the stderr warning, or None when the combination can't surprise. */
  private[graft] def corpusFitRebuildWarning(embedder: String,
      mergeMode: String, clear: Boolean, artifactExists: Boolean): Option[String] =
    if (!Seq("tfidf", "word2vec").contains(embedder)) None
    else if (mergeMode != "append" && (clear || !artifactExists)) None
    else Some(
      s"[graft] warning: --embedder $embedder is corpus-fit — the index is " +
        "always REBUILT from the given --docs; merge/append semantics do " +
        "not apply and existing documents outside --docs will be DROPPED. " +
        "Use --watch for incremental corpus-fit indexing, or the hashing " +
        "embedder for append merges.")

  /** Sentinel nprobe for `--ann ivf:auto` — resolved against the fitted
    * recall curve by [[resolveAutoNprobe]] once the index is loaded. */
  private[graft] val AutoNprobe = -1

  /** Sentinel shortlist for `--ann pq:auto` — resolved against the fitted
    * shortlist→recall curve by [[resolveAutoShortlist]] once the index is
    * loaded. Symmetric with [[AutoNprobe]]; in `ivf:auto+pq:auto` each leg
    * resolves independently against its own curve. */
  private[graft] val AutoShortlist = -1

  /** Parse `--ann ivf[:nprobe|:auto] | pq[:shortlist|:auto] |
    * ivf[:np]+pq[:sl]` into (ivf nprobe, pq shortlist); (0,0) = exact.
    * Both nonzero = the composed path (partition-prune code files by
    * probe, then ADC). */
  private[graft] def parseAnn(v: Option[String]): (Int, Int) = v match {
    case None => (0, 0)
    case Some(s) =>
      // `exact` is a whole-mode override, not a combinable leg: silently
      // reducing `exact+ivf:4` to the probed path would contradict the
      // "exact forces the exact scan" contract
      if (s.contains("+") && s.split("\\+").contains("exact"))
        sys.error(s"--ann '$s': 'exact' cannot be combined with other legs " +
          "(it forces the exact scan — drop it or drop the other legs)")
      // explicit numbers must be positive: 0 would silently mean "exact"
      // and a negative would collide with the Auto* sentinels (-1), turning
      // `--ann pq:-1` into an accidental auto request
      def positive(what: String, v: String): Int = {
        val n = v.toInt
        if (n <= 0) sys.error(s"--ann $what must be positive, got $n")
        n
      }
      s.split("\\+").map(_.split(":", 2) match {
        case Array("exact")       => (0, 0) // explicit exact-scan override
        case Array("ivf")         => (2, 0)
        case Array("ivf", "auto") => (AutoNprobe, 0)
        case Array("ivf", np)     => (positive("ivf nprobe", np), 0)
        case Array("pq")          => (0, graft.index.PqIndex.DefaultShortlist)
        case Array("pq", "auto")  => (0, AutoShortlist)
        case Array("pq", sl)      => (0, positive("pq shortlist", sl))
        case _ => sys.error(s"unknown --ann '$s' " +
          "(expected exact, ivf[:<nprobe>|:auto], pq[:<shortlist>|:auto], " +
          "or ivf[:np]+pq[:sl])")
      }).reduce { (a, b) =>
        // the Auto* sentinels are -1: a plain max would let the other leg's
        // 0 erase them and silently drop a leg from `--ann ivf:auto+pq:sl`
        // (or ivf:np+pq:auto) — auto must survive the combine
        def keep(auto: Int)(x: Int, y: Int) =
          if (x == auto || y == auto) auto else math.max(x, y)
        (keep(AutoNprobe)(a._1, b._1), keep(AutoShortlist)(a._2, b._2))
      }
  }

  /** The auto-resolution recall target shared by EVERY fit-curve consumer —
    * ivf/pq `:auto` resolution AND the serve-default decision. One constant
    * (round-19 ADVICE): the serve default and the later `:auto` resolution
    * read the same curves, so two hardcoded targets could silently disagree
    * on the operating point. */
  private[graft] val DefaultRecallTarget = 0.9

  /** Decoded PQ fit-time recall curve from the index settings — empty when
    * absent or malformed (callers then fall back per their own contract). */
  private[graft] def pqFitCurve(index: IndexData): Seq[(Int, Double)] =
    index.setting(graft.index.PqIndex.RecallCurveKey)
      .flatMap(graft.index.AnnIndex.decodeCurveOpt).getOrElse(Seq.empty)

  /** Smallest curve point whose fitted recall meets `target`; None when the
    * curve never reaches it. Shared by [[resolveAutoShortlist]] and
    * [[defaultServeAnn]] so both resolve the same shortlist. */
  private[graft] def targetPoint(curve: Seq[(Int, Double)],
      target: Double = DefaultRecallTarget): Option[Int] =
    curve.find(_._2 >= target).map(_._1)

  /** `--ann ivf:auto`: pick the SMALLEST nprobe whose fit-time sample
    * recall meets `target` (recall is monotone in nprobe, so smallest-
    * sufficient is optimal); an index whose curve never reaches the target
    * probes everything (the curve ends at nprobe = K ≡ exact); a pre-curve
    * artifact falls back to the ivf default of 2. Non-auto requests pass
    * through untouched. */
  private[graft] def resolveAutoNprobe(index: IndexData, ann: (Int, Int),
      target: Double = DefaultRecallTarget): (Int, Int) =
    if (ann._1 != AutoNprobe) ann
    else {
      val np = index.setting(graft.index.AnnIndex.RecallCurveKey)
        .flatMap(graft.index.AnnIndex.decodeCurveOpt) // malformed ⇒ ivf default
        .flatMap(c => c.find(_._2 >= target).orElse(c.lastOption).map(_._1))
        .getOrElse(2)
      System.err.println(
        f"[graft] --ann ivf:auto resolved to nprobe=$np (fitted sample " +
          f"recall target $target%.2f; curve ${index.setting(
            graft.index.AnnIndex.RecallCurveKey).getOrElse("absent — default 2")}%s)")
      (np, ann._2)
    }

  /** Above this resolved shortlist the two-stage PQ path stops beating the
    * exact scan on THIS engine's storage layout: past ~200 scattered ids
    * the pushed-In rerank fetch degrades to a range filter that reads
    * ~the whole embeddings column anyway (FetchProbe round-15: a 500-id
    * fetch touched 84.9% of row groups), so the request pays the codes
    * scan ON TOP of an effectively-full exact pass — PqServeProbe
    * round-19 measured pq:auto at 2.2×/4.4× the exact p50 on 20k/200k
    * incompressible embeddings where the 0.9 target resolves 2560/10240.
    * The serve DEFAULT declines pq:auto past this bound (an explicit
    * `--ann pq:auto` is still honored — with the advisory below). One
    * constant with the engine's rerank-fetch bound. */
  private[graft] val ServeAutoShortlistMax =
    graft.search.HybridSearch.RerankFetchInMax

  /** `--ann pq:auto`: pick the SMALLEST reranked shortlist whose fit-time
    * sample recall meets `target` (recall is monotone in the shortlist —
    * ADC shortlists nest and the exact rerank keeps every true member); a
    * curve that never reaches the target takes its last measured point
    * (the code-row count ≡ exact); a pre-curve artifact falls back to the
    * pq default. The exact mirror of [[resolveAutoNprobe]] over the
    * [[graft.index.PqIndex.RecallCurveKey]] curve. */
  private[graft] def resolveAutoShortlist(index: IndexData, ann: (Int, Int),
      target: Double = DefaultRecallTarget): (Int, Int) =
    if (ann._2 != AutoShortlist) ann
    else {
      val curve = pqFitCurve(index) // malformed/absent ⇒ empty ⇒ pq default
      val sl = targetPoint(curve, target)
        .orElse(curve.lastOption.map(_._1))
        .getOrElse(graft.index.PqIndex.DefaultShortlist)
      System.err.println(
        f"[graft] --ann pq:auto resolved to shortlist=$sl (fitted sample " +
          f"recall target $target%.2f; curve ${index.setting(
            graft.index.PqIndex.RecallCurveKey).getOrElse(
            s"absent — default ${graft.index.PqIndex.DefaultShortlist}")}%s)")
      if (sl > ServeAutoShortlistMax) System.err.println(
        s"[graft] note: shortlist $sl is past the pruned-fetch regime " +
          s"(~$ServeAutoShortlistMax ids) — on this corpus the two-stage " +
          "PQ path may not beat --ann exact (the rerank fetch reads most " +
          "row groups); consider ivf, a stronger embedder, or --ann exact.")
      (ann._1, sl)
    }

  /** Resolve BOTH auto sentinels of a parsed `--ann` mode against the
    * loaded index's persisted curves — each leg independently: nprobe from
    * the IVF curve, shortlist from the PQ curve. */
  private[graft] def resolveAutoAnn(index: IndexData, ann: (Int, Int),
      target: Double = DefaultRecallTarget): (Int, Int) =
    resolveAutoShortlist(index, resolveAutoNprobe(index, ann, target), target)

  /** The serving-default decision rule (round-12 directive 2), pure for the
    * spec: `graft serve` and the interactive loop default to `ivf:auto`
    * exactly when (a) the artifact has an IVF sidecar, (b) its fitted
    * recall curve reaches the 0.9 auto target, and (c) the smallest nprobe
    * meeting it is strictly below the curve's last measured point (nprobe =
    * K ≡ probe-everything) — i.e. the probe genuinely prunes. Anything else
    * keeps the exact scan: no sidecar, no persisted curve (pre-curve
    * artifact), or an honest curve that says pruning costs recall. */
  private[graft] def serveDefaultsToAuto(hasAnn: Boolean,
      curveSetting: Option[String], target: Double = DefaultRecallTarget): Boolean =
    hasAnn && {
      // the no-flag default path must never crash serve startup on a
      // malformed persisted curve (hand-edited settings, partial write):
      // fall back to the exact scan instead of a MatchError
      val curve = curveSetting
        .flatMap(graft.index.AnnIndex.decodeCurveOpt).getOrElse(Seq.empty)
      curve.find(_._2 >= target).exists(_._1 < curve.last._1)
    }

  /** Resolve the serving `--ann` mode: an explicit flag (incl. `--ann
    * exact`) always wins; with NO flag the serving surfaces follow
    * [[serveDefaultsToAuto]] — the reference always serves through its HNSW
    * index (`src/db.py:152-165`, `src/searcher.py:135-143`), and the 5M-doc
    * ServeProbe decade showed the exact VSS scan dominating request latency
    * (~575 ms) right where the fitted probe wins 1.8×. One-shot
    * `graft search --query` keeps its exact default (a cold session never
    * amortizes the sidecar load). */
  private[graft] def defaultServeAnn(index: IndexData, userAnn: Option[String]): (Int, Int) =
    userAnn match {
      case Some(_) => parseAnn(userAnn)
      case None =>
        if (serveDefaultsToAuto(index.ann.isDefined,
            index.setting(graft.index.AnnIndex.RecallCurveKey))) {
          System.err.println("[graft] serving defaults to --ann ivf:auto " +
            "(IVF sidecar present, fitted recall curve meets the 0.9 target " +
            "below nprobe=K); pass --ann exact to force the exact scan")
          (AutoNprobe, 0)
        } else {
          // pq face of the honest-curve rule, with one EXTRA requirement
          // the ivf face doesn't need: the smallest target-meeting
          // shortlist must sit inside the pruned-fetch regime
          // ([[ServeAutoShortlistMax]]) — "below shortlist=corpus" alone is
          // NOT a pruning win here, because past ~200 scattered ids the
          // rerank fetch reads ~every row group regardless (PqServeProbe:
          // pq at a 2560/10240-id operating point lost 2.2×/4.4× to the
          // exact scan). A healthy IVF curve takes precedence above (its
          // probe prunes the SCAN); this branch catches the no-IVF /
          // unhealthy-IVF artifact whose embeddings compress well enough
          // that a SMALL shortlist meets the target.
          val pqFit = pqFitCurve(index)
          val resolved = targetPoint(pqFit) // same target + resolution as pq:auto
          if (index.pq.isDefined && pqFit.nonEmpty &&
              resolved.exists(s => s < pqFit.last._1 && s <= ServeAutoShortlistMax)) {
            System.err.println("[graft] serving defaults to --ann pq:auto " +
              "(PQ sidecar present, fitted recall curve meets the 0.9 target " +
              "inside the pruned-fetch regime); pass --ann exact to force " +
              "the exact scan")
            (0, AutoShortlist)
          } else (0, 0)
        }
    }

  /** Lucene-style slop query syntax: `"table value"~4` → proximity search
    * with window 4 over the quoted terms. Parsed PER REQUEST, so the
    * serve/interactive surfaces accept it on any query line (round-17
    * directive #3) — an explicit `--near` flag wins over it. */
  private[graft] val SlopQueryRe = """^\s*"(.+)"~(\d+)\s*$""".r

  /** Resolve the proximity restriction for one request: the `--near`
    * flag's comma list (tokenized through the INDEX analyzer, so
    * normalization/bigram folding applies to the near terms exactly as to
    * the query), or the query's own slop syntax. Returns the effective
    * BM25 query text plus (terms, window) — Nil when no near mode. */
  private[graft] def resolveNear(query: String, nearRaw: Option[String],
      window: Option[Int], tokenize: String => Seq[String])
      : (String, Seq[String], Int) = nearRaw match {
    case Some(raw) =>
      val ts = raw.split(",").toSeq.map(_.trim).filter(_.nonEmpty)
        .flatMap(tokenize)
      // all-empty tokenization (punctuation-only terms, a lone separator)
      // must ERROR, not silently disable the restriction the user asked
      // for and return unrestricted results
      if (ts.isEmpty) sys.error(
        s"--near '$raw' tokenized to no terms under the index analyzer — " +
          "nothing to restrict on; fix the term list")
      (query, ts, window.getOrElse(sys.error(
        "--near requires --window W (max span, in token positions)")))
    case None => query match {
      case SlopQueryRe(inner, w) =>
        val ts = tokenize(inner)
        if (ts.isEmpty) sys.error(
          s"""slop query "$inner"~$w tokenized to no terms under the """ +
            "index analyzer — nothing to restrict on")
        // \d+ is unbounded — an 11+-digit window must get the contract
        // error, not a raw NumberFormatException stack trace
        val win = scala.util.Try(w.toInt).getOrElse(sys.error(
          s"slop window '$w' is not a valid integer"))
        (inner, ts, win)
      case _ => (query, Nil, 0)
    }
  }

  private[graft] def runSearch(index: IndexData, db: String, query: String, k: Int, rerank: Boolean,
      removeP: Option[String], addP: Option[String], ann: (Int, Int) = (0, 0),
      fusion: String = "mean", threshold: Option[Double] = None,
      phrase: Boolean = false, phraseRank: Boolean = false,
      nearRaw: Option[String] = None, nearWindow: Option[Int] = None,
      snippets: Boolean = false) = {
    val analyzer = analyzerFor(index)
    val (bm25Query, nearTerms, nw) =
      resolveNear(query, nearRaw, nearWindow, analyzer.tokenize)
    // the serving surface (interactive loop, one-shot search, MCP) runs the
    // low-latency ServeSearch formulation — bit-identical to the DataFrame
    // DAG path HybridSearch.search (ServeSearchSpec) at roughly half the
    // per-request latency
    val res = graft.search.ServeSearch.search(index, bm25Query, analyzer,
      Some(embedderFor(index, db)),
      // the rerank leg must score in the SAME token space as the index
      // (bigram index + unigram rerank would resurrect single-char overlap)
      if (rerank) Some(new TokenOverlapReranker(analyzer.tokenize)) else None,
      HybridSearch.Options(k = k, rerank = rerank,
        removePathPrefix = removeP, addPathPrefix = addP,
        annNprobe = ann._1, annPqShortlist = ann._2, fusion = fusion,
        phraseOnly = phrase, phraseRank = phraseRank,
        nearTerms = nearTerms, nearWindow = nw,
        // RRF scores live in (0, 2/61]; the reference's 0.01 threshold would
        // cut real hits once k > 40 — scale the DEFAULT to the rank domain
        // (an explicit --threshold wins, with [[thresholdWarning]] if it
        // looks mean-domain-sized)
        scoreThreshold = threshold.getOrElse(if (fusion == "rrf") 0.001 else 0.01)))
    // `--snippets`: the oracle-checked q_search_snippets kernel as a
    // projection over the ≤k hit rows — term matching runs over the same
    // analyzer tokens the BM25 leg searched (round-18 directive #3)
    (if (snippets)
      graft.search.Snippets.project(res, res("content"),
        analyzer.tokenize(bm25Query))
    else res).collect()
  }

  /** Parse a `--queries` file: one query per line, either `qid<TAB>text`
    * or bare text (qid = the 1-based line number). Blank lines skip; a
    * duplicate qid is a contract error (it would silently merge two
    * queries' candidate sets in the batch join). */
  private[graft] def parseQueriesFile(lines: Iterator[String]): Seq[(String, String)] = {
    val qs = lines.zipWithIndex.flatMap { case (line, i) =>
      val t = line.trim
      if (t.isEmpty) None
      else t.split("\t", 2) match {
        // empty qid or empty text are unrepresentable here: `t` is the
        // TRIMMED line, so it starts and ends non-whitespace — a leading
        // tab folds into the bare-text form and a trailing tab disappears
        case Array(qid, text) => Some(qid.trim -> text.trim)
        case _                => Some((i + 1).toString -> t)
      }
    }.toSeq
    val dup = qs.groupBy(_._1).collect { case (q, g) if g.size > 1 => q }
    if (dup.nonEmpty) sys.error(
      s"--queries file has duplicate qids: ${dup.mkString(", ")} — qids must be unique")
    if (qs.isEmpty) sys.error("--queries file has no queries")
    qs
  }

  /** `graft search --queries FILE` core — bulk query evaluation through
    * [[graft.search.BatchSearch]]: ONE postings scan + ONE kNN (or probed)
    * pass for the whole query set, instead of N per-request sessions
    * (round-18 directive #4). Same analyzer/embedder/reranker resolution
    * as [[runSearch]], so a batch row set per query matches the
    * single-query surface (BatchSearchSpec parity, CLI face pinned in
    * CliInteractiveSpec). Returns (qid, rank, doc_id, score). */
  private[graft] def batchSearchFrame(index: IndexData, db: String,
      queries: Seq[(String, String)], k: Int, rerank: Boolean,
      ann: (Int, Int) = (0, 0), fusion: String = "mean",
      threshold: Option[Double] = None): org.apache.spark.sql.DataFrame = {
    // contract errors, not silent degradations: the batch engine fuses by
    // the mean rule and accelerates through the IVF probe only
    if (fusion != "mean") sys.error(
      s"--queries supports --fusion mean only (got $fusion); rrf is a " +
        "per-request serving mode")
    if (ann._2 > 0) sys.error(
      "--queries supports --ann exact or ivf[:nprobe|:auto] (got a pq " +
        "shortlist); the ADC rerank is a per-request serving mode")
    val analyzer = analyzerFor(index)
    val opts = graft.search.BatchSearch.Options(k = k,
      scoreThreshold = threshold.getOrElse(0.01), annNprobe = ann._1)
    val res =
      if (rerank) graft.search.BatchSearch.searchBatchReranked(
        index, queries, new TokenOverlapReranker(analyzer.tokenize),
        analyzer, Some(embedderFor(index, db)), opts)
      else graft.search.BatchSearch.searchBatch(
        index, queries, analyzer, Some(embedderFor(index, db)), opts)
    res.select("qid", "rank", "doc_id", "score")
  }

  /** The `--threshold` / `--fusion rrf` domain-mismatch check: RRF scores
    * are rank-domain (a doc present in ONE leg at rank r contributes
    * 1/(60+r), so anything past rank k scores ≤ 1/(60+k) and the best
    * possible score is 2/61 ≈ 0.033). An explicit threshold above 1/(60+k)
    * — e.g. the reference's mean-domain habit of 0.01 with a large k — cuts
    * real hits with no visible error. Returns the stderr note to print, or
    * None when the combination is coherent. */
  private[graft] def thresholdWarning(
      threshold: Option[Double], fusion: String, k: Int): Option[String] =
    threshold.filter(t => fusion == "rrf" && t > 1.0 / (HybridSearch.RrfK + k)).map { t =>
      f"[graft] warning: --threshold $t%s with --fusion rrf exceeds the max " +
        f"single-leg RRF contribution at rank k (1/(60+$k) = ${1.0 / (HybridSearch.RrfK + k)}%.5f); " +
        "rrf scores are rank-domain (max 2/61 ≈ 0.033) — hits will be " +
        "filtered. Use a threshold below 1/(60+k), or --fusion mean."
    }

  /** The `--ann-verify` report: overlap of the approximate result's doc ids
    * with the exact result's, as live per-query recall. None when the exact
    * search itself returned nothing (0/0 is not a recall). */
  private[graft] def annVerifyNote(
      approxIds: Seq[String], exactIds: Seq[String]): Option[String] = {
    val e = exactIds.toSet
    if (e.isEmpty) None
    else {
      val overlap = approxIds.toSet.intersect(e).size
      Some(f"[graft] --ann-verify: overlap ${overlap}/${e.size} with the " +
        f"exact legs (live recall ${overlap.toDouble / e.size}%.2f); " +
        "raise nprobe/shortlist if this is low — see q_ann_recall for the " +
        "corpus-level curve")
    }
  }

  /** `--ann pq:S` with S < k starves the final cut: the exact rerank can
    * return at most S candidates, so `--top-k K` quietly yields S rows.
    * Returns the stderr note, or None when coherent. */
  private[graft] def shortlistWarning(ann: (Int, Int), k: Int): Option[String] =
    Some(ann._2).filter(s => s > 0 && s < k).map { s =>
      s"[graft] warning: --ann pq shortlist $s is smaller than --top-k $k — " +
        s"at most $s results can come back; raise the shortlist (pq:$k or more)."
    }

  /** Fit-time recall guidance for `--ann ivf:N`: the index persisted its
    * sample nprobe→recall curve when the centroids were fit
    * ([[graft.index.AnnIndex.recallCurve]]); if the curve's recall at the
    * requested nprobe (largest measured step ≤ N — recall is monotone in
    * nprobe, so that's a lower bound) is below
    * [[graft.index.AnnIndex.RecallWarnThreshold]], say so before the user
    * wonders where their documents went. Returns the stderr note, or
    * None. */
  private[graft] def recallWarning(index: IndexData, ann: (Int, Int)): Option[String] = {
    def legNote(active: Boolean, curveKey: String, leg: String, dial: String,
        requested: Int, fix: String): Option[String] =
      if (!active) None
      else index.setting(curveKey).flatMap { s =>
        graft.index.AnnIndex.decodeCurveOpt(s).getOrElse(Seq.empty)
          .filter(_._1 <= requested).lastOption
          .filter(_._2 < graft.index.AnnIndex.RecallWarnThreshold)
          .map { case (step, r) =>
            f"[graft] note: fit-time sample recall@10 at $dial=$step is $r%.2f " +
              f"(< ${graft.index.AnnIndex.RecallWarnThreshold}%.1f) — expect " +
              s"missing neighbors at --ann $leg:$requested; the measured " +
              s"curve is [$s], pick a larger $dial or $fix."
          }
      }
    val msgs =
      legNote(ann._1 > 0, graft.index.AnnIndex.RecallCurveKey, "ivf",
        "nprobe", ann._1, "--refit-ann") ++
        legNote(ann._2 > 0, graft.index.PqIndex.RecallCurveKey, "pq",
          "shortlist", ann._2, "--refit-pq")
    if (msgs.isEmpty) None else Some(msgs.mkString("\n"))
  }

  /** The sidecar-staleness check (IndexJob.withAnn/withPq drift contract):
    * when an `--ann` search runs against an artifact whose measured drift
    * passed [[graft.index.AnnIndex.DriftWarnThreshold]], say so —
    * frozen-centroid/-codebook recall decay is otherwise silent. Checks the
    * sidecar(s) the requested mode actually serves from. Returns the
    * stderr note, or None. */
  private[graft] def driftWarning(index: IndexData, ann: (Int, Int)): Option[String] = {
    def check(active: Boolean, key: String, what: String, fix: String): Option[String] =
      if (!active) None
      else index.setting(key).map(_.toDouble)
        .filter(_ > graft.index.AnnIndex.DriftWarnThreshold)
        .map { d =>
          f"[graft] warning: $what drift $d%.3f exceeds " +
            f"${graft.index.AnnIndex.DriftWarnThreshold}%.2f — the corpus has shifted " +
            s"since the fit and --ann recall may have decayed; re-fit with " +
            s"`graft index $fix`."
        }
    val msgs =
      check(ann._1 > 0, graft.index.AnnIndex.DriftKey, "ANN centroid", "--refit-ann") ++
        check(ann._2 > 0, graft.index.PqIndex.DriftKey, "PQ codebook", "--refit-pq")
    if (msgs.isEmpty) None else Some(msgs.mkString("\n"))
  }

  /** The online paths (interactive search, serve) run ≤2k-row plans over
    * cached datasets; AQE's per-stage re-planning only adds fixed latency
    * there. Batch jobs (index/curate/one-shot search over a cold session)
    * keep it on. */
  private def disableAqeForOnline(spark: SparkSession): Unit =
    spark.conf.set("spark.sql.adaptive.enabled", "false")

  /** The reference's add-prefix DEFAULT (`src/cli.py:187-189`, `320-322`):
    * when `--add-path-prefix` is absent, results are prefixed with the
    * db's parent directory — with os.path.join semantics, so an index
    * whose stored paths were trimmed relative to the artifact comes back
    * resolvable from the caller's cwd, while absolute/URI stored paths
    * pass through untouched. dirname of a bare name is "" (falsy in the
    * reference) → no default.
    *
    * Faithful posixpath.dirname, NOT java.io.File.getParent (round-18
    * second review): dirname('/tmp/idx/') is '/tmp/idx' — the artifact
    * dir itself, the shell tab-completion shape — while getParent climbs
    * to '/tmp'; dirname('/idx') keeps the root '/'. */
  private[graft] def defaultAddPrefix(db: String): Option[String] = {
    val i = db.lastIndexOf('/')
    if (i < 0) None // dirname("idx") = "" — falsy, no default
    else {
      val head = db.substring(0, i + 1)
      val d =
        if (head.forall(_ == '/')) head // dirname("/idx") = "/"
        else head.reverse.dropWhile(_ == '/').reverse
      Some(d).filter(_.nonEmpty)
    }
  }

  private def searchCmd(a: Array[String]): Unit = {
    val db = arg(a, "--db").getOrElse(sys.error("--db required"))
    val k = topKArg(a)
    val rerank = !flag(a, "--no-rerank")
    val removeP = arg(a, "--remove-path-prefix")
    val addP = arg(a, "--add-path-prefix").orElse(defaultAddPrefix(db))
    val annArg = arg(a, "--ann")
    val ann = parseAnn(annArg)
    val fusion = arg(a, "--fusion").getOrElse("mean")
    val threshold = arg(a, "--threshold").map(_.toDouble)
    // `--phrase`: candidates must contain the query terms as an adjacent
    // in-order run (positional filter over the fused candidate set)
    val phrase = flag(a, "--phrase")
    // `--phrase-rank`: phrase-FIRST retrieval — the BM25 leg ranks the
    // corpus-wide phrase-matching docs (positions-sidecar probe) instead
    // of filtering whatever made the global top-k; see HybridSearch.Options
    val phraseRank = flag(a, "--phrase-rank")
    // `--near a,b[,c] --window w`: proximity-FIRST retrieval — the N-term
    // sloppy-phrase restriction (Lucene slop shape). Queries can also carry
    // the restriction inline as `"a b"~w` on any serving surface.
    val nearRaw = arg(a, "--near")
    val nearWindow = arg(a, "--window").map(_.toInt)
    // `--ann-verify`: also run the exact legs for THIS query and report the
    // live overlap on stderr — the per-query spot-check companion to the
    // corpus-level q_ann_recall measurement (costs one extra exact search;
    // a diagnostic, not a serving mode)
    val annVerify = flag(a, "--ann-verify")
    // `--snippets`: append the q_search_snippets kernel's (term, off,
    // snippet, highlighted) to every hit — the reference's content preview
    // (X10), term-anchored (round-18 directive #3)
    val snippets = flag(a, "--snippets")
    thresholdWarning(threshold, fusion, k).foreach(System.err.println)
    shortlistWarning(ann, k).foreach(System.err.println)
    val spark = session(a)
    arg(a, "--queries") match {
      case Some(file) =>
        // bulk evaluation: one composed job wave for the whole query file
        // (round-18 directive #4) — per-request modes don't compose with it
        if (arg(a, "--query").isDefined)
          sys.error("--queries and --query are mutually exclusive")
        Seq("--phrase" -> phrase, "--phrase-rank" -> phraseRank,
          "--near" -> nearRaw.isDefined, "--ann-verify" -> annVerify,
          "--snippets" -> snippets).foreach { case (f, on) =>
            if (on) sys.error(s"$f is a per-request serving mode — it does " +
              "not combine with --queries batch evaluation")
          }
        // same contract-error rule for the path-prefix flags (round-19
        // ADVICE): batch output carries doc_id only (no file_path column),
        // so an explicitly-passed prefix rewrite would be silently ignored
        // — reject it instead (the defaulted add-prefix is fine to drop;
        // only a user-passed flag is a stated intent the output can't honor)
        Seq("--remove-path-prefix", "--add-path-prefix").foreach { f =>
          if (arg(a, f).isDefined) sys.error(s"$f does not apply to " +
            "--queries batch evaluation — batch output carries doc_id " +
            "only, not file paths")
        }
        val src = scala.io.Source.fromFile(file, "UTF-8")
        val queries = try parseQueriesFile(src.getLines()) finally src.close()
        val index = IndexData.load(spark, db)
        val annR = resolveAutoAnn(index, ann)
        driftWarning(index, annR).foreach(System.err.println)
        recallWarning(index, annR).foreach(System.err.println)
        val out = batchSearchFrame(index, db, queries, k, rerank, annR,
          fusion, threshold)
        arg(a, "--out") match {
          case Some(dir) =>
            out.orderBy("qid", "rank").write.mode("overwrite").parquet(dir)
            val n = spark.read.parquet(dir).count()
            println(s"""{"queries":${queries.size},"rows":$n,"out":${jsonStr(dir)}}""")
          case None =>
            // stdout face: one JSON line per qid, rank order
            val byQid = out.collect()
              .groupBy(_.getAs[String]("qid")).view
              .mapValues(_.sortBy(_.getAs[Long]("rank"))).toMap
            queries.foreach { case (qid, _) =>
              val hits = byQid.getOrElse(qid, Array.empty).map { r =>
                s"""{"rank":${r.getAs[Long]("rank")},""" +
                  s""""doc_id":${jsonStr(r.getAs[String]("doc_id"))},""" +
                  s""""score":${jsonNum(r.getAs[Double]("score"))}}"""
              }.mkString("[", ",", "]")
              println(s"""{"qid":${jsonStr(qid)},"results":$hits}""")
            }
        }
        spark.stop()
        return
      case None => ()
    }
    arg(a, "--query") match {
      case Some(query) =>
        val index = IndexData.load(spark, db)
        val annR = resolveAutoAnn(index, ann)
        // the pre-load warning can't see an auto shortlist; re-check the
        // resolved one against --top-k
        if (ann._2 == AutoShortlist)
          shortlistWarning(annR, k).foreach(System.err.println)
        driftWarning(index, annR).foreach(System.err.println)
        recallWarning(index, annR).foreach(System.err.println)
        val hits = runSearch(index, db, query, k, rerank, removeP, addP, annR,
          fusion, threshold, phrase, phraseRank, nearRaw, nearWindow, snippets)
        if (annVerify && (annR._1 > 0 || annR._2 > 0)) {
          val exact = runSearch(
            index, db, query, k, rerank, removeP, addP, (0, 0),
            fusion, threshold, phrase, phraseRank, nearRaw, nearWindow)
          annVerifyNote(hits.map(_.getAs[String]("doc_id")).toSeq,
            exact.map(_.getAs[String]("doc_id")).toSeq)
            .foreach(System.err.println)
        }
        println(s"""{"results":${hitsJson(hits)}}""")
      case None =>
        // Interactive mode (reference `src/cli.py:345-379`: `search` without
        // a query loops on prompted input): one query per stdin line, blanks
        // skipped, EOF exits. The index datasets stay cached across queries
        // when the artifact fits the serving cache budget ([[serveReady]]);
        // the ServingIndex handle re-checks the artifact's on-disk
        // fingerprint between requests so concurrent append merges /
        // compactions become visible without a restart.
        disableAqeForOnline(spark)
        val (holder, annRef) = openServing(spark, db, cacheFlagOf(a), annArg)
        System.err.println(s"[graft] interactive search on $db; one query per line, EOF exits")
        servingLoop(() => { holder.maybeReload(); (holder.current, annRef.get()) },
          db, scala.io.Source.stdin.getLines(), System.out,
          k, rerank, removeP, addP, fusion, threshold, phrase, phraseRank,
          nearRaw, nearWindow, snippets)
    }
    spark.stop()
  }

  /** Open the long-lived serving handle: loads serving-ready under the cache
    * gate, resolves the `--ann` mode (with its warnings), and re-resolves it
    * on every reload — an appended/refit artifact may carry a new recall
    * curve, drift numbers, or sidecars. Returns the handle plus the
    * always-current resolved ann mode. A malformed
    * `spark.graft.serve.reloadCheckIntervalMs` fails here, before the load. */
  private[graft] def openServing(spark: SparkSession, db: String,
      cacheFlag: Option[Boolean], annArg: Option[String])
      : (graft.serve.ServingIndex, java.util.concurrent.atomic.AtomicReference[(Int, Int)]) = {
    val annRef = new java.util.concurrent.atomic.AtomicReference[(Int, Int)]((0, 0))
    def resolve(index: IndexData): Unit = {
      val r = resolveAutoAnn(index, defaultServeAnn(index, annArg))
      driftWarning(index, r).foreach(System.err.println)
      recallWarning(index, r).foreach(System.err.println)
      annRef.set(r)
    }
    val holder = graft.serve.ServingIndex.open(spark, db,
      () => serveReady(spark, db, cacheFlag),
      onSwap = idx => {
        System.err.println(s"[graft] index at $db changed on disk — reloaded")
        resolve(idx)
      },
      checkIntervalMs = graft.serve.ServingIndex.checkIntervalOf(spark))
    resolve(holder.current)
    (holder, annRef)
  }

  /** The interactive `search` session body, parameterized over input/output
    * so a spec can script it without forking a JVM. `current` resolves the
    * (index, resolved ann) PER REQUEST — the live-reload seam. */
  private[graft] def servingLoop(
      current: () => (IndexData, (Int, Int)), db: String, lines: Iterator[String],
      out: java.io.PrintStream, k: Int, rerank: Boolean,
      removeP: Option[String], addP: Option[String],
      fusion: String = "mean", threshold: Option[Double] = None,
      phrase: Boolean = false, phraseRank: Boolean = false,
      nearRaw: Option[String] = None, nearWindow: Option[Int] = None,
      snippets: Boolean = false): Unit =
    lines.foreach { line =>
      val query = line.trim
      if (query.nonEmpty) {
        try {
          val (index, ann) = current()
          val hits = runSearch(index, db, query, k, rerank, removeP, addP, ann,
            fusion, threshold, phrase, phraseRank, nearRaw, nearWindow, snippets)
          out.println(s"""{"results":${hitsJson(hits)}}""")
        } catch {
          case e: Throwable =>
            out.println(s"""{"error":${jsonStr(String.valueOf(e.getMessage))}}""")
        }
        out.flush()
      }
    }

  /** Fixed-index convenience over [[servingLoop]] (spec surface). */
  private[graft] def interactiveLoop(
      index: IndexData, db: String, lines: Iterator[String],
      out: java.io.PrintStream, k: Int, rerank: Boolean,
      removeP: Option[String], addP: Option[String], ann: (Int, Int) = (0, 0),
      fusion: String = "mean", threshold: Option[Double] = None,
      phrase: Boolean = false, phraseRank: Boolean = false,
      nearRaw: Option[String] = None, nearWindow: Option[Int] = None,
      snippets: Boolean = false): Unit =
    servingLoop(() => (index, ann), db, lines, out, k, rerank, removeP, addP,
      fusion, threshold, phrase, phraseRank, nearRaw, nearWindow, snippets)

  /** The `--protocol jsonl` session body: one `{"query": "...", "top_k": N}`
    * request per line ([[graft.serve.McpServer.parseJsonlRequest]]), one
    * answer line each; a malformed request or a failed search answers
    * `{"error": ...}`. Blank lines skip. */
  private[graft] def jsonlLoop(lines: Iterator[String], out: java.io.PrintStream,
      defaultK: Int, answer: (String, Int) => String): Unit =
    lines.foreach { line =>
      if (line.trim.nonEmpty) {
        try {
          val (query, k) = graft.serve.McpServer.parseJsonlRequest(line, defaultK)
          out.println(answer(query, k))
        } catch {
          case e: Throwable => out.println(s"""{"error":${jsonStr(String.valueOf(e.getMessage))}}""")
        }
        out.flush()
      }
    }

  /** Conservative parquet→in-memory inflation for the serving cache gate:
    * what a cache-pinned artifact holds per byte of parquet (positions
    * excluded). Measured on the benchmark's serve base artifact (5.5 MB,
    * 3,155 chunks, every piece resident after warm requests): the Spark
    * cache pins take 2.95× and the driver-resident
    * [[graft.search.ServedIndex]] (impact-scored postings, fetch columns,
    * embeddings, IVF lists, PQ codes; SizeEstimator) 2.68×, 5.63× together
    * — so ×6. */
  private[graft] val ServeCacheInflation = 6L

  /** The serving cache decision, pure for the spec: pin the corpus-sized
    * caches iff the artifact's estimated in-memory footprint fits the
    * session's budget — an explicit `--cache`/`--no-cache` always wins.
    * Above budget, serving stays DISK-BACKED: every per-request leg is a
    * pruned parquet scan (term-clustered postings + termdf, doc_id-
    * clustered documents, cluster-partitioned ann/pq sidecars, dl
    * denormalized so no doclen join) — the 100 TB posture, where caching
    * the corpus is not an option and blindly calling cached() would OOM
    * the executors at startup. */
  private[graft] def shouldCacheForServing(artifactBytes: Long, budgetBytes: Long,
      flag: Option[Boolean]): Boolean =
    flag.getOrElse(artifactBytes * ServeCacheInflation <= budgetBytes)

  private def artifactBytes(spark: SparkSession, db: String): Long = {
    val p = new org.apache.hadoop.fs.Path(db)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val total = fs.getContentSummary(p).getLength
    // the positional sidecar is never cache-pinned ([[IndexData.cached]] —
    // phrase probes want the pruned parquet scan), so it must not count
    // against the CACHED-size estimate the ×inflation models
    val posPath = new org.apache.hadoop.fs.Path(p, graft.index.IndexData.PositionsDir)
    val pos = if (fs.exists(posPath)) fs.getContentSummary(posPath).getLength else 0L
    total - pos
  }

  private def cacheFlagOf(a: Array[String]): Option[Boolean] =
    if (flag(a, "--no-cache")) Some(false)
    else if (flag(a, "--cache")) Some(true)
    else None

  /** Load an artifact serving-ready under the cache gate: within budget
    * (half the driver heap — local mode: driver ≡ executor storage), pin
    * every dataset and build the served BM25 postings (the documents,
    * vector and PQ arrays build on their first request); above it, serve
    * the Spark legs off the pruned parquet layouts with only the
    * instance's memoized term dfs and stats row. The one warm-load path:
    * `graft serve` and interactive search load through it. */
  private[graft] def serveReady(spark: SparkSession, db: String,
      cacheFlag: Option[Boolean]): IndexData = {
    val loaded = IndexData.load(spark, db)
    // an explicit flag decides outright — never pay the recursive artifact
    // listing (millions of objects on a 100 TB store) for an estimate the
    // flag would ignore, and never print a size claim the flag overrode
    val doCache = cacheFlag match {
      case Some(c) => c
      case None =>
        val bytes = artifactBytes(spark, db)
        val budget = Runtime.getRuntime.maxMemory / 2
        val cache = shouldCacheForServing(bytes, budget, cacheFlag)
        if (!cache) System.err.println(
          f"[graft] artifact is ${bytes / 1e9}%.2f GB on disk (×$ServeCacheInflation " +
            f"cached ≈ ${bytes * ServeCacheInflation / 1e9}%.2f GB > budget " +
            f"${budget / 1e9}%.2f GB, half the driver heap) — serving " +
            "disk-backed off the pruned parquet layouts; pass --cache to force pinning")
        cache
    }
    if (doCache) {
      val index = loaded.cached()
      index.stats.count() // materialize caches before the first request
      index.served.foreach(_.prepare()) // and the served BM25 postings
      index
    } else {
      // disk-backed: prewarm parquet footers of the BOUNDED dirs (sidecars,
      // stats, termdf, segment deltas — anything ≤ the file cap) so the
      // first request per term mix doesn't pay cold footer round-trips on
      // top of its data reads (round-16 directive #4: the driver-run p95
      // tails on the disk lanes were first-touch costs the per-mode warmup
      // couldn't reach because postings/termdf pruning is query-specific).
      // Corpus-sized dirs self-exclude via the cap — the prewarm is O(files
      // prewarmed), never O(corpus).
      val t0 = System.nanoTime()
      val warmed = IndexData.prewarmFooters(spark, db)
      System.err.println(
        f"[graft] disk-backed serving: prewarmed parquet footers of " +
          f"${warmed.size} dirs / ${warmed.map(_._2).sum} files in " +
          f"${(System.nanoTime() - t0) / 1e6}%.0f ms " +
          f"(${IndexData.PrewarmConcurrency} parallel jobs)")
      loaded
    }
  }

  /** `serve` — the reference's MCP server surface (`src/server.py:19-98`):
    * one configurable search tool (`--tool-name` / `--tool-description`,
    * defaults matching `server.py:22-23`) over MCP stdio (default) or the
    * single-response mode of streamable-http (`--transport http`, `--port`,
    * `--path`). `--protocol jsonl` keeps the legacy one-JSON-per-line shape. */
  private def serveCmd(a: Array[String]): Unit = {
    val db = arg(a, "--db").getOrElse(sys.error("--db required"))
    val defaultK = topKArg(a)
    val removeP = arg(a, "--trim-prefix")
    // same add-prefix default as search (reference src/cli.py:187-189)
    val addP = arg(a, "--add-prefix").orElse(defaultAddPrefix(db))
    val annArg = arg(a, "--ann")
    val fusion = arg(a, "--fusion").getOrElse("mean")
    val threshold = arg(a, "--threshold").map(_.toDouble)
    val phrase = flag(a, "--phrase")
    val phraseRank = flag(a, "--phrase-rank")
    val nearRaw = arg(a, "--near")
    val nearWindow = arg(a, "--window").map(_.toInt)
    val snippets = flag(a, "--snippets")
    thresholdWarning(threshold, fusion, defaultK).foreach(System.err.println)
    val spark = session(a)
    disableAqeForOnline(spark)
    val (holder, annRef) = openServing(spark, db, cacheFlagOf(a), annArg)

    def answer(query: String, k: Int): String = {
      holder.maybeReload()
      val hits = runSearch(holder.current, db, query, k, rerank = true,
        removeP, addP, annRef.get(), fusion, threshold, phrase, phraseRank,
        nearRaw, nearWindow, snippets)
      s"""{"results":${hitsJson(hits)}}"""
    }

    arg(a, "--protocol") match {
      case Some("jsonl") =>
        System.err.println(s"[graft] serving index $db on stdio; one JSON request per line")
        jsonlLoop(scala.io.Source.stdin.getLines(), System.out, defaultK, answer)
      case _ =>
        val mcp = new graft.serve.McpServer(
          toolName = arg(a, "--tool-name").getOrElse("search_documents"),
          toolDescription = arg(a, "--tool-description").getOrElse("Search for local documents"),
          searchFn = answer,
          defaultTopK = defaultK,
          // second tool: force the artifact reload check NOW (the throttled
          // per-request check covers the steady state; this covers "I just
          // appended, pick it up" — reference parity with the single-process
          // server that always sees its own writes, src/server.py:15-103)
          reloadFn = Some(() =>
            s"""{"reloaded":${holder.checkAndReload()},"db":${jsonStr(db)}}"""))
        arg(a, "--transport") match {
          case Some("http") | Some("streamable-http") =>
            val port = arg(a, "--port").map(_.toInt).getOrElse(8765)
            val path = arg(a, "--path").getOrElse("/mcp")
            val host = arg(a, "--host").getOrElse("127.0.0.1")
            System.err.println(s"[graft] MCP http server for $db on $host:$port$path")
            val server = mcp.runHttp(port, path, host)
            try Thread.currentThread().join() // serve until killed
            finally server.stop(0)
          case _ =>
            System.err.println(s"[graft] MCP stdio server for $db")
            mcp.runStdio(scala.io.Source.stdin.getLines(), System.out)
        }
    }
    spark.stop()
  }
}
