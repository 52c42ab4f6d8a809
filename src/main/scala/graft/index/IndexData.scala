package graft.index

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.search.Bm25

/** The index artifact: what the reference keeps as one DuckDB file (tables +
  * FTS + HNSW indexes, reference `src/db.py:103-167`) becomes a directory of
  * Parquet datasets (SURVEY.md §1.3):
  *
  * {{{
  *   <dir>/documents/   doc_id, file_path, header_path, line_start, line_end,
  *                      content, tokens: array<string>, embedding: array<float>
  *   <dir>/postings/    term, doc_id, tf[, file_path]  (hash-partitioned by term)
  *   <dir>/termdf/      term, df
  *   <dir>/doclen/      doc_id, dl[, file_path]
  *   <dir>/stats/       n_docs, avgdl            (single row)
  *   <dir>/settings/    key, value               (embedding_model/_dim, …)
  *   <dir>/positions/   doc_id, term, pos[, file_path]  (per occurrence,
  *                      term-range-clustered — the phrase-search index)
  *   <dir>/seg/<n>/     append-merge segments (same canonical layouts,
  *                      termdf rows SIGNED, + dead_ids/ = masked doc_ids,
  *                      + tombstones/ = replaced paths, + per-segment
  *                      ann_postings/ann_pq_codes sidecar deltas)
  * }}}
  *
  * The FTS inverted index is replaced by the postings/termdf/doclen/stats
  * statistics tables (SURVEY.md §2.4); the HNSW index by brute-force top-k
  * over `documents.embedding` (exact — SURVEY.md §2.5 V2).
  *
  * An artifact may carry APPEND-MERGE SEGMENTS (`seg/<n>/`, written by
  * `IndexJob.mergeAndWrite(mergeMode = "append")`): each is an O(delta)
  * batch of documents + derived stats rows, with replace-by-path handled by
  * per-segment tombstones instead of a base rewrite. [[IndexData.load]]
  * presents the LIVE view transparently — base ∪ segments, rows of a
  * replaced path masked unless they belong to the replacing segment or
  * later — so every consumer (search, bench, queries) is segment-oblivious.
  * `graft compact` ([[IndexJob.compact]]) folds segments back into the
  * canonical base.
  */
final case class IndexData(
    documents: DataFrame,
    postings: DataFrame,
    termdf: DataFrame,
    doclen: DataFrame,
    stats: DataFrame,
    settings: DataFrame,
    // IVF sidecar (the HNSW role, reference `src/db.py:152-165`) — present
    // when the index was built with ANN enabled; None degrades the VSS leg
    // to the exact heap scan
    ann: Option[AnnIndex] = None,
    // PQ sidecar: codes-only ADC shortlist + exact rerank (`--ann pq`)
    pq: Option[PqIndex] = None,
    // positional postings sidecar (doc_id, term, pos — `positions/`,
    // term-clustered like postings): the phrase-search index path
    // ([[graft.search.PhraseSearch]]). None on artifacts written before
    // the layout or whose pending segments lack position deltas — the
    // serving `--phrase` filter then falls back to the candidate token
    // scan (same results, per-candidate cost instead of a pruned probe)
    positions: Option[DataFrame] = None,
    // number of uncompacted append-merge segments the live view spans
    pendingSegments: Int = 0,
    // whether every pending segment carries its frozen-model sidecar deltas
    // (per-segment ann_postings / ann_pq_codes + dead_ids), so the
    // assembled `ann`/`pq` above already cover the segment docs. False only
    // for legacy segments written before the delta layout — `--ann` search
    // then warns that sidecars cover the compacted base only
    sidecarsCoverSegments: Boolean = true,
    // the driver-resident legs of a cache-pinned instance — set by
    // [[cached]]; [[graft.search.ServeSearch]] serves through them, and
    // None serves the Spark legs. Built from this instance's frames: a copy
    // that replaces one of them must drop it
    served: Option[graft.search.ServedIndex] = None) {

  /** Cache the search-path datasets for a long-lived serving session
    * (SURVEY.md §3.3) and attach the [[graft.search.ServedIndex]] that
    * answers a warm request's BM25 leg, vector leg and fetch from driver
    * arrays. `.cache()` is lazy: the first action materializes each pin
    * (`Cli.serveReady` counts the stats and builds the served BM25
    * postings before the first request; the documents, vector and PQ
    * arrays build on their first use). Legacy dl-less postings keep the
    * Spark legs: their doclen join is planned by size, so the rows the
    * served postings would collect need not come in the postings scan
    * order the Spark leg sums in. */
  def cached(): IndexData = {
    val pinned = copy(
      documents = documents.cache(),
      postings = postings.cache(),
      termdf = termdf.cache(),
      doclen = doclen.cache(),
      stats = stats.cache(),
      settings = settings.cache(),
      ann = ann.map(_.cached()),
      pq = pq.map(_.cached()),
      // positions stay UNCACHED by design: the phrase probe's value is the
      // row-group-pruned parquet scan (df-proportional reads), and pinning
      // a Σdl-sized table for an opt-in filter would double serving memory
      positions = positions)
    pinned.copy(served =
      if (postings.columns.contains("dl")) Some(new graft.search.ServedIndex(pinned)) else None)
  }

  /** Impact-scored postings (term, doc_id, s): `s` is the full
    * per-(term, doc) BM25 contribution ([[Bm25.termScore]]) — tf, df, dl,
    * N and avgdl are all static for the life of the loaded artifact. The
    * served BM25 postings collect it once. termdf and stats are broadcast
    * as in [[Bm25.scores]], so the rows keep the postings scan's
    * partitions and order, the order the Spark leg sums in. */
  private[graft] def impactScored: DataFrame =
    postings.join(broadcast(termdf), "term")
      .crossJoin(broadcast(stats))
      .select(col("term"), col("doc_id"),
        Bm25.termScore(col("tf"), col("df"), col("dl"),
          col("n_docs"), col("avgdl")).as("s"))

  /** Drop every cache pin [[cached]] registered and the served arrays —
    * the one serving teardown (reload, bench lane).
    * Unpersisting is by canonicalized plan, so this releases the executor
    * storage blocks even though [[cached]] returned copies of the frames.
    * `blocking = true` when another artifact loads right after in the same
    * session (the [[graft.serve.ServingIndex]] reload path): async eviction
    * races the next generation's cache materialization and thrashes storage
    * memory — measured 5-10× on StartupProbe reload trials at 500k docs. */
  def uncacheAll(blocking: Boolean = false): Unit = {
    Seq(documents, postings, termdf, doclen, stats, settings)
      .foreach(_.unpersist(blocking))
    ann.foreach { a => a.centroids.unpersist(blocking); a.postings.unpersist(blocking) }
    pq.foreach { p => p.codes.unpersist(blocking); p.codebooks.unpersist(blocking) }
    positions.foreach(_.unpersist(blocking))
    served.foreach(_.release())
  }

  /** The corpus stats row, collected once per instance (the
    * [[settingsMap]] pattern) and replayed as a LocalRelation: the cold
    * BM25 leg's crossJoin(broadcast(stats)) then costs no per-request job. */
  private lazy val statsRows: Array[Row] = stats.collect()

  private[graft] def localStats: DataFrame =
    stats.sparkSession.createDataFrame(java.util.Arrays.asList(statsRows: _*), stats.schema)

  /** term → termdf row (None = absent from the corpus) for the terms the
    * cold BM25 leg has looked up on this instance: a term's df is static
    * for the life of the loaded artifact, so a seen term skips its lookup
    * job, OOV terms included. Bounded at [[IndexData.TermDfMemoMax]]
    * entries, so an adversarial query stream cannot grow driver memory. */
  private val termDfMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Option[Row]]()

  /** The termdf rows of `terms`, as a LocalRelation: one pushed
    * `In(term, …)` lookup for the terms not yet memoized, none otherwise. */
  private[graft] def localTermdf(terms: Seq[String]): DataFrame = {
    val distinct = terms.distinct
    val cold = distinct.filterNot(termDfMemo.containsKey)
    val found =
      if (cold.isEmpty) Map.empty[String, Row]
      else termdf.filter(col("term").isin(cold: _*)).collect()
        .map(r => r.getAs[String]("term") -> r).toMap
    // per-put bound check: a single before-the-loop check would let one
    // query overshoot the cap by |its cold terms|−1
    cold.foreach(t =>
      if (termDfMemo.size() < IndexData.TermDfMemoMax) termDfMemo.put(t, found.get(t)))
    val rows = distinct.flatMap(t => Option(termDfMemo.get(t)).getOrElse(found.get(t)))
    termdf.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), termdf.schema)
  }

  /** The query embedder resolved for this instance, with the `db` it was
    * resolved against (a model path lives there) — set by `Cli.embedderFor`
    * on its first successful resolution. */
  private[graft] val resolvedEmbedder =
    new java.util.concurrent.atomic.AtomicReference[(String, graft.embed.Embedder)]()

  /** The settings rows as a driver-local map, collected ONCE per instance
    * (a handful of rows — the [[AnnIndex.centroidArray]] pattern): a
    * per-lookup `filter → collect` would schedule a Spark job per key on
    * every served request (analyzer + embedder resolution reads three
    * keys). A snapshot is safe because the instance never sees a new
    * settings frame: [[upsertSetting]] returns a `copy` (a fresh snapshot),
    * and serving swaps in a freshly loaded instance when the committed
    * fingerprint ([[IndexData.artifactVersion]], `settings/_SUCCESS`
    * included) moves. A duplicated key keeps its FIRST row. */
  lazy val settingsMap: Map[String, String] =
    settings.select("key", "value").collect()
      .reverseIterator.map(r => r.getString(0) -> r.getString(1)).toMap

  /** S6-style point lookup (reference `src/db.py:181-196`), served from
    * [[settingsMap]]: zero Spark jobs after the first lookup. */
  def setting(key: String): Option[String] = settingsMap.get(key)

  /** S5: keyed upsert into the settings dataset (reference
    * `INSERT OR REPLACE`, `src/db.py:170-178`) — read-modify-write of the
    * small sidecar, returning the updated artifact. */
  def upsertSetting(key: String, value: String): IndexData = {
    val spark = settings.sparkSession
    import spark.implicits._
    val updated = IndexData.upsertSettings(
        settings, Seq((key, value)).toDF("key", "value"))
      // materialize: the lineage reads $dir/settings, which a subsequent
      // IndexData.write(…, dir) overwrites — read-before-overwrite needs a
      // checkpoint (settings is a handful of rows)
      .localCheckpoint(true)
    copy(settings = updated)
  }
}

object IndexData {

  /** Bound on [[IndexData.localTermdf]]'s per-instance memo. */
  private[graft] val TermDfMemoMax = 1 << 20

  /** THE keyed settings upsert (S5, reference `INSERT OR REPLACE`,
    * `src/db.py:170-178`): rows of `existing` whose key appears in `fresh`
    * are replaced by the fresh rows; everything else is kept. Every settings
    * merge in the engine — in-memory ([[IndexData.upsertSetting]]),
    * merge-time ([[IndexJob.mergeAndWrite]]), on-disk drift updates
    * (`IndexJob.upsertSettingsOnDisk`) — routes through this one
    * definition. Both frames are a handful of rows. */
  def upsertSettings(existing: DataFrame, fresh: DataFrame): DataFrame =
    existing.join(fresh.select("key"), Seq("key"), "left_anti")
      .unionByName(fresh)

  /** Write a full artifact from a documents DataFrame with an expensive
    * lineage: documents parquet first, then every stats table derived from
    * the re-read parquet — the chunk/embed pipeline executes exactly once
    * instead of once per derived dataset. The stats rows carry `file_path`
    * (when documents has it) so later append-merge segments can mask
    * replaced rows without a join back to documents.
    *
    * A LIVE destination — the dir already holds a COMMITTED artifact —
    * routes through [[writeStagedSwap]]: overwriting table dirs in place one
    * at a time would let a concurrent reader (or a crash mid-write) pair new
    * documents with old termdf — a torn table set. `refreshSidecars`: a
    * direct write-on-live has no post-swap sidecar rebuild step (unlike the
    * engine's rewrite merges), so stale ann/pq rows from the old corpus must
    * be refreshed or retired by the swap itself. */
  def write(documents: DataFrame, settings: DataFrame, dir: String,
      clusterById: Boolean = true): IndexData = {
    val spark = documents.sparkSession
    if (isCommittedArtifact(spark, dir))
      writeStagedSwap(documents, settings, dir, clusterById, refreshSidecars = true)
    else {
      writeTables(documents, settings, dir, clusterById)
      load(spark, dir)
    }
  }

  /** The canonical table set, written into `dir` — a fresh artifact dir or
    * a staged swap's staging dir. `clusterById = false` preserves a
    * caller-provided documents layout (e.g. a space-filling-curve
    * clustering on (file_path, line_start)) as written. */
  private def writeTables(documents: DataFrame, settings: DataFrame, dir: String,
      clusterById: Boolean): Unit = {
    val spark = documents.sparkSession
    if (clusterById)
      writeDocsClustered(documents, dir, spark.sessionState.conf.numShufflePartitions)
    else documents.write.mode("overwrite").parquet(s"$dir/documents")
    val docsOnDisk = spark.read.parquet(s"$dir/documents")
    val carry = if (docsOnDisk.columns.contains("file_path")) Seq("file_path") else Nil
    val doclen = Bm25.docLengths(docsOnDisk, carry = carry)
    // dl denormalized into the artifact's postings (withDl): the serving
    // FTS leg then needs no doclen join — see [[Bm25.postings]]
    val postings = Bm25.postings(docsOnDisk, carry = carry, withDl = true)
    // partitioned by term hash AND sorted within files by term: the
    // clustering co-locates a term's rows in one file, and the sort gives
    // every parquet row group tight term min/max stats — so the serving
    // path's pushed `In(term, …)` filter ([[graft.search.Bm25.scores]])
    // prunes the read to just the query's posting lists instead of
    // scanning the corpus-proportional table
    postings.repartition(col("term")).sortWithinPartitions("term", "doc_id")
      .write.mode("overwrite").parquet(s"$dir/postings")
    // termdf range-clustered + sorted by term: the serving session's
    // cold-term df lookups are a pushed In(term, …) filter too
    // ([[IndexData.localTermdf]]) — unclustered, every
    // lookup scanned the vocabulary-sized table. Derived from the WRITTEN
    // postings parquet, not the lineage — the lineage would re-run the
    // corpus-wide explode+aggregate a second time (appendMerge reads its
    // segment postings back the same way).
    Bm25.docFreq(spark.read.parquet(s"$dir/postings"))
      .repartitionByRange(col("term")).sortWithinPartitions("term")
      .write.mode("overwrite").parquet(s"$dir/termdf")
    // positional sidecar (round-15 directive #3): per-occurrence
    // (doc_id, term, pos) rows, term-clustered + term-sorted like postings
    // so a phrase probe's pushed `term = 'x'` predicates prune row groups
    // — the index path that makes serving `--phrase` and batch phrase
    // queries df-proportional instead of a corpus token scan. Derived from
    // the written parquet like every other stats table (the lineage runs
    // once). Costs ~Σ dl rows of (id, dict-coded term, delta-coded int) —
    // roughly the corpus token count, which is why an artifact that will
    // never issue a phrase query can opt out (`--positions off`, settings
    // `positions=off`): serving `--phrase` then falls back to the
    // candidate token filter, which stays correct (round-16 directive #1).
    if (positionsEnabled(settings))
      Bm25.positionalPostings(docsOnDisk, carry = carry)
        // explicit N: AQE would otherwise coalesce a small artifact's range
        // shuffle into one near-full-range file, losing the per-file term
        // stats the phrase probe prunes on
        .repartitionByRange(spark.sessionState.conf.numShufflePartitions, col("term"))
        .sortWithinPartitions("term", "doc_id", "pos")
        .write.mode("overwrite").parquet(s"$dir/$PositionsDir")
    doclen.write.mode("overwrite").parquet(s"$dir/doclen")
    Bm25.corpusStats(doclen).coalesce(1).write.mode("overwrite").parquet(s"$dir/stats")
    settings.coalesce(1).write.mode("overwrite").parquet(s"$dir/settings")
  }

  /** The one commit path for REWRITES of an artifact that may be live —
    * [[write]] onto a committed dir, the rewrite merges and
    * `IndexJob.compact` (round-15): the full table set stages under
    * [[CompactStagingDir]], commits via [[CompactCommitMarker]], and swaps
    * through the same idempotent [[finishCompactSwap]] every reader already
    * heals. Pre-round-15 the rewrite path overwrote each table dir in
    * place AND deleted `seg/` before the new base existed — a crash
    * mid-write tore the artifact (new documents + old termdf) and
    * permanently LOST the pending segments the rewrite was folding in.
    * Staged: a crash before the marker leaves the artifact untouched
    * (dead staging files the next writer clears); from the marker on, any
    * reader completes the swap — which also retires `seg/`, atomically
    * with the base that folded it. Sidecar dirs are untouched (none are
    * staged here by default): rewrite callers rebuild them after the swap,
    * and a crash in that window degrades `--ann` to the exact scan or to
    * frozen-model lists — acceleration staleness, never corruption.
    * `refreshSidecars = true` (the direct write-on-live routing and
    * compact, which have NO post-swap rebuild step) instead stages a
    * frozen-model sidecar refresh over the new documents
    * ([[stageFrozenSidecars]]); when the refresh is impossible the commit
    * records the omission and the swap retires the stale dirs (round-16
    * ADVICE). */
  def writeStagedSwap(documents: DataFrame, settings: DataFrame,
      indexDir: String, clusterById: Boolean = true,
      refreshSidecars: Boolean = false): IndexData = {
    val spark = documents.sparkSession
    val fs = new org.apache.hadoop.fs.Path(indexDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staging = s"$indexDir/$CompactStagingDir"
    fs.delete(new org.apache.hadoop.fs.Path(staging), true)
    writeTables(documents, settings, staging, clusterById)
    if (refreshSidecars) stageFrozenSidecars(spark, indexDir, staging)
    commitStagedSwap(spark, indexDir,
      // without a refresh the live sidecars are the CALLER's to rebuild
      // post-swap (the frozen centroids/codebooks must survive the swap
      // for that rebuild to stay a merge, not a silent re-fit) — keep them
      keep = if (refreshSidecars) Set.empty else SidecarDirs.toSet)
    load(spark, indexDir)
  }

  /** The sidecar dirs derived from documents + a frozen model (everything
    * swap-managed except the six canonical tables and positions). */
  private[graft] val SidecarDirs: Seq[String] = Seq(
    AnnIndex.CentroidsDir, AnnIndex.PostingsDir,
    PqIndex.CodebooksDir, PqIndex.CodesDir)

  /** Every directory [[finishCompactSwap]] manages (rename-from-staging,
    * or retire-when-recorded-omitted). Lazy: `PositionsDir` is declared
    * further down this object, so an eager val would capture null. */
  private[graft] lazy val SwapManagedDirs: Seq[String] =
    Seq("documents", "postings", "termdf", "doclen", "stats", "settings",
      PositionsDir) ++ SidecarDirs

  /** Whether the artifact's settings opt OUT of the positional sidecar
    * (`positions=off` — the `--positions off` build flag). Absent key or
    * any other value = enabled. Settings are a handful of rows. */
  private[graft] def positionsEnabled(settings: DataFrame): Boolean =
    settings.filter(col("key") === PositionsKey).select("value")
      .collect().headOption.forall(_.getString(0) != PositionsOff)

  val PositionsKey = "positions"
  val PositionsOff = "off"

  /** Stage a FROZEN-MODEL sidecar refresh for an in-flight staged swap:
    * copy the live artifact's centroids/codebooks (staging is a
    * merge-shaped write, never a re-fit — the same incremental contract as
    * `IndexJob.compact`) and re-derive the doc-keyed tables (ann_postings /
    * ann_pq_codes) over the STAGED documents, so the committed swap
    * replaces the WHOLE artifact and stale sidecar rows (doc_ids of the
    * previous corpus) can never pair with the new base. A refresh that
    * cannot run — documents without an embedding column, a dimension that
    * drifted from the frozen model — cleans its partial staging dirs and
    * leaves the sidecars unstaged; [[commitStagedSwap]] then records the
    * omission so the swap retires the stale live dirs instead. */
  private def stageFrozenSidecars(spark: SparkSession,
      liveDir: String, staging: String): Unit = {
    val liveAnn = AnnIndex.load(spark, liveDir)
    val livePq = PqIndex.load(spark, liveDir)
    if (liveAnn.isEmpty && livePq.isEmpty) return
    val stagedDocs = spark.read.parquet(s"$staging/documents")
    val fs = new org.apache.hadoop.fs.Path(staging)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def attempt(dirs: Seq[String])(body: => Unit): Unit =
      if (stagedDocs.columns.contains("embedding"))
        try body
        catch {
          case scala.util.control.NonFatal(e) =>
            // e.g. embedding dim drifted from the frozen model: retire the
            // sidecar (recorded at commit) rather than fail the whole swap
            // or — worse — leave the stale one serving dead ids
            dirs.foreach(d => fs.delete(new org.apache.hadoop.fs.Path(staging, d), true))
            System.err.println(
              s"[graft] sidecar refresh skipped (${e.getMessage}); retiring ${dirs.mkString(", ")}")
        }
    liveAnn.foreach { ann =>
      attempt(Seq(AnnIndex.CentroidsDir, AnnIndex.PostingsDir)) {
        val centroids = ann.centroids.localCheckpoint(true)
        centroids.coalesce(1).write.mode("overwrite")
          .parquet(s"$staging/${AnnIndex.CentroidsDir}")
        AnnIndex.writeClusterPartitioned(
          AnnIndex.buildPostings(stagedDocs, "doc_id", "embedding", centroids),
          s"$staging/${AnnIndex.PostingsDir}")
      }
    }
    livePq.foreach { pq =>
      attempt(Seq(PqIndex.CodebooksDir, PqIndex.CodesDir)) {
        val books = pq.codebooks.localCheckpoint(true)
        books.coalesce(1).write.mode("overwrite")
          .parquet(s"$staging/${PqIndex.CodebooksDir}")
        val codes = PqIndex.encode(stagedDocs, "doc_id", "embedding", books)
        val annStaged = fs.exists(new org.apache.hadoop.fs.Path(
          staging, s"${AnnIndex.PostingsDir}/_SUCCESS"))
        if (pq.codes.columns.contains("cluster") && annStaged)
          // composed ivf×pq: keep the cluster partitioning so the
          // probe-pruned ADC path prunes the refreshed files too
          AnnIndex.writeClusterPartitioned(
            codes.join(spark.read.parquet(s"$staging/${AnnIndex.PostingsDir}")
              .select(col("cluster"), col("doc_id")), Seq("doc_id")),
            s"$staging/${PqIndex.CodesDir}")
        else codes.write.mode("overwrite").parquet(s"$staging/${PqIndex.CodesDir}")
      }
    }
  }

  /** Commit an already-written staged swap: record in the `_COMMIT` marker
    * which swap-managed dirs the staging DELIBERATELY omitted while the
    * live root still carries them — derived data the swap must RETIRE (a
    * positions sidecar the new settings opt out of, ann/pq a direct write
    * could not refresh) — then complete the idempotent swap. Intent lives
    * IN the marker so crash replay can distinguish "absent by choice →
    * delete the live dir" from "absent because already swapped": a bare
    * delete-when-missing would delete a just-renamed table on replay.
    * `keep` names dirs the caller rebuilds AFTER the swap (the rewrite
    * merges' ann/pq) — never recorded as drops. */
  private def commitStagedSwap(spark: SparkSession, dir: String,
      keep: Set[String] = Set.empty): Unit = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staging = new org.apache.hadoop.fs.Path(dir, CompactStagingDir)
    val drops = SwapManagedDirs.filter { d =>
      !keep(d) &&
        fs.exists(new org.apache.hadoop.fs.Path(dir, d)) &&
        !fs.exists(new org.apache.hadoop.fs.Path(staging, d))
    }
    // the marker's CONTENT is now load-bearing (drop records), so it must
    // appear atomically: create+write+close exposes a visible EMPTY marker
    // mid-write, and a crash (or a concurrent reader's heal) in that window
    // would complete the swap with no drops — resurrecting exactly the
    // stale sidecars the commit meant to retire. Write-to-temp + rename
    // restores the all-or-nothing commit point the content-free marker had.
    val marker = new org.apache.hadoop.fs.Path(staging, CompactCommitMarker)
    val tmp = new org.apache.hadoop.fs.Path(staging, s"$CompactCommitMarker.tmp")
    val out = fs.create(tmp, true)
    out.write(drops.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    out.close()
    if (fs.exists(marker)) fs.delete(marker, false) // a crashed prior commit
    if (!fs.rename(tmp, marker))
      sys.error(s"could not commit staged swap: rename $tmp -> $marker failed")
    finishCompactSwap(spark, dir)
  }

  /** Whether `dir` already holds a COMMITTED artifact (settings `_SUCCESS`
    * present — the same liveness rule [[load]] enforces). Gates the
    * write-on-live staged-swap routing in [[write]]. */
  private[graft] def isCommittedArtifact(spark: SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir, "settings/_SUCCESS")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Committed append-merge segments of an artifact, ascending by number.
    * A segment commits by its `tombstones` dataset (written LAST by
    * `IndexJob.appendMerge`): a crash mid-append leaves a segment without
    * it, and the loader simply never sees the partial segment — the
    * artifact stays consistent at the pre-merge state. */
  private[graft] def segments(spark: SparkSession, dir: String): Seq[(Int, String)] = {
    val segRoot = new org.apache.hadoop.fs.Path(dir, SegDir)
    val fs = segRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(segRoot)) Nil
    else fs.listStatus(segRoot).toSeq
      .filter(_.isDirectory)
      .flatMap(st => scala.util.Try(st.getPath.getName.toInt).toOption
        .map(_ -> st.getPath.toString))
      .filter { case (_, p) =>
        fs.exists(new org.apache.hadoop.fs.Path(p, "tombstones/_SUCCESS")) }
      .sortBy(_._1)
  }

  val SegDir = "seg"

  /** Positional postings sidecar dir — (doc_id, term, pos) per occurrence,
    * the phrase-search index path. Optional like the ann/pq sidecars:
    * absent → `--phrase` degrades to the candidate token filter. */
  val PositionsDir = "positions"

  /** Bounded parquet-FOOTER prewarm for disk-backed serving (round-16
    * directive #4). A cold request pays one footer round-trip per file of
    * every leg it touches, and because postings/termdf pruning is
    * query-specific, the first request for each new term mix hits cold
    * footers even after generic warmup — the recurring driver-run p95
    * tails on the disk lanes. A metadata-only `count()` plans one split
    * per file and reads row-group metadata only, so its cost is
    * proportional to FILE COUNT, not data size; any dir with more than
    * `maxFilesPerDir` parquet files is skipped, which at 100 TB
    * self-excludes the corpus-sized tables (the prewarm exists for the
    * bounded layouts — sidecars, stats, termdf, segment deltas — whose
    * footers dominate first-touch tails). Best-effort: a dir that fails
    * to read is skipped, never a startup crash. Returns (relative dir,
    * file count) for each dir prewarmed.
    *
    * The dirs are INDEPENDENT, so their metadata counts run as
    * `concurrency` parallel Spark jobs (round-17 directive #2: the serial
    * per-dir loop tripled disk-backed serve startup — each count is
    * latency-bound on footer round-trips, not CPU, so overlapping them
    * reclaims most of that wall without touching what gets warmed). Result
    * order stays deterministic (input dir order, not completion order). */
  val PrewarmConcurrency = 8

  def prewarmFooters(spark: SparkSession, dir: String,
      maxFilesPerDir: Int = 256,
      concurrency: Int = PrewarmConcurrency): Seq[(String, Int)] = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val segTables = Seq("documents", "postings", "termdf", "doclen",
      "dead_ids", "tombstones", PositionsDir,
      AnnIndex.PostingsDir, PqIndex.CodesDir)
    val rels: Seq[String] =
      Seq("documents", "postings", "termdf", "doclen", "stats", "settings",
        PositionsDir, AnnIndex.CentroidsDir, AnnIndex.PostingsDir,
        PqIndex.CodebooksDir, PqIndex.CodesDir) ++
        segments(spark, dir).flatMap { case (n, _) =>
          segTables.map(t => s"$SegDir/$n/$t")
        }
    def warmOne(rel: String): Option[(String, Int)] = {
      val p = new org.apache.hadoop.fs.Path(root, rel)
      val files = scala.util.Try {
        if (!fs.exists(p)) 0
        else {
          val it = fs.listFiles(p, true)
          var nf = 0
          while (it.hasNext && nf <= maxFilesPerDir) {
            if (it.next().getPath.getName.endsWith(".parquet")) nf += 1
          }
          nf
        }
      }.getOrElse(0)
      if (files > 0 && files <= maxFilesPerDir &&
          scala.util.Try(spark.read.parquet(p.toString).count()).isSuccess)
        Some(rel -> files)
      else None
    }
    val par = math.max(1, math.min(concurrency, rels.size))
    if (par == 1) rels.flatMap(warmOne)
    else {
      // DAEMON threads + a bounded await: prewarm is best-effort by
      // contract, so one hung filesystem metadata call (slow remote FS)
      // must neither block serve startup forever nor pin the JVM at exit.
      // On timeout the completed dirs' results are kept (input order) and
      // the stragglers are logged as skipped — they warm nothing, which is
      // exactly what best-effort means.
      val pool = java.util.concurrent.Executors.newFixedThreadPool(par,
        (r: Runnable) => {
          val t = new Thread(r, "graft-prewarm"); t.setDaemon(true); t
        })
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      val futs = rels.map(rel => scala.concurrent.Future(warmOne(rel)))
      try {
        // ONE shared deadline, awaited per future with Await.ready — NOT
        // Future.sequence, which FAILS FAST: a single future completing
        // with a Failure before the deadline would escape a
        // TimeoutException-only catch and crash "best-effort" prewarm
        // (round-20 self-review). ready() never rethrows the future's own
        // failure; f.value pattern-handles it, so a failed dir is counted
        // skipped exactly like a hung one (round-19 ADVICE).
        val deadline = System.nanoTime() + PrewarmTimeoutSec * 1000000000L
        var hung = 0
        var failed = 0
        val done = futs.flatMap { f =>
          val remainNs = math.max(0L, deadline - System.nanoTime())
          try scala.concurrent.Await.ready(f,
            scala.concurrent.duration.Duration(remainNs,
              java.util.concurrent.TimeUnit.NANOSECONDS))
          catch { case _: java.util.concurrent.TimeoutException => () }
          f.value match {
            case Some(scala.util.Success(r)) => r
            case Some(scala.util.Failure(_)) => failed += 1; None
            case None                        => hung += 1; None
          }
        }
        if (hung + failed > 0) System.err.println(
          s"[graft] prewarm skipped ${hung + failed} of ${rels.size} dirs " +
            s"($hung timed out after ${PrewarmTimeoutSec}s, $failed failed; " +
            "best-effort — serving proceeds unwarmed)")
        done
      } finally pool.shutdown()
    }
  }

  /** Bound on the whole parallel prewarm wave ([[prewarmFooters]]) — far
    * above the pinned sub-second local runs, low enough that a hung remote
    * filesystem cannot hold disk-backed serve startup hostage. */
  val PrewarmTimeoutSec = 60L

  /** Staging dir for [[writeDocsClustered]]'s one-pass-lineage documents
    * write; a leftover from a crash is never read by [[load]] (which opens
    * named table dirs only) and is overwritten then deleted by the next
    * write. Deliberately NOT underscore-prefixed: Spark's file index treats
    * `_`/`.`-prefixed paths as metadata and warns/ignores them on read. */
  val DocsRawDir = "documents_raw"

  /** Parquet row-group size for documents files — the serving fetch's
    * pruning unit. The pushed `In(doc_id, …)` scan reads one row group per
    * matched candidate id, so a request costs ≤ k·legs × this many bytes
    * REGARDLESS of corpus size; Spark's default 128 MB would make each
    * matched id 8× more expensive while gaining little for the full-table
    * analytics scans (16 MB row groups are still large enough for
    * efficient sequential reads and page-compressed encoding). */
  val DocRowGroupBytes: Long = 16L * 1024 * 1024

  /** Target documents file size for [[writeDocsClustered]]'s size-based
    * partition count — keeps file count ∝ corpus bytes (metadata-light at
    * small corpora, never corpus/shuffle.partitions-sized giants at
    * 100 TB). */
  val DocTargetFileBytes: Long = 256L * 1024 * 1024

  /** THE doc_id-clustered documents write of the base ([[write]]) and of
    * append segments: `df` lands in `dir/documents` range-clustered by
    * doc_id, sorted within files, with bounded row groups. doc_ids are
    * content-addressed — uniform-random — so an unclustered write gives
    * every file/row-group full-range doc_id min/max stats and the serving
    * candidate fetch's pushed `In(doc_id, …)` ([[graft.search.ServeSearch]])
    * prunes NOTHING: each request scans the corpus. Clustered, the fetch
    * touches only the row groups holding its ≤k·legs candidate ids
    * (DocFetchPruneSpec). The reference gets this for free: its ULIDs are
    * time-ordered, `src/indexer.py:105-107`, so DuckDB zonemaps prune the
    * IN fetch.
    *
    * Staged: the expensive chunk+embed lineage executes exactly ONCE into
    * `dir/documents_raw`; the clustering pass — and repartitionByRange's
    * range-bounds sampling job — reads the staged parquet, never the
    * lineage. The part count is sized from the STAGED BYTES,
    * `max(minParts, ceil(rawBytes / DocTargetFileBytes))`, not left to the
    * ambient shuffle.partitions: at 100 TB a fixed count would mean
    * corpus/count-sized files regardless of config, and a bounded file
    * size caps what one candidate id costs to fetch. The base floors it at
    * the session's shuffle parallelism; segments floor it at 1, because
    * they accumulate between compactions and a tiny delta must not
    * fragment into shuffle.partitions near-empty files. Returns the part
    * count. */
  private[graft] def writeDocsClustered(df: DataFrame, dir: String, minParts: Int): Int = {
    val spark = df.sparkSession
    val raw = s"$dir/$DocsRawDir"
    df.write.mode("overwrite").parquet(raw)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rawBytes = fs.getContentSummary(new org.apache.hadoop.fs.Path(raw)).getLength
    val parts = math.max(minParts, math.ceil(rawBytes.toDouble / DocTargetFileBytes).toInt)
    spark.read.parquet(raw).repartitionByRange(parts, col("doc_id"))
      .sortWithinPartitions("doc_id")
      .write.option("parquet.block.size", DocRowGroupBytes.toString)
      .mode("overwrite").parquet(s"$dir/documents")
    fs.delete(new org.apache.hadoop.fs.Path(raw), true)
    parts
  }

  /** Cheap on-disk fingerprint of an artifact's committed state, for the
    * long-lived serving reload check ([[graft.serve.ServingIndex]]): the
    * `_SUCCESS` commit-marker mtimes of every canonical table and sidecar,
    * plus the committed segment list with each segment's tombstone-commit
    * mtime. Any way the artifact can legally change — a base rewrite
    * (markers rewritten), an append merge (new committed segment), a
    * compaction (segments gone, base markers rewritten), a settings upsert —
    * moves the fingerprint; an uncommitted/crashed write (no `_SUCCESS`, no
    * tombstones) does not, matching [[load]]'s own commit rules. Cost is a
    * handful of file stats — O(tables + segments), never corpus-sized — so
    * a per-request-batch check is affordable even on an object store. */
  def artifactVersion(spark: SparkSession, dir: String): String = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def stamp(rel: String): String = {
      val p = new org.apache.hadoop.fs.Path(dir, s"$rel/_SUCCESS")
      try s"$rel:${fs.getFileStatus(p).getModificationTime}"
      catch { case _: java.io.FileNotFoundException => s"$rel:-" }
    }
    val base = Seq("documents", "postings", "termdf", "doclen", "stats", "settings",
      PositionsDir, AnnIndex.CentroidsDir, AnnIndex.PostingsDir,
      PqIndex.CodebooksDir, PqIndex.CodesDir).map(stamp)
    // the staged-swap _COMMIT marker too: a writer that crashed after
    // committing the marker but before the first table rename has CHANGED
    // the artifact (any load() heals the swap) without moving a single
    // table `_SUCCESS` stamp — without this line the fingerprint never
    // moves, loadFn is never called, and the committed change stays
    // invisible to a serving session forever (round-15 ADVICE)
    val marker = {
      val p = new org.apache.hadoop.fs.Path(
        dir, s"$CompactStagingDir/$CompactCommitMarker")
      try s"commit:${fs.getFileStatus(p).getModificationTime}"
      catch { case _: java.io.FileNotFoundException => "commit:-" }
    }
    val segs = segments(spark, dir).map { case (n, p) =>
      // same FileNotFound guard as stamp(): a concurrent compaction can
      // retire seg/<n> between segments()'s existence check and this stat
      // (TOCTOU, round-15 ADVICE) — a vanished segment IS a moved
      // fingerprint (`-`), never an exception up the serving request path
      try {
        val st = fs.getFileStatus(
          new org.apache.hadoop.fs.Path(p, "tombstones/_SUCCESS"))
        s"$SegDir/$n:${st.getModificationTime}"
      } catch { case _: java.io.FileNotFoundException => s"$SegDir/$n:-" }
    }
    (base ++ (marker +: segs)).mkString(";")
  }

  val CompactStagingDir = "_compact"
  val CompactCommitMarker = "_COMMIT"

  /** Complete a committed staged swap. [[writeStagedSwap]] writes the
    * full staging artifact under `_compact/`, then drops the `_COMMIT`
    * marker, then swaps table directories into place — a crash mid-swap
    * would tear the artifact, so the swap is IDEMPOTENT and any reader
    * that finds the marker finishes it here before reading (a table
    * already swapped is simply absent from staging and skipped). Without
    * the marker, staging is an uncommitted leftover and is ignored. */
  private[graft] def finishCompactSwap(spark: SparkSession, dir: String): Unit = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staging = new org.apache.hadoop.fs.Path(dir, CompactStagingDir)
    val markerPath = new org.apache.hadoop.fs.Path(staging, CompactCommitMarker)
    if (!fs.exists(markerPath)) return
    // dirs the committer recorded as DELIBERATELY omitted from staging
    // ([[commitStagedSwap]]) — the swap retires them from the live root.
    // Restricted to the swap-managed set so a corrupted marker can never
    // name seg/ or an arbitrary path; a legacy empty marker drops nothing.
    val drops = {
      val in = fs.open(markerPath)
      val txt =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      txt.split('\n').map(_.trim).filter(_.nonEmpty).toSet
        .intersect(SwapManagedDirs.toSet)
    }
    // tables AND sidecars: compact stages the frozen-model sidecar rebuild
    // alongside the folded tables, so the whole artifact swaps behind the
    // one marker — a torn swap can never pair the folded base (segments
    // gone) with sidecars that only covered the old base
    SwapManagedDirs.foreach { d =>
      val src = new org.apache.hadoop.fs.Path(staging, d)
      if (fs.exists(src)) {
        fs.delete(new org.apache.hadoop.fs.Path(dir, d), true)
        fs.rename(src, new org.apache.hadoop.fs.Path(dir, d))
      }
    }
    // retire the recorded omissions AFTER the renames: re-running this on
    // crash replay re-deletes (a no-op) — never a just-renamed table
    drops.foreach(d => fs.delete(new org.apache.hadoop.fs.Path(dir, d), true))
    // the staged base folded every segment in; marker removal (with the
    // staging dir) is the swap's own completion point
    fs.delete(new org.apache.hadoop.fs.Path(dir, SegDir), true)
    fs.delete(staging, true)
  }

  /** Load the artifact's LIVE view. Without segments this is a plain read of
    * the canonical datasets. With segments: base ∪ segments with a
    * generation injected from the STORAGE LOCATION at read time (base = 0,
    * segment n = n — no on-disk schema change), masked by the tombstone
    * rule "a row of a replaced path is live iff its generation ≥ the latest
    * generation that replaced the path". termdf sums base + signed segment
    * deltas per term; stats derive from the live doclen. The mask join
    * broadcasts the (tiny between compactions) tombstone set; consumers see
    * canonical schemas either way. */
  def load(spark: SparkSession, dir: String): IndexData = {
    finishCompactSwap(spark, dir) // heal a crashed compaction, if any
    // AFTER the heal: a compaction crash inside the settings swap window
    // (old settings deleted, staged rename pending) leaves exactly the
    // state this check rejects — the heal must get first look or that
    // artifact becomes permanently unloadable. Then a clean not-an-index
    // error beats the raw FileNotFound stack the parquet reader would
    // throw three calls deeper.
    val settingsPath = new org.apache.hadoop.fs.Path(s"$dir/settings")
    val fs = settingsPath.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(settingsPath))
      sys.error(s"no index at $dir (missing $dir/settings — run `graft index --db $dir` first)")
    val segs = segments(spark, dir)
    val settings = spark.read.parquet(s"$dir/settings")
    // the canonical serving projection of a postings frame: (doc_id, term,
    // tf) plus the denormalized dl when the artifact carries it (every
    // artifact written since the dl layout; legacy ones fall back to the
    // doclen join inside Bm25.scores)
    def postingsView(df: DataFrame): DataFrame =
      df.select(("doc_id" +: "term" +: "tf" +:
        (if (df.columns.contains("dl")) Seq("dl") else Nil)).map(col): _*)
    val fsRoot = settingsPath.getFileSystem(spark.sessionState.newHadoopConf())
    def hasPositions(root: String): Boolean =
      fsRoot.exists(new org.apache.hadoop.fs.Path(root, s"$PositionsDir/_SUCCESS"))
    if (segs.isEmpty) IndexData(
      documents = spark.read.parquet(s"$dir/documents"),
      postings = postingsView(spark.read.parquet(s"$dir/postings")),
      termdf = spark.read.parquet(s"$dir/termdf"),
      doclen = spark.read.parquet(s"$dir/doclen").select("doc_id", "dl"),
      stats = spark.read.parquet(s"$dir/stats"),
      settings = settings,
      ann = AnnIndex.load(spark, dir),
      pq = PqIndex.load(spark, dir),
      positions =
        if (hasPositions(dir))
          Some(spark.read.parquet(s"$dir/$PositionsDir")
            .select("doc_id", "term", "pos"))
        else None)
    else {
      // latest replacing generation per replaced path — the one mask frame
      val tombMax = segs.map { case (n, p) =>
          spark.read.parquet(s"$p/tombstones")
            .select(col("file_path"), lit(n).as("_upto")) }
        .reduce(_ unionByName _)
        .groupBy("file_path").agg(max("_upto").as("_upto"))
      def live(table: String): DataFrame = {
        val all = segs.foldLeft(
            spark.read.parquet(s"$dir/$table").withColumn("_gen", lit(0))) {
          case (acc, (n, p)) =>
            acc.unionByName(spark.read.parquet(s"$p/$table").withColumn("_gen", lit(n)))
        }
        all.join(broadcast(tombMax), Seq("file_path"), "left")
          .filter(col("_upto").isNull || col("_gen") >= col("_upto"))
          .drop("_gen", "_upto")
      }
      val doclenLive = live("doclen")
      val termdf = (spark.read.parquet(s"$dir/termdf") +:
          segs.map { case (_, p) => spark.read.parquet(s"$p/termdf") })
        .reduce(_ unionByName _)
        .groupBy("term").agg(sum("df").cast("long").as("df"))
        .filter(col("df") > 0)

      // Sidecar assembly: segments written by `appendMerge` under a
      // sidecar-bearing base carry frozen-model DELTAS (per-segment
      // ann_postings / ann_pq_codes) plus dead_ids — the doc_ids their
      // tombstones masked. Sidecar rows are keyed by doc_id, not file_path,
      // so the mask here is by dead doc_id with the same generation rule
      // ("live iff gen ≥ the latest segment that declared the id dead" —
      // a replaced path re-indexed with IDENTICAL content reuses its
      // doc_id, and only the generation keeps the new row alive). The
      // cluster filter of the probed `--ann` path pushes through the union
      // into BOTH parquet scans, so partition pruning survives assembly.
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      def segHas(p: String, sub: String): Boolean =
        fs.exists(new org.apache.hadoop.fs.Path(p, s"$sub/_SUCCESS"))
      val allDead = segs.forall { case (_, p) => segHas(p, "dead_ids") }
      lazy val deadMax = segs.map { case (n, p) =>
          spark.read.parquet(s"$p/dead_ids")
            .select(col("doc_id"), lit(n).as("_upto")) }
        .reduce(_ unionByName _)
        .groupBy("doc_id").agg(max("_upto").as("_upto"))
      def liveById(base: DataFrame, sub: String): DataFrame = {
        val all = segs.foldLeft(base.withColumn("_gen", lit(0))) {
          case (acc, (n, p)) =>
            acc.unionByName(
              spark.read.parquet(s"$p/$sub").withColumn("_gen", lit(n)),
              allowMissingColumns = true)
        }
        all.join(broadcast(deadMax), Seq("doc_id"), "left")
          .filter(col("_upto").isNull || col("_gen") >= col("_upto"))
          .drop("_gen", "_upto")
      }
      val baseAnn = AnnIndex.load(spark, dir)
      val annCovered = baseAnn.isDefined && allDead &&
        segs.forall { case (_, p) => segHas(p, AnnIndex.PostingsDir) }
      val basePq = PqIndex.load(spark, dir)
      val pqCovered = basePq.isDefined && allDead &&
        segs.forall { case (_, p) => segHas(p, PqIndex.CodesDir) }
      IndexData(
        documents = live("documents"),
        postings = postingsView(live("postings")),
        termdf = termdf,
        doclen = doclenLive.select("doc_id", "dl"),
        stats = Bm25.corpusStats(doclenLive),
        settings = settings,
        ann =
          if (annCovered)
            baseAnn.map(a => a.copy(postings = liveById(a.postings, AnnIndex.PostingsDir)))
          else baseAnn,
        pq =
          if (pqCovered)
            basePq.map(q => q.copy(codes = liveById(q.codes, PqIndex.CodesDir)))
          else basePq,
        // positions assemble through the SAME tombstone mask as the other
        // file_path-carrying tables — but only when every pending segment
        // wrote its position delta; a partial view would silently drop
        // phrase matches from segment docs, so coverage gaps degrade to
        // None (the token-filter fallback is always correct)
        positions =
          if (hasPositions(dir) && segs.forall { case (_, p) => hasPositions(p) })
            Some(live(PositionsDir).select("doc_id", "term", "pos"))
          else None,
        pendingSegments = segs.size,
        sidecarsCoverSegments =
          (baseAnn.isEmpty || annCovered) && (basePq.isEmpty || pqCovered))
    }
  }

  /** Derive the full artifact from a `documents` DataFrame that already has
    * (doc_id, tokens[, embedding]) columns — the F1–F3 stats build
    * (SURVEY.md §2.4). */
  def fromDocuments(documents: DataFrame, settings: DataFrame): IndexData = {
    val doclen = Bm25.docLengths(documents)
    // withDl: in-memory artifacts carry the same dl-denormalized postings
    // shape as written ones, so every serving path exercises one layout
    val posting = Bm25.postings(documents, withDl = true)
    IndexData(
      documents = documents,
      postings = posting,
      termdf = Bm25.docFreq(posting),
      doclen = doclen,
      stats = Bm25.corpusStats(doclen),
      settings = settings)
  }
}
