package graft.index

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.analyze.{Analyzer, Chunker, DefaultAnalyzer, MarkdownChunker}
import graft.core.Schemas.{Chunk, Setting}
import graft.embed.Embedder
import graft.search.Bm25

/** The INDEX write path (SURVEY.md §2.12, §3.1) as one distributed job:
  *
  *   S1/S2 binaryFile scan → X1 front-matter strip (inside chunker) →
  *   T2 chunk (flatMap) → T1 tokenize → T3 embed (mapPartitions, batched) →
  *   X5 path trim → S3 write documents → F1–F3 stats build → S5 settings
  *
  * vs the reference (`src/indexer.py:20-179`): its ProcessPoolExecutor file
  * fan-out (`src/splitter.py:419-428`) becomes partition parallelism of the
  * file scan; its driver-side embedding loop (`src/indexer.py:85-96`) moves
  * to executors. Nothing is ever collected to the driver — the 100 TB
  * posture (SURVEY.md §7.4).
  */
object IndexJob {

  final case class Options(
      chunkSize: Int = 512,
      overlap: Int = 50,
      trimPathPrefix: Option[String] = None,
      clear: Boolean = true, // reference `--clear`, `src/indexer.py:48-50`
      embedBatchSize: Int = 8, // reference `src/models/embedding.py:51`
      // splitter strategy enum (reference `--splitter`, `src/cli.py:71-98`,
      // factory `src/splitter.py:621-651`): "header" = the llama-index
      // header strategy (MarkdownChunker), "recursive"/"chonkie" = the
      // chonkie recursive strategy (RecursiveChunker)
      splitter: String = "header",
      // IVF ANN sidecar (the reference's HNSW build, `src/db.py:152-165`):
      // >0 fits that many k-means centroids over the indexed embeddings and
      // persists cluster-partitioned inverted lists next to the documents
      // (`--ann-clusters`); 0 = no ANN index (search stays exact)
      annClusters: Int = 0,
      annIters: Int = 4,
      // `--refit-ann`: drop frozen centroids and re-fit over the merged
      // corpus (the drift-recovery action; K carried over unless
      // --ann-clusters overrides). No-op when the artifact has no sidecar.
      annRefit: Boolean = false,
      // PQ sidecar (`--pq-codes K`): >0 trains K-entry per-subspace
      // codebooks and persists codes so `search --ann pq` ranks from codes
      pqCodes: Int = 0,
      pqIters: Int = 3,
      // `--refit-pq`: drop frozen codebooks and re-fit (K carried over
      // unless --pq-codes overrides). No-op without a PQ sidecar.
      pqRefit: Boolean = false,
      // space-filling-curve file clustering for the documents dataset
      // (`--layout zorder|hilbert`): range-partitions the write on the
      // Layout curve key over (file_path, line_start) so each parquet file
      // covers a disjoint key range — path/line predicates prune files via
      // row-group stats. "none" keeps the pipeline's natural partitioning.
      layout: String = "none",
      layoutFiles: Int = 8,
      // incremental-merge strategy (`--merge`): "rewrite" (default) folds
      // each batch into a full base rewrite — O(corpus) per merge, always
      // canonical; "append" writes an O(delta) segment under seg/<n>/ with
      // per-segment tombstones for replaced paths, folded back into the
      // base by `graft compact` ([[IndexJob.compact]]). Append keeps merge
      // cost proportional to the BATCH at 100 TB; the trade is that the
      // ANN/PQ sidecars only refresh at compaction (exact search paths see
      // segments immediately via the live view).
      mergeMode: String = "rewrite",
      // auto-compaction policy for append mode (`--compact-every N`, the
      // LSM fold cadence): whenever the committed segment count reaches N,
      // the streaming watch folds segments into the canonical base —
      // bounding the live view's read amplification (every query unions
      // base + segments). 0 = never (compact explicitly via `graft
      // compact`). Only meaningful with mergeMode = "append".
      compactEvery: Int = 0,
      // positional-sidecar policy (`--positions on|off`, round-16
      // directive #1): the positions/ table is Σdl rows — roughly the
      // corpus TOKEN COUNT — so a corpus that never issues a phrase query
      // should not build and store it. Some(false) persists the explicit
      // settings marker `positions=off` (so staged swaps can distinguish
      // "absent by choice" from "missing mid-swap", and serving `--phrase`
      // knowingly uses the token-filter fallback); Some(true) re-enables a
      // previously opted-out artifact; None inherits — on for fresh
      // builds, the artifact's prior choice across incremental merges
      // (the settings upsert keeps the stored marker).
      positions: Option[Boolean] = None)

  /** Fold an Options-level positions policy into a settings frame as the
    * persisted `positions=on|off` marker row ([[IndexData.PositionsKey]]).
    * None adds no row — fresh builds default on, incremental merges keep
    * the artifact's stored choice (the settings upsert only replaces keys
    * the fresh frame carries). */
  private[graft] def withPositionsSetting(settings: DataFrame,
      positions: Option[Boolean]): DataFrame = positions match {
    case None => settings
    case Some(on) =>
      val spark = settings.sparkSession
      import spark.implicits._
      IndexData.upsertSettings(settings,
        Seq(Setting(IndexData.PositionsKey,
          if (on) "on" else IndexData.PositionsOff)).toDF())
  }

  /** The `--splitter` factory (reference `src/splitter.py:621-651`). */
  def chunkerFor(opts: Options, analyzer: Analyzer): Chunker = opts.splitter match {
    case "recursive" | "chonkie" => new graft.analyze.RecursiveChunker(opts.chunkSize, analyzer)
    case _ => new MarkdownChunker(opts.chunkSize, opts.overlap, analyzer)
  }

  /** The markdown source contract, shared by the batch scan and the
    * streaming indexer so the two can never drift: glob, recursion, and the
    * raw-bytes → (file_path, text) projection. */
  val MarkdownGlob = "*.md"

  def decodeMarkdownFiles(files: DataFrame): DataFrame =
    files.select(col("path").as("file_path"), decode(col("content"), "UTF-8").as("text"))

  /** `analyzerName`: explicit override for analyzers outside the
    * [[graft.analyze.Analyzers]] registry — the persisted name is then the
    * caller's contract, and the caller must re-supply the same Analyzer
    * instance at search time (byName cannot resolve it). Registered
    * analyzers (incl. `DictionaryAnalyzer`) should omit it. */
  def settingsFor(spark: SparkSession, embedder: Embedder,
      analyzer: Analyzer = DefaultAnalyzer,
      analyzerName: Option[String] = None): DataFrame =
    settingsOf(spark, embedder.name, embedder.dim,
      analyzerName.getOrElse(graft.analyze.Analyzers.nameOf(analyzer)))

  def settingsOf(spark: SparkSession, modelName: String, dim: Int,
      analyzerName: String = graft.analyze.Analyzers.DefaultName): DataFrame = {
    import spark.implicits._
    Seq(
      Setting("embedding_model", modelName),
      Setting("embedding_dim", dim.toString),
      // which Analyzer produced the stored tokens — search must re-resolve
      // the SAME one (tokens are data, SURVEY.md §7.4)
      Setting("analyzer", analyzerName)).toDF()
  }

  /** Scan directories for markdown files (S1/S2). `binaryFile` pushes the
    * `*.md` glob into file listing (P6) and parallelizes by file. */
  def scanMarkdown(spark: SparkSession, dirs: Seq[String]): DataFrame =
    decodeMarkdownFiles(spark.read.format("binaryFile")
      .option("pathGlobFilter", MarkdownGlob)
      .option("recursiveFileLookup", "true")
      .load(dirs: _*))

  /** Files → chunks, the T2 UDTF as `flatMap`. */
  def chunkFiles(files: DataFrame, chunker: Chunker): Dataset[Chunk] = {
    val spark = files.sparkSession
    import spark.implicits._
    files.select("file_path", "text").as[(String, String)]
      .flatMap { case (path, text) => chunker.chunk(path, text) }
  }

  /** Chunks → documents rows with deterministic ids, trimmed paths and
    * embeddings. Embedding runs per-partition with internal batching
    * (T3; batch_size mirrors reference `src/models/embedding.py:51`). Ids are
    * content-addressed (sha1 of path:lines) rather than ULIDs — time-ordered
    * randomness is not load-bearing (SURVEY.md §2.8 X9) and determinism makes
    * the artifact reproducible. */
  def embedChunks(chunks: Dataset[Chunk], embedder: Embedder, opts: Options): DataFrame = {
    val spark = chunks.sparkSession
    import spark.implicits._
    val batch = opts.embedBatchSize
    val rows = chunks.mapPartitions { it =>
      it.grouped(batch).flatMap { g =>
        val vecs = embedder.embed(g.map(_.content))
        g.lazyZip(vecs).map { (c, v) => (c, v) }
      }
    }
    chunksToDocs(rows.toDF("chunk", "embedding").select(col("chunk.*"), col("embedding")), opts)
  }

  /** Chunk columns (+ `embedding`) → the documents schema: X5 path trim
    * (reference `src/indexer.py:112-136`) + content-addressed ids. The ONE
    * projection shared by the per-row embedder path, the bulk tf-idf path
    * and the streaming indexer, so the artifact schema can never drift per
    * entry point. */
  private[graft] def chunksToDocs(df: DataFrame, opts: Options): DataFrame = {
    val trimmed = opts.trimPathPrefix match {
      case Some(p) =>
        // binaryFile stores URIs (`file:/...` locally, `s3a://...` remote),
        // but users pass filesystem prefixes — an anchored literal match
        // would silently no-op against the scheme. Accept the plain form by
        // optionally consuming a `file:` scheme before the prefix; schemed
        // prefixes (`file:/x`, `s3a://bucket/x`) still match literally.
        df.withColumn("filePath",
          regexp_replace(
            regexp_replace(col("filePath"),
              lit("^(?:file:)?" + java.util.regex.Pattern.quote(p)), lit("")),
            lit("^/+"), lit("")))
      case None => df
    }
    trimmed.select(
      sha1(concat_ws(":", col("filePath"), col("lineStart"), col("lineEnd"))).as("doc_id"),
      col("filePath").as("file_path"),
      col("headerPath").as("header_path"),
      col("lineStart").as("line_start"),
      col("lineEnd").as("line_end"),
      col("content"),
      col("tokens"),
      col("embedding"))
  }

  /** Full INDEX job: markdown dirs → saved index artifact at `indexDir`. */
  def run(
      spark: SparkSession,
      dirs: Seq[String],
      indexDir: String,
      embedder: Embedder,
      analyzer: Analyzer = DefaultAnalyzer,
      opts: Options = Options()): IndexData = {
    import spark.implicits._
    val chunker = chunkerFor(opts, analyzer)
    val files = scanMarkdown(spark, dirs)
    val fresh = embedChunks(chunkFiles(files, chunker), embedder, opts)
    mergeAndWrite(spark, fresh,
      withPositionsSetting(settingsFor(spark, embedder, analyzer), opts.positions),
      indexDir,
      clear = opts.clear, annClusters = opts.annClusters, annIters = opts.annIters,
      annRefit = opts.annRefit, pqCodes = opts.pqCodes, pqIters = opts.pqIters,
      pqRefit = opts.pqRefit, layout = opts.layout, layoutFiles = opts.layoutFiles,
      mergeMode = opts.mergeMode)
  }

  /** Index a pre-curated ROW corpus (JSONL/CSV read through
    * [[graft.sources.DocSources]], or any (doc_id, text[, source]) frame):
    * each row becomes ONE document chunk — sizing belongs to the upstream
    * curation pass (`q_token_windows`/chunk-size there), so no splitter
    * runs here. No markdown structure exists: file_path is the row's
    * `source` when present else a `doc:<id>` synthetic, header_path empty,
    * line range 1..(line count). Same merge/sidecar/layout machinery as the
    * markdown run — the artifact is indistinguishable downstream. */
  /** (doc_id, text[, source]) rows → one [[Chunk]] per row: path
    * `<source-or-"doc">:<doc_id>`, empty header, 1..lineCount range.
    *
    * The doc_id is ALWAYS part of the path: `source` is a shared provenance
    * label (many rows per source is the normal shape — see `GROUP BY
    * source` across the query surface), and the merge replaces BY PATH, so
    * a source-only path would collapse sibling docs into one identity and
    * an incremental drop would anti-join them all away. Rows with a null
    * doc_id or null text are SKIPPED (PERMISSIVE parsing nulls malformed
    * rows; a wholesale-null corpus is caught loudly by DocSources' probe).
    * doc_id uniqueness within one frame is the caller's contract —
    * duplicate ids mean duplicate chunks here (the streaming ingest dedups
    * per batch before calling, last drop wins). */
  private[graft] def rowChunks(rows: DataFrame, analyzer: Analyzer): Dataset[Chunk] = {
    val spark = rows.sparkSession
    import spark.implicits._
    val srcCol =
      if (rows.columns.contains("source")) coalesce(col("source"), lit("doc"))
      else lit("doc")
    val an = analyzer // Analyzer extends Serializable — ships to executors
    rows
      .filter(col("doc_id").isNotNull && col("text").isNotNull)
      .select(concat(srcCol.cast("string"), lit(":"), col("doc_id").cast("string")).as("p"),
        col("text").cast("string").as("t"))
      .as[(String, String)]
      .map { case (p, t) => Chunk(p, "", 1, 1 + t.count(_ == '\n'), t, an.tokenize(t)) }
  }

  def runRows(
      spark: SparkSession,
      rows: org.apache.spark.sql.DataFrame,
      indexDir: String,
      embedder: Embedder,
      analyzer: Analyzer = DefaultAnalyzer,
      opts: Options = Options()): IndexData = {
    val fresh = embedChunks(rowChunks(rows, analyzer), embedder, opts)
    mergeAndWrite(spark, fresh,
      withPositionsSetting(settingsFor(spark, embedder, analyzer), opts.positions),
      indexDir,
      clear = opts.clear, annClusters = opts.annClusters, annIters = opts.annIters,
      annRefit = opts.annRefit, pqCodes = opts.pqCodes, pqIters = opts.pqIters,
      pqRefit = opts.pqRefit, layout = opts.layout, layoutFiles = opts.layoutFiles,
      mergeMode = opts.mergeMode)
  }

  /** S4 semantics (reference `--clear`, `src/indexer.py:48-50`): with
    * clear=false, existing documents are kept and re-indexed paths are
    * replaced (keyed anti-join, then union); stats always rebuild from the
    * merged corpus. clear=true starts from empty. Shared by the batch run
    * and the streaming incremental indexer
    * ([[graft.streaming.IndexStream]], one call per micro-batch).
    *
    * `mergeMode = "append"` routes an incremental merge to [[appendMerge]]
    * (O(delta) segment instead of an O(corpus) rewrite); full builds and
    * clear always write the canonical base. */
  def mergeAndWrite(
      spark: SparkSession,
      fresh: DataFrame,
      settings: DataFrame,
      indexDir: String,
      clear: Boolean,
      annClusters: Int = 0,
      annIters: Int = 4,
      annRefit: Boolean = false,
      pqCodes: Int = 0,
      pqIters: Int = 3,
      pqRefit: Boolean = false,
      layout: String = "none",
      layoutFiles: Int = 8,
      mergeMode: String = "rewrite"): IndexData = {
    require(mergeMode == "rewrite" || mergeMode == "append",
      s"unknown mergeMode '$mergeMode' (expected rewrite or append)")
    // FileSystem API, not java.io.File: indexDir may be hdfs://, s3a://, …
    // — java.io.File.exists() is always false there, which would silently
    // turn a clear=false merge into a destructive full overwrite.
    val docsPath = new org.apache.hadoop.fs.Path(indexDir, "documents")
    val fs = docsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val incremental = !clear && fs.exists(docsPath)
    // the append route guards inside appendMerge (it has direct callers);
    // guarding here too would run the settings read twice per O(delta)
    // ingest — the duplicated-settings-job class round 17 removed
    if (incremental && mergeMode == "append")
      return appendMerge(spark, fresh, settings, indexDir)
    if (incremental) requireAnalyzerConsistent(spark, indexDir, settings)
    if (!incremental) {
      // a full (re)build must not inherit a previous build's sidecars (the
      // frozen-model incremental contract below would otherwise re-assign
      // the new corpus under OLD centroids/codebooks). Its append segments
      // are obsolete too, but those are retired by the staged swap BELOW,
      // atomically with the new base — deleting them here would lose the
      // appended docs if the build crashed before the base existed.
      (Seq(AnnIndex.CentroidsDir, AnnIndex.PostingsDir,
        PqIndex.CodebooksDir, PqIndex.CodesDir)).foreach { d =>
        fs.delete(new org.apache.hadoop.fs.Path(indexDir, d), true)
      }
    }
    val docs =
      if (!incremental) fresh
      else {
        // the LIVE view, not the raw base: a rewrite-mode merge over an
        // artifact carrying append segments must fold the segment docs in,
        // not silently drop them. Documents only, so the rewrite also
        // migrates an artifact of an older format
        val existing = IndexData.liveView(spark, indexDir).live("documents")
        val freshPaths = fresh.select("file_path").distinct()
        existing.join(freshPaths, Seq("file_path"), "left_anti")
          .unionByName(fresh)
          // materialize before overwriting the parquet dir being read
          .localCheckpoint(true)
      }
    // space-filling-curve clustering of the documents files (pure layout:
    // same rows, same schema — LayoutWriteSpec pins result-neutrality)
    val laidOut =
      if (layout == "none") docs
      else graft.ops.Layout.cluster(docs, layout, "file_path", "line_start", layoutFiles)
    // incremental settings are an UPSERT against the artifact (the
    // reference's INSERT OR REPLACE, `src/db.py:170-178`), never a
    // truncate: replacing the table with just the embedder keys would
    // clobber artifact-lifetime state like the ann_* drift baseline on
    // every merge. clear=true replaces wholesale (sidecars are gone too).
    val mergedSettings =
      if (!incremental) settings
      else IndexData.upsertSettings(
        spark.read.parquet(s"$indexDir/settings"), settings).localCheckpoint(true)
    // STAGED ATOMIC REWRITE (round-15, [[IndexData.writeStagedSwap]]):
    // write-then-derive into the compaction staging dir, commit by marker,
    // swap. This retires TWO hazards the old in-place overwrite carried:
    // (a) the round-14 ordering bug class — the new base is written into
    // the segment-free STAGING dir and the swap retires seg/ with it, so
    // "new base ∪ old segments" cannot be assembled by construction (the
    // old fix deleted seg/ first, which traded the brick for hazard b);
    // (b) crash durability — deleting seg/ before the base that folds it
    // exists LOSES the appended docs on a crash mid-write, and the
    // in-place per-table overwrites could tear the artifact (new
    // documents + old termdf). Staged, a crash before the marker leaves
    // the live artifact byte-untouched, and the committed swap retires
    // seg/ atomically with the new base.
    // Default layout is doc_id-range-clustered (the serving fetch's
    // pruning unit); an explicit --layout keeps its SFC clustering.
    val written = IndexData.writeStagedSwap(laidOut, mergedSettings, indexDir,
      clusterById = layout == "none")
    withPq(withAnn(written, indexDir, annClusters, annIters, refit = annRefit),
      indexDir, pqCodes, pqIters, refit = pqRefit)
  }

  /** O(delta) incremental merge: write the fresh batch as append segment
    * `seg/<n>/` instead of rewriting the base — documents + per-segment
    * doclen/postings rows, a SIGNED termdf delta (+df for fresh docs, −df
    * for the rows of replaced paths they mask), and the tombstone list of
    * replaced paths, written LAST as the commit point
    * ([[IndexData.segments]]' crash contract). Work is proportional to the
    * batch except when paths are REPLACED, which adds one filtered scan of
    * the live documents to subtract the dead rows' term stats (no rewrite —
    * the dead rows stay on disk, masked, until [[compact]] folds them out).
    *
    * Sidecars stay fresh WITHOUT compaction: when the base carries an
    * ANN/PQ sidecar, the segment also gets its frozen-model DELTA — the
    * batch assigned under the frozen centroids (`seg/<n>/ann_postings`,
    * cluster-partitioned like the base lists) and/or encoded under the
    * frozen codebooks (`seg/<n>/ann_pq_codes`) — plus `dead_ids`, the
    * doc_ids the tombstones masked, so [[IndexData.load]] can assemble the
    * live sidecar view (union + dead-id mask) and `--ann` search sees
    * appended docs immediately. All O(delta): assignment/encode touch only
    * the batch. The drift metrics update after the commit from the
    * assembled view's persisted byproduct columns (`assign_dist` /
    * `err_sum`) — a narrow column scan, never a re-assignment pass.
    *
    * Refuses an artifact of another format ([[IndexData.UnsupportedFormat]])
    * before it writes anything. */
  /** Incremental-merge analyzer guard: the artifact's tokens were produced
    * by ONE analyzer (the `analyzer` settings row — including any
    * `norm:<form>:` normalization layer), and a merge that tokenized its
    * batch with a DIFFERENT one would mix token spaces silently: df
    * statistics disagree across documents and no single query tokenization
    * matches both halves. Fail fast with the remedy instead — the same
    * posture as the append flip-on guard. Artifacts predating the analyzer
    * key (or merges whose settings carry no analyzer row) pass through. */
  private def requireAnalyzerConsistent(spark: SparkSession, indexDir: String,
      freshSettings: DataFrame): Unit = {
    val freshName = freshSettings.filter(col("key") === "analyzer")
      .select("value").collect().headOption.map(_.getString(0))
    val storedName = scala.util.Try(
      spark.read.parquet(s"$indexDir/settings")
        .filter(col("key") === "analyzer").select("value")
        .collect().headOption.map(_.getString(0))).toOption.flatten
    (freshName, storedName) match {
      case (Some(f), Some(s)) if f != s => sys.error(
        s"incremental merge tokenized with analyzer '$f' against an " +
          s"artifact indexed with '$s' — merging would mix token spaces " +
          "(df statistics and query tokenization cannot agree across " +
          "documents); re-run with --clear to rebuild under the new " +
          "analyzer, or drop the conflicting --analyzer/--dict/--normalize")
      case _ => ()
    }
  }

  def appendMerge(
      spark: SparkSession,
      fresh: DataFrame,
      settings: DataFrame,
      indexDir: String): IndexData = {
    // pre-merge live view, format-checked before anything is written —
    // segments() can't see this merge's segment until its tombstones, the
    // commit marker, exist at the end
    val pre = IndexData.load(spark, indexDir)
    requireAnalyzerConsistent(spark, indexDir, settings)
    require(spark.read.parquet(s"$indexDir/postings").columns.contains("file_path"),
      s"append merge needs a base whose stats rows carry file_path (documents " +
        s"built without it cannot be masked by path); rebuild the artifact " +
        s"from documents that carry file_path")
    // positions policy vs layout: an O(delta) append can only EXTEND an
    // existing positions sidecar (the delta gate below keys on the base
    // dir) — it cannot create the O(corpus) base sidecar. An explicit
    // `--positions on` against an opted-out base would otherwise flip the
    // settings marker while building nothing: readers see positions=on,
    // find no sidecar, and `--phrase-rank` tells the user to rebuild —
    // with settings already claiming it's on. Fail fast with the remedy
    // instead. (The reverse flip — `off` on a positions-carrying base —
    // is safe: the marker wins at load, and the next compact retires the
    // now-unread sidecar.)
    val fsIdx = new org.apache.hadoop.fs.Path(indexDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val baseHasPositions = fsIdx.exists(new org.apache.hadoop.fs.Path(
      indexDir, s"${IndexData.PositionsDir}/_SUCCESS"))
    // one collect answers both "explicit flag present" and "value is on"
    val explicitPositions = settings
      .filter(col("key") === IndexData.PositionsKey).select("value")
      .collect().headOption.map(_.getString(0))
    if (explicitPositions.exists(_ != IndexData.PositionsOff) && !baseHasPositions)
      sys.error(s"--positions on cannot materialize the base positions/ " +
        s"sidecar through an O(delta) append merge (the artifact at " +
        s"$indexDir is opted out); run a rewrite merge with --positions on " +
        s"(graft index without --merge append), or drop --positions on " +
        s"from the append")
    val segN = IndexData.segments(spark, indexDir).lastOption.map(_._1 + 1).getOrElse(1)
    val segDir = s"$indexDir/${IndexData.SegDir}/$segN"
    // segment documents first, doc_id-clustered like the base: the serving
    // fetch reads the LIVE view (base ∪ segments), so the base layout's
    // pruning invariant must hold for segment files too; O(delta)-cheap.
    // Floor of 1 part: see [[IndexData.writeDocsClustered]]
    val segParts = IndexData.writeDocsClustered(fresh, segDir, minParts = 1)
    val segDocs = spark.read.parquet(s"$segDir/documents")
    val replaced = pre.documents.select("file_path").distinct()
      .join(segDocs.select("file_path").distinct(), Seq("file_path"))
      // bounded by the batch's path count; used twice (dead-stats subtract
      // + tombstone write), so materialize once
      .localCheckpoint(true)
    val carry = Seq("file_path")
    Bm25.docLengths(segDocs, carry = carry)
      .write.mode("overwrite").parquet(s"$segDir/doclen")
    // segment postings are O(delta)-small but share the serving probe with
    // the base: sort within files by term so the pushed In(term, …) filter
    // prunes their row groups too (base layout: IndexData.write). withDl —
    // the live view unions base and segment postings, so the schemas must
    // agree
    Bm25.postings(segDocs, carry = carry, withDl = true)
      .sortWithinPartitions("term", "doc_id")
      .write.mode("overwrite").parquet(s"$segDir/postings")
    // positional sidecar delta: when the base carries positions/, each
    // segment must too — [[IndexData.load]] unions every segment's delta
    // (a partial positional index would silently drop phrase matches from
    // segment docs). An opt-out base (`--positions off`) has
    // no positions/ dir, so segments stay opt-out for free. O(delta) like
    // the other per-segment tables. Layout: term-RANGE partitioned at the
    // segment's size-based part count, term-sorted within files — small
    // deltas still land in one file, but a large drop (watch-mode JSONL
    // batches) is NOT funneled through a single task: the positions delta
    // is the segment's biggest table (Σdl rows ≈ the batch token count),
    // and a flat coalesce(1) made it a one-task sort+write bottleneck.
    // Range-on-term keeps per-file term ranges disjoint, so a phrase
    // probe's per-file stats prune segment files exactly as before
    // (round-16 ADVICE intent, without the single-file cap).
    if (baseHasPositions)
      Bm25.positionalPostings(segDocs, carry = carry)
        .repartitionByRange(segParts, col("term"), col("doc_id"))
        .sortWithinPartitions("term", "doc_id", "pos")
        .write.mode("overwrite").parquet(s"$segDir/${IndexData.PositionsDir}")
    val plus = Bm25.docFreq(spark.read.parquet(s"$segDir/postings"))
    val deadDocs = pre.documents.join(broadcast(replaced), Seq("file_path"))
    val minus = Bm25.docFreq(Bm25.postings(deadDocs))
      .select(col("term"), (-col("df")).as("df"))
    plus.unionByName(minus)
      .groupBy("term").agg(sum("df").cast("long").as("df"))
      .filter(col("df") =!= 0)
      // term-sorted within the (tiny) delta files: the assembled termdf's
      // pushed In(term, …) lookups prune segment row groups like the base's
      .sortWithinPartitions("term")
      .write.mode("overwrite").parquet(s"$segDir/termdf")
    // the doc_ids the tombstones mask — the sidecar-side mask key (sidecar
    // rows carry no file_path; [[IndexData.load]] masks them by dead id
    // with the same generation rule)
    deadDocs.select("doc_id").distinct()
      .write.mode("overwrite").parquet(s"$segDir/dead_ids")
    // frozen-model sidecar deltas: O(delta) assignment/encode of the BATCH
    // so the --ann paths cover segment docs without waiting for compaction
    val segAnnAssign = pre.ann.map { ann =>
      val centroids = ann.centroids.localCheckpoint(true)
      AnnIndex.writeClusterPartitioned(
        AnnIndex.buildPostings(segDocs, "doc_id", "embedding", centroids),
        s"$segDir/${AnnIndex.PostingsDir}", parts = Some(1))
      spark.read.parquet(s"$segDir/${AnnIndex.PostingsDir}")
    }
    pre.pq.foreach { pq =>
      val books = pq.codebooks.localCheckpoint(true)
      val codes = PqIndex.encode(segDocs, "doc_id", "embedding", books)
      ((if (pq.codes.columns.contains("cluster")) segAnnAssign else None) match {
        // composed ivf×pq base: segment codes keep the cluster partitioning
        // so the probe-pruned ADC path prunes segment files too
        case Some(assign) =>
          AnnIndex.writeClusterPartitioned(
            codes.join(assign.select(col("cluster"), col("doc_id")), Seq("doc_id")),
            s"$segDir/${PqIndex.CodesDir}", parts = Some(1))
        case None =>
          codes.write.mode("overwrite").parquet(s"$segDir/${PqIndex.CodesDir}")
      })
    }
    upsertSettingsOnDisk(spark, indexDir,
      settings.collect().map(r => r.getString(0) -> r.getString(1)).toSeq)
    // commit point: the segment becomes visible atomically with this write
    replaced.write.mode("overwrite").parquet(s"$segDir/tombstones")
    // staleness bookkeeping over the now-live assembled view (post-commit:
    // a crash before this leaves the metrics one merge stale — advisory
    // data, refreshed by the next merge). Reads the persisted byproduct
    // columns only — a narrow column scan of base+segments, no second
    // assignment/encode pass.
    updateDriftSettings(spark, indexDir, IndexData.load(spark, indexDir))
  }

  /** Refresh the ann/pq drift metrics from the artifact's current
    * (assembled) sidecar views — persisted byproduct columns only
    * (`assign_dist` / `err_sum`), never a re-assignment pass. All settings
    * READS happen before the single upsert (which overwrites the settings
    * dir `data.settings` still points at). */
  private def updateDriftSettings(spark: SparkSession, indexDir: String,
      data: IndexData): IndexData = {
    val annKvs = data.ann.toSeq.flatMap { ann =>
      val cur = ann.meanAssignDist
      val fit = data.setting(AnnIndex.FitMeanDistKey).map(_.toDouble).getOrElse(cur)
      Seq(
        AnnIndex.FitMeanDistKey -> fit.toString,
        AnnIndex.MeanDistKey -> cur.toString,
        AnnIndex.DriftKey -> AnnIndex.driftOf(fit, cur).toString)
    }
    val pqKvs = data.pq.toSeq.map(pq => PqIndex.meanCodesError(pq.codes)).flatMap { cur =>
        val fit = data.setting(PqIndex.FitMeanErrKey).map(_.toDouble).getOrElse(cur)
        Seq(
          PqIndex.FitMeanErrKey -> fit.toString,
          PqIndex.MeanErrKey -> cur.toString,
          PqIndex.DriftKey -> AnnIndex.driftOf(fit, cur).toString)
      }
    val driftKvs = annKvs ++ pqKvs
    if (driftKvs.isEmpty) data
    else {
      upsertSettingsOnDisk(spark, indexDir, driftKvs)
      IndexData.load(spark, indexDir)
    }
  }

  /** Fold append segments back into the canonical base: rewrite the live
    * view into a staging dir, swap it in, drop `seg/`, then re-derive the
    * ANN/PQ sidecars over the compacted corpus under the standard
    * frozen-model incremental contract (drift measured, like any merge).
    * O(corpus) by design — that is the LSM bargain: many O(delta) merges,
    * one periodic fold. It reads only the live documents and settings
    * ([[IndexData.liveView]]) and writes every table and sidecar anew, so it
    * is also the one-step migration of an artifact of an older format. */
  def compact(spark: SparkSession, indexDir: String,
      layout: String = "none", layoutFiles: Int = 8): IndexData = {
    val live = IndexData.liveView(spark, indexDir)
    val docs =
      if (layout == "none") live.live("documents")
      else graft.ops.Layout.cluster(live.live("documents"), layout, "file_path",
        "line_start", layoutFiles)
    // the live lineage reads base + segments and writes into the staging
    // dir, so there is no read-before-overwrite hazard. refreshSidecars:
    // the ann/pq sidecars are rebuilt over the folded corpus under the
    // FROZEN models (compact is a merge, not a re-fit) and swap behind the
    // same marker, so a crash can never pair the folded base with sidecars
    // that covered only the old base. The drift bookkeeping runs post-swap
    // (a crash before it leaves the metrics one fold stale — advisory only)
    updateDriftSettings(spark, indexDir,
      IndexData.writeStagedSwap(docs, live.settings.localCheckpoint(true), indexDir,
        clusterById = layout == "none", refreshSidecars = true))
  }

  /** Fit + persist the PQ sidecar over an already-written artifact (the
    * [[withAnn]] incremental contract: frozen codebooks re-ENCODE the merged
    * corpus on every merge; fit-from-scratch only when absent). With an IVF
    * sidecar present, codes write cluster-partitioned so the composed
    * `--ann ivf+pq` path partition-prunes the code files by probe. */
  def withPq(written: IndexData, indexDir: String, pqCodes: Int,
      pqIters: Int = 3, refit: Boolean = false): IndexData = {
    val spark = written.documents.sparkSession
    if (written.pq.isDefined || pqCodes > 0) requireCompacted(written, indexDir)
    written.pq match {
      case Some(existing) if refit =>
        // `--refit-pq`: drop the frozen codebooks, re-fit in place (K
        // carried over from the codebook unless --pq-codes overrides)
        val k = if (pqCodes > 0) pqCodes
          else existing.codebooks.select("cid").distinct().count().toInt
        val fs = new org.apache.hadoop.fs.Path(indexDir)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        Seq(PqIndex.CodebooksDir, PqIndex.CodesDir).foreach { d =>
          fs.delete(new org.apache.hadoop.fs.Path(indexDir, d), true)
        }
        val pq = PqIndex.buildAndWrite(
          written.documents, "doc_id", "embedding", indexDir, k, pqIters,
          clusterOf = written.ann.map(_.postings))
        written.copy(pq = Some(pq),
          settings = persistPqBaseline(spark, indexDir, pq, written.documents))
      case Some(existing) =>
        val books = existing.codebooks.localCheckpoint(true)
        val codes = PqIndex.encode(written.documents, "doc_id", "embedding", books)
        written.ann.map(_.postings) match {
          case Some(assign) =>
            AnnIndex.writeClusterPartitioned(
              codes.join(assign.select(col("cluster"), col("doc_id")), Seq("doc_id")),
              s"$indexDir/${PqIndex.CodesDir}")
          case None =>
            codes.write.mode("overwrite").parquet(s"$indexDir/${PqIndex.CodesDir}")
        }
        // frozen-codebook staleness, measured (the pq face of the ann_drift
        // contract): the reconstruction error is a byproduct of the encode
        // pass just written (codes.err_sum), so the measurement is a column
        // scan of the new codes parquet — never a second encode pass
        val reloaded = PqIndex.load(spark, indexDir)
        val cur = reloaded.map(p => PqIndex.meanCodesError(p.codes)).getOrElse(0.0)
        val fit = written.setting(PqIndex.FitMeanErrKey)
          .map(_.toDouble).getOrElse(cur)
        val settings = upsertSettingsOnDisk(spark, indexDir, Seq(
          PqIndex.FitMeanErrKey -> fit.toString,
          PqIndex.MeanErrKey -> cur.toString,
          PqIndex.DriftKey -> AnnIndex.driftOf(fit, cur).toString))
        written.copy(pq = reloaded, settings = settings)
      case None if pqCodes > 0 =>
        val pq = PqIndex.buildAndWrite(
          written.documents, "doc_id", "embedding", indexDir, pqCodes, pqIters,
          clusterOf = written.ann.map(_.postings))
        written.copy(pq = Some(pq),
          settings = persistPqBaseline(spark, indexDir, pq, written.documents))
      case None => written
    }
  }

  /** Persist the fit-time PQ drift baseline: fit = current, drift = 0 —
    * plus the measured shortlist→recall curve ([[PqIndex.recallCurve]]),
    * so every fitted PQ sidecar ships its own `pq:auto` dial in settings,
    * symmetric with the IVF curve ([[persistFitBaseline]]). Reads the
    * error off the just-written codes (`err_sum` column scan). */
  private def persistPqBaseline(spark: SparkSession, indexDir: String,
      pq: PqIndex, documents: DataFrame): DataFrame = {
    val fit = PqIndex.meanCodesError(pq.codes)
    val curve = PqIndex.recallCurve(pq, documents, "doc_id", "embedding")
    upsertSettingsOnDisk(spark, indexDir, Seq(
      PqIndex.FitMeanErrKey -> fit.toString,
      PqIndex.MeanErrKey -> fit.toString,
      PqIndex.DriftKey -> "0.0",
      PqIndex.RecallCurveKey -> AnnIndex.encodeCurve(curve)))
  }

  /** Fit + persist the IVF sidecar over an already-written artifact. The fit
    * reads the written documents parquet (never the expensive chunk+embed
    * lineage).
    *
    * Incremental contract (the tfidf staleness model): when the artifact
    * ALREADY has a sidecar, the centroids stay FROZEN and only the
    * inverted lists re-derive from the merged corpus — a broadcast-argmin
    * assignment pass, no re-fit — so every merged document (including
    * replaced paths) is in exactly one list and `--ann` search never
    * silently misses new docs. Fit-from-scratch happens only when no
    * sidecar exists and `annClusters > 0`, or when `refit = true`
    * (`--refit-ann`: drop the frozen centroids and re-fit over the merged
    * corpus, keeping the existing K unless `annClusters` overrides it).
    *
    * Staleness is MEASURED, not just documented: every frozen-centroid
    * merge re-computes the mean assignment distance over the re-derived
    * lists (one broadcast join + avg on a pass that already runs) and
    * persists `ann_meandist` / `ann_drift` against the fit-time
    * `ann_fit_meandist` baseline in `settings` — so `--ann` search can
    * warn once drift passes [[AnnIndex.DriftWarnThreshold]] instead of
    * quietly serving decayed recall (AnnIndexSpec pins the metric rising
    * under a shifted distribution and a re-fit restoring it). */
  def withAnn(written: IndexData, indexDir: String, annClusters: Int,
      annIters: Int = 4, refit: Boolean = false): IndexData = {
    val spark = written.documents.sparkSession
    if (written.ann.isDefined || annClusters > 0) requireCompacted(written, indexDir)
    written.ann match {
      case Some(existing) if refit =>
        val k = if (annClusters > 0) annClusters else existing.numClusters
        val fs = new org.apache.hadoop.fs.Path(indexDir)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        Seq(AnnIndex.CentroidsDir, AnnIndex.PostingsDir).foreach { d =>
          fs.delete(new org.apache.hadoop.fs.Path(indexDir, d), true)
        }
        val ann = AnnIndex.buildAndWrite(
          written.documents, "doc_id", "embedding", indexDir, k, annIters)
        written.copy(ann = Some(ann),
          settings = persistFitBaseline(spark, indexDir, ann, written.documents))
      case Some(existing) =>
        // frozen centroids: re-assign the merged corpus into the lists
        val centroids = existing.centroids.localCheckpoint(true)
        AnnIndex.writeClusterPartitioned(
          AnnIndex.buildPostings(written.documents, "doc_id", "embedding", centroids),
          s"$indexDir/${AnnIndex.PostingsDir}")
        val ann = AnnIndex.load(spark, indexDir)
        val cur = ann.map(_.meanAssignDist).getOrElse(0.0)
        // fit-time baseline; artifacts from before the drift contract have
        // none — adopt the current measurement as the baseline (drift 0)
        val fit = written.setting(AnnIndex.FitMeanDistKey)
          .map(_.toDouble).getOrElse(cur)
        val settings = upsertSettingsOnDisk(spark, indexDir, Seq(
          AnnIndex.FitMeanDistKey -> fit.toString,
          AnnIndex.MeanDistKey -> cur.toString,
          AnnIndex.DriftKey -> AnnIndex.driftOf(fit, cur).toString))
        written.copy(ann = ann, settings = settings)
      case None if annClusters > 0 =>
        val ann = AnnIndex.buildAndWrite(
          written.documents, "doc_id", "embedding", indexDir, annClusters, annIters)
        written.copy(ann = Some(ann),
          settings = persistFitBaseline(spark, indexDir, ann, written.documents))
      case None => written
    }
  }

  /** A base sidecar written over an artifact with pending append segments
    * would cover the segment docs twice once [[IndexData.load]] unions the
    * segments' own deltas. */
  final class PendingSegments(indexDir: String, n: Int) extends IllegalStateException(
    s"sidecar fit over $indexDir needs a compacted artifact; it has $n pending " +
      s"append segment(s) — run `graft compact --db $indexDir` first")

  private def requireCompacted(written: IndexData, indexDir: String): Unit =
    if (written.pendingSegments > 0)
      throw new PendingSegments(indexDir, written.pendingSegments)

  /** Persist the fit-time drift baseline for a freshly-fit sidecar:
    * fit = current by definition, drift = 0 — plus the measured sample
    * recall curve ([[AnnIndex.recallCurve]]), so every fitted index ships
    * its own nprobe→recall dial in settings. */
  private def persistFitBaseline(spark: SparkSession, indexDir: String,
      ann: AnnIndex, docs: DataFrame): DataFrame = {
    val fit = ann.meanAssignDist
    val curve = AnnIndex.recallCurve(ann, docs, "doc_id", "embedding")
    upsertSettingsOnDisk(spark, indexDir, Seq(
      AnnIndex.FitMeanDistKey -> fit.toString,
      AnnIndex.MeanDistKey -> fit.toString,
      AnnIndex.DriftKey -> "0.0",
      AnnIndex.RecallCurveKey -> AnnIndex.encodeCurve(curve)))
  }

  /** Keyed upsert into the on-disk settings dataset (S5 semantics against
    * the artifact itself, via the one shared [[IndexData.upsertSettings]]):
    * read, replace the given keys, write back. Settings is a handful of
    * rows — the localCheckpoint is the standard read-before-overwrite
    * materialization, not data movement. Each sidecar maintenance step
    * (withAnn, withPq) persists its own drift keys because each is an
    * independent entry point (refit CLI, tests) — per merge that is at most
    * two extra O(10-row) write cycles, accepted for the isolation. */
  private def upsertSettingsOnDisk(spark: SparkSession, indexDir: String,
      kvs: Seq[(String, String)]): DataFrame = {
    import spark.implicits._
    val path = s"$indexDir/settings"
    val updated = IndexData.upsertSettings(
        spark.read.parquet(path), kvs.toDF("key", "value"))
      .localCheckpoint(true)
    updated.coalesce(1).write.mode("overwrite").parquet(path)
    updated
  }

  /** Full INDEX job with DataFrame-native TF-IDF embeddings instead of a
    * per-row [[Embedder]]: the bulk path when embedding needs whole-corpus
    * statistics (IDF fit) — one distributed fit + transform, no driver
    * loops.
    *
    * Always a FULL REBUILD (`clear` semantics regardless of `opts.clear`):
    * the model fits over the scanned corpus, so merging old-model documents
    * into a new-model artifact would mix embedding spaces. Incremental
    * tf-idf is the streaming staleness contract
    * ([[graft.streaming.IndexStream.startTfIdf]]). Routing through
    * [[mergeAndWrite]] gives this path the same tail as every other entry
    * point — stale-sidecar deletion, layout clustering, ANN + PQ sidecars —
    * so `--embedder tfidf --pq-codes K` / `--layout` are honored, not
    * silently dropped, and a re-index over an existing artifact can never
    * leave an old-space `ann_pq_codes` behind for `search --ann pq`. */
  def runTfIdf(
      spark: SparkSession,
      dirs: Seq[String],
      indexDir: String,
      dim: Int = 256,
      analyzer: Analyzer = DefaultAnalyzer,
      opts: Options = Options()): IndexData = {
    val chunker = chunkerFor(opts, analyzer)
    val chunks = chunkFiles(scanMarkdown(spark, dirs), chunker).toDF()
    fitCorpusAndWrite(spark, chunks, indexDir, dim, analyzer, opts, "tfidf")
  }

  /** Shared corpus-fit tail of [[runTfIdf]]/[[runWord2Vec]] (and their
    * row-corpus siblings): fit the model over the chunk frame, persist it,
    * and write the artifact. Corpus-fit models always rebuild (clear=true —
    * see the CLI's corpusFitRebuildWarning). */
  private def fitCorpusAndWrite(
      spark: SparkSession,
      chunks: DataFrame,
      indexDir: String,
      dim: Int,
      analyzer: Analyzer,
      opts: Options,
      kind: String): IndexData = {
    val (embedded, modelName) = kind match {
      case "tfidf" =>
        val (e, m) = graft.embed.TfIdfEmbed.fitTransform(chunks, "tokens", dim)
        m.save(spark, s"$indexDir/tfidf_model"); (e, m.name)
      case "word2vec" =>
        val (e, m) = graft.embed.Word2VecEmbed.fitTransform(chunks, "tokens", dim,
          sortCols = Seq("filePath", "lineStart"))
        m.save(spark, s"$indexDir/w2v_model"); (e, m.name)
      case other => sys.error(s"unknown corpus-fit embedder '$other'")
    }
    val docs = chunksToDocs(embedded, opts)
    mergeAndWrite(spark, docs, settingsOf(spark, modelName, dim,
      graft.analyze.Analyzers.nameOf(analyzer)), indexDir,
      clear = true, annClusters = opts.annClusters, annIters = opts.annIters,
      pqCodes = opts.pqCodes, pqIters = opts.pqIters,
      layout = opts.layout, layoutFiles = opts.layoutFiles)
  }

  /** [[runTfIdf]]'s trained-model sibling: corpus-fit MLlib Word2Vec
    * ([[graft.embed.Word2VecEmbed]]) — the index path with LEARNED vectors,
    * plugged in exactly where the reference runs its SentenceTransformer
    * bulk encode (reference `src/models/embedding.py:48-77`). The saved
    * word-vector table is the settings-pinned model search reloads. */
  def runWord2Vec(
      spark: SparkSession,
      dirs: Seq[String],
      indexDir: String,
      dim: Int = 64,
      analyzer: Analyzer = DefaultAnalyzer,
      opts: Options = Options()): IndexData = {
    val chunker = chunkerFor(opts, analyzer)
    val chunks = chunkFiles(scanMarkdown(spark, dirs), chunker).toDF()
    fitCorpusAndWrite(spark, chunks, indexDir, dim, analyzer, opts, "word2vec")
  }

  /** [[runRows]] with a corpus-fit embedder (`kind` = tfidf | word2vec):
    * the row-corpus face of [[runTfIdf]]/[[runWord2Vec]]. */
  def runRowsFit(
      spark: SparkSession,
      rows: DataFrame,
      indexDir: String,
      kind: String,
      dim: Int = 256,
      analyzer: Analyzer = DefaultAnalyzer,
      opts: Options = Options()): IndexData =
    fitCorpusAndWrite(spark, rowChunks(rows, analyzer).toDF(),
      indexDir, dim, analyzer, opts, kind)

  /** Build an in-memory index straight from an existing table of documents
    * (used by tests and the testdata-corpus queries): any DataFrame with an
    * id column and a text column. */
  def fromTable(
      df: DataFrame,
      idCol: String,
      textCol: String,
      tokensExpr: DataFrame => org.apache.spark.sql.Column,
      embeddings: Option[DataFrame] = None): IndexData = {
    val spark = df.sparkSession
    import spark.implicits._
    // honor the full documents schema (§1.3) so the search path works on
    // table-derived indexes too: the table id doubles as the file path
    val base = df.withColumn("tokens", tokensExpr(df)).select(
      col(idCol).cast("string").as("doc_id"),
      col(idCol).cast("string").as("file_path"),
      lit("").as("header_path"),
      lit(1).as("line_start"),
      lit(1).as("line_end"),
      col(textCol).as("content"),
      col("tokens"))
    val docs = embeddings match {
      case Some(e) => base.join(e, Seq("doc_id"), "left")
      case None    => base
    }
    IndexData.fromDocuments(docs, Seq.empty[Setting].toDF())
  }
}
