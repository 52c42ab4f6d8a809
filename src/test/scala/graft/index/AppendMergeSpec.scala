package graft.index

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.embed.HashingEmbedder

/** The O(delta) append-merge path (`mergeMode = "append"`): segment writes
  * instead of base rewrites, tombstone masking for replaced paths, live-view
  * equality with the rewrite path, crash atomicity at the tombstone commit
  * point, and compaction folding everything back to canonical — with the
  * sidecars re-derived over the compacted corpus. */
class AppendMergeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def write(dir: String, name: String, text: String): Unit =
    Files.writeString(Paths.get(dir, name), text)

  private def embedder = new HashingEmbedder(dim = 16)

  private def canon(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  private def canonDocs(df: DataFrame): Set[Seq[Any]] =
    canon(df.select(col("doc_id"), col("file_path"), col("header_path"),
      col("line_start"), col("line_end"), col("content")))

  /** Build base from a.md+b.md, append c.md (new path), then append a
    * REPLACED a.md + new d.md. Delta batches live in their own temp dirs,
    * with each run's `trimPathPrefix` stripping its scan root so the stored
    * file_path is the bare name — the same path key the rebuild over
    * `docs` produces. Returns (docsDir, indexDir). */
  private def appendFixture(): (String, String) = {
    val docs = Files.createTempDirectory("appnd-docs").toString
    val idx = Files.createTempDirectory("appnd-idx").toString + "/idx"
    def opts(scanDir: String, clear: Boolean) = IndexJob.Options(
      clear = clear, mergeMode = "append", trimPathPrefix = Some(s"file:$scanDir"))
    write(docs, "a.md", "# Alpha\n\nspark merges sorted runs fast\n")
    write(docs, "b.md", "# Beta\n\nvector cosine search embedding space\n")
    IndexJob.run(spark, Seq(docs), idx, embedder, opts = opts(docs, clear = true))
    write(docs, "c.md", "plain text body with no headers at all\n")
    val just = Files.createTempDirectory("appnd-just").toString
    write(just, "c.md", Files.readString(Paths.get(docs, "c.md")))
    IndexJob.run(spark, Seq(just), idx, embedder, opts = opts(just, clear = false))
    // replace a.md with different content AND add d.md in one batch
    write(docs, "a.md", "# Alpha v2\n\nreplaced body about hash joins and sorts\n")
    write(docs, "d.md", "# Delta\n\nhybrid ranking fuses lexical and dense scores\n")
    val second = Files.createTempDirectory("appnd-second").toString
    write(second, "a.md", Files.readString(Paths.get(docs, "a.md")))
    write(second, "d.md", Files.readString(Paths.get(docs, "d.md")))
    IndexJob.run(spark, Seq(second), idx, embedder, opts = opts(second, clear = false))
    (docs, idx)
  }

  /** Rebuild over the full docs dir with the matching trim — the canonical
    * artifact every append-path test compares against. */
  private def rebuild(docs: String): IndexData =
    IndexJob.run(spark, Seq(docs),
      Files.createTempDirectory("appnd-rebuild").toString + "/idx", embedder,
      opts = IndexJob.Options(clear = true, trimPathPrefix = Some(s"file:$docs")))

  test("append merges: live view equals a batch rebuild, including a replaced path") {
    val (docs, idx) = appendFixture()
    val live = IndexData.load(spark, idx)
    assert(live.pendingSegments == 2, s"expected 2 segments, got ${live.pendingSegments}")

    val rebuilt = rebuild(docs)

    assert(canonDocs(live.documents) == canonDocs(rebuilt.documents))
    assert(canon(live.postings) == canon(rebuilt.postings))
    assert(canon(live.termdf) == canon(rebuilt.termdf))
    assert(canon(live.doclen) == canon(rebuilt.doclen))
    assert(canon(live.stats) == canon(rebuilt.stats))
    // the replaced path surfaces ONLY its new content
    val aContents = live.documents.filter(col("file_path").endsWith("a.md"))
      .select("content").collect().map(_.getString(0))
    assert(aContents.nonEmpty && aContents.forall(_.contains("replaced body")),
      aContents.mkString("; "))
    // positional sidecar assembles through the same mask: every segment
    // wrote its delta, the live view equals the rebuild's positions, and
    // the replaced path's OLD occurrences are masked (round-16: the phrase
    // index path must see exactly the live corpus)
    val livePos = live.positions.getOrElse(fail("live view must carry positions"))
    val rebuiltPos = rebuilt.positions.getOrElse(fail("rebuild must carry positions"))
    assert(canon(livePos) == canon(rebuiltPos))
    val phraseLive = graft.search.PhraseSearch
      .phraseMatches(livePos, Seq("hash", "joins")).collect()
    assert(phraseLive.length == 1, phraseLive.mkString(";"))
    assert(graft.search.PhraseSearch
      .phraseMatches(livePos, Seq("sorted", "runs")).collect().isEmpty,
      "replaced a.md's old occurrences must be masked from the phrase index")
  }

  test("append merge is O(delta): base files untouched, work lands in seg/") {
    val (_, idx) = appendFixture()
    // base documents files carry the initial 2-file corpus only; every later
    // arrival lives in seg/<n>/ — the base was never rewritten
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$idx/seg/1/documents")))
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$idx/seg/2/documents")))
    Seq(1, 2).foreach { n =>
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$idx/seg/$n/${IndexData.DocsRawDir}")),
        s"seg/$n: the raw documents stage must be deleted once documents are clustered")
    }
    val baseDocs = spark.read.parquet(s"$idx/documents")
    val basePaths = baseDocs.select("file_path").distinct()
      .collect().map(_.getString(0)).toSet
    assert(basePaths.forall(p => p.endsWith("a.md") || p.endsWith("b.md")), basePaths)
    // the base still holds the ORIGINAL a.md rows (masked, not rewritten)
    assert(baseDocs.filter(col("file_path").endsWith("a.md"))
      .select("content").collect().map(_.getString(0))
      .forall(!_.contains("replaced body")))
  }

  test("segment without its tombstone commit marker is invisible (crash atomicity)") {
    val (_, idx) = appendFixture()
    val before = IndexData.load(spark, idx)
    val beforeDocs = canonDocs(before.documents)
    // simulate a crash after seg/2's data writes but before the commit
    // point: remove the tombstones _SUCCESS marker
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$idx/seg/2/tombstones/_SUCCESS"), false)
    val after = IndexData.load(spark, idx)
    assert(after.pendingSegments == 1)
    // the artifact reads consistently at the pre-merge state: a.md's ORIGINAL
    // content is live again (its tombstone vanished with the segment)
    val aContents = after.documents.filter(col("file_path").endsWith("a.md"))
      .select("content").collect().map(_.getString(0))
    assert(aContents.nonEmpty && aContents.forall(!_.contains("replaced body")))
    assert(canonDocs(after.documents) != beforeDocs)
  }

  test("compact folds segments to canonical; search parity before and after") {
    val (docs, idx) = appendFixture()
    val live = IndexData.load(spark, idx)
    def hits(ix: IndexData): Seq[(String, Double)] =
      graft.search.HybridSearch.search(ix, "hybrid ranking scores",
        analyzer = graft.analyze.DefaultAnalyzer,
        embedder = Some(embedder),
        reranker = None,
        opts = graft.search.HybridSearch.Options(k = 5, rerank = false))
        .select("doc_id", "score")
        .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    val liveHits = hits(live)
    assert(liveHits.nonEmpty)
    // d.md arrived only via an append segment — the exact path must see it
    assert(live.documents.filter(col("file_path").endsWith("d.md")).count() > 0)

    val compacted = IndexJob.compact(spark, idx)
    assert(compacted.pendingSegments == 0)
    assert(!new java.io.File(s"$idx/seg").exists())
    val rebuilt = rebuild(docs)
    assert(canonDocs(compacted.documents) == canonDocs(rebuilt.documents))
    assert(canon(compacted.termdf) == canon(rebuilt.termdf))
    assert(hits(compacted) == liveHits)
  }

  test("compact --if-pending: below threshold the artifact is untouched, " +
      "at threshold it folds (scheduled-compaction posture)") {
    // the fixture leaves 2 pending segments; replicate compactCmd's decision
    // flow (skip-note gate, then IndexJob.compact) against the real artifact
    val (_, idx) = appendFixture()
    val pending = IndexData.segments(spark, idx).size
    assert(pending == 2)
    // --if-pending 4: 2 < 4, cron-run is a no-op — seg/ stays, live view intact
    assert(graft.Cli.compactSkipNote(pending, Some(4)).isDefined)
    assert(new java.io.File(s"$idx/seg").exists())
    assert(IndexData.load(spark, idx).pendingSegments == 2)
    // --if-pending 2: at threshold, the gate opens and the fold runs
    assert(graft.Cli.compactSkipNote(pending, Some(2)).isEmpty)
    val compacted = IndexJob.compact(spark, idx)
    assert(compacted.pendingSegments == 0)
    assert(!new java.io.File(s"$idx/seg").exists())
  }

  test("segment ANN delta: --ann search sees appended docs without compaction") {
    val docs = Files.createTempDirectory("appnd-ann-docs").toString
    val idx = Files.createTempDirectory("appnd-ann-idx").toString + "/idx"
    val opts = IndexJob.Options(clear = true, mergeMode = "append",
      annClusters = 2, annIters = 2)
    write(docs, "a.md", "# Alpha\n\nspark merges sorted runs fast\n")
    write(docs, "b.md", "# Beta\n\nvector cosine search embedding space\n")
    IndexJob.run(spark, Seq(docs), idx, embedder, opts = opts)
    val delta = Files.createTempDirectory("appnd-ann-delta").toString
    write(delta, "c.md", "# Gamma\n\nnew appended doc about probe pruning\n")
    IndexJob.run(spark, Seq(delta), idx, embedder,
      opts = opts.copy(clear = false))
    val pending = IndexData.load(spark, idx)
    assert(pending.pendingSegments == 1)
    // a base sidecar written now would cover the segment docs twice (the
    // live view also unions the segment's delta): fits wait for compaction
    intercept[IndexJob.PendingSegments](IndexJob.withAnn(pending, idx, annClusters = 0))
    intercept[IndexJob.PendingSegments](IndexJob.withPq(pending, idx, pqCodes = 2))
    // the segment carried its frozen-centroid delta: the ASSEMBLED lists
    // cover every live doc, while the base sidecar files still hold only
    // the original two (O(delta) — the base was not rewritten)
    val ann = pending.ann.getOrElse(fail("ann sidecar missing"))
    assert(ann.postings.select("doc_id").distinct().count()
      == pending.documents.count())
    assert(spark.read.parquet(s"$idx/${AnnIndex.PostingsDir}")
      .select("doc_id").distinct().count() == pending.documents.count() - 1)
    // probing ALL clusters ≡ exact — the appended doc must surface
    val hits = graft.search.HybridSearch.search(pending, "probe pruning",
      analyzer = graft.analyze.DefaultAnalyzer, embedder = Some(embedder),
      reranker = None,
      opts = graft.search.HybridSearch.Options(k = 3, rerank = false,
        annNprobe = ann.numClusters))
      .select("file_path").collect().map(_.getString(0))
    assert(hits.exists(_.endsWith("c.md")), hits.mkString("; "))
    // drift bookkeeping updated on the append merge itself
    assert(pending.setting(AnnIndex.MeanDistKey).isDefined)
    // compaction folds the delta into the base sidecar files
    val compacted = IndexJob.compact(spark, idx)
    assert(compacted.pendingSegments == 0)
    val annAfter = compacted.ann.getOrElse(fail("ann sidecar missing after compact"))
    assert(annAfter.postings.select("doc_id").distinct().count()
      == compacted.documents.count())
  }

  test("sidecar deltas mask replaced-path rows by dead id; PQ codes stay live") {
    val docs = Files.createTempDirectory("appnd-pq-docs").toString
    val idx = Files.createTempDirectory("appnd-pq-idx").toString + "/idx"
    // trim each run's scan root so both runs store the BARE file name —
    // replacement is keyed by the stored path (the appendFixture rule)
    def opts(scanDir: String, clear: Boolean) = IndexJob.Options(
      clear = clear, mergeMode = "append", annClusters = 2, annIters = 2,
      pqCodes = 4, pqIters = 2, trimPathPrefix = Some(s"file:$scanDir"))
    write(docs, "a.md", "# Alpha\n\nspark merges sorted runs fast\n")
    write(docs, "b.md", "# Beta\n\nvector cosine search embedding space\n")
    IndexJob.run(spark, Seq(docs), idx, embedder, opts = opts(docs, clear = true))
    val oldAIds = IndexData.load(spark, idx).documents
      .filter(col("file_path").endsWith("a.md"))
      .select("doc_id").collect().map(_.getString(0)).toSet
    // replace a.md + add c.md in one append batch
    val delta = Files.createTempDirectory("appnd-pq-delta").toString
    write(delta, "a.md", "# Alpha v2\n\nreplaced body about hash joins\n")
    write(delta, "c.md", "# Gamma\n\nnew appended doc about probe pruning\n")
    IndexJob.run(spark, Seq(delta), idx, embedder, opts = opts(delta, clear = false))
    val live = IndexData.load(spark, idx)
    val liveIds = live.documents.select("doc_id").collect().map(_.getString(0)).toSet
    // doc_id is path-derived, so the replaced a.md REUSES its id — the
    // generation rule (not the id alone) must keep exactly the segment's
    // row: assembled sidecars have one row per live doc, no unmasked
    // base duplicates
    assert(oldAIds.subsetOf(liveIds))
    val annIds = live.ann.get.postings.select("doc_id")
      .collect().map(_.getString(0)).toSet
    val pqIds = live.pq.get.codes.select("doc_id")
      .collect().map(_.getString(0)).toSet
    assert(annIds == liveIds)
    assert(pqIds == liveIds)
    assert(live.ann.get.postings.count() == live.documents.count())
    assert(live.pq.get.codes.count() == live.documents.count())
    // …and the surviving a.md row carries the NEW content's embedding
    val newEmb = live.documents.filter(col("file_path").endsWith("a.md"))
      .select("embedding").collect().map(_.getSeq[Float](0)).head
    val annEmb = live.ann.get.postings
      .filter(col("doc_id").isin(oldAIds.toSeq: _*))
      .select("embedding").collect().map(_.getSeq[Float](0)).head
    assert(annEmb == newEmb)
    // composed base ⇒ the segment codes are cluster-partitioned too
    assert(live.pq.get.codes.columns.contains("cluster"))
    // shortlist ≥ corpus through the assembled codes ≡ exact heap scan
    val k = 3
    val exact = graft.search.HybridSearch.search(live, "probe pruning",
      analyzer = graft.analyze.DefaultAnalyzer, embedder = Some(embedder),
      reranker = None,
      opts = graft.search.HybridSearch.Options(k = k, rerank = false))
      .select("doc_id", "score").collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    val viaPq = graft.search.HybridSearch.search(live, "probe pruning",
      analyzer = graft.analyze.DefaultAnalyzer, embedder = Some(embedder),
      reranker = None,
      opts = graft.search.HybridSearch.Options(k = k, rerank = false,
        annPqShortlist = liveIds.size))
      .select("doc_id", "score").collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(viaPq == exact)
  }

  test("REWRITE merge over pending segments folds them once: no duplicate " +
      "docs, seg/ gone, artifact reloads clean") {
    // round-14 review finding: the rewrite path deleted seg/ only AFTER
    // IndexData.write, whose trailing load() assembled "new base ∪ old
    // segments" — duplicated appended docs, stale tombstone masking, and
    // returned frames referencing the just-deleted segment files
    val (docs, idx) = appendFixture()
    assert(IndexData.load(spark, idx).pendingSegments == 2)
    // one more batch through the DEFAULT rewrite mode folds everything
    write(docs, "e.md", "# Epsilon\n\nrewrite merge folds the pending segments\n")
    val extra = Files.createTempDirectory("appnd-extra").toString
    write(extra, "e.md", Files.readString(Paths.get(docs, "e.md")))
    val merged = IndexJob.run(spark, Seq(extra), idx, embedder,
      opts = IndexJob.Options(clear = false, mergeMode = "rewrite",
        trimPathPrefix = Some(s"file:$extra")))
    // the returned artifact is usable immediately (frames must not point at
    // deleted segment files) and counts each doc exactly once
    val paths = merged.documents.select("file_path").collect().map(_.getString(0))
    assert(paths.length == paths.distinct.length,
      s"duplicated docs after rewrite merge: ${paths.mkString(",")}")
    assert(paths.toSet == Set("a.md", "b.md", "c.md", "d.md", "e.md"))
    // seg/ is gone and a fresh load agrees with a from-scratch rebuild
    val reloaded = IndexData.load(spark, idx)
    assert(reloaded.pendingSegments == 0)
    assert(canonDocs(reloaded.documents) == canonDocs(rebuild(docs).documents))
  }

  test("a rewrite crash BEFORE the commit marker leaves the live artifact " +
      "untouched — pending segments included") {
    // round-15: the rewrite path stages under _compact and swaps by marker
    // (IndexData.writeStagedSwap). Pre-fix it deleted seg/ and overwrote
    // table dirs in place, so a crash mid-write tore the artifact AND
    // permanently lost the appended segments. Any crash during the staged
    // write ≡ a complete-or-partial staging with NO marker — which must be
    // invisible to readers and cleared by the next writer.
    val (docs, idx) = appendFixture()
    val before = IndexData.load(spark, idx)
    assert(before.pendingSegments == 2)
    val beforeDocs = canonDocs(before.documents)
    // simulate the crash: a fully staged rewrite that never reached the marker
    import spark.implicits._
    val staging = s"$idx/${IndexData.CompactStagingDir}"
    val bogus = Seq(("zz", "docs/zz", "", 1, 1, "crashed rewrite content",
        Seq("crashed", "rewrite", "content")))
      .toDF("doc_id", "file_path", "header_path", "line_start", "line_end",
        "content", "tokens")
    IndexData.write(bogus, before.settings.localCheckpoint(true), staging)
    // readers: unchanged live view, segments still pending
    val after = IndexData.load(spark, idx)
    assert(after.pendingSegments == 2, "uncommitted staging must be invisible")
    assert(canonDocs(after.documents) == beforeDocs)
    // the next real rewrite clears the leftover staging and succeeds
    val merged = IndexJob.run(spark, Seq(docs), idx, embedder,
      opts = IndexJob.Options(clear = false, mergeMode = "rewrite",
        trimPathPrefix = Some(s"file:$docs")))
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(staging)))
    assert(IndexData.load(spark, idx).pendingSegments == 0)
    assert(!merged.documents.select("doc_id").as[String].collect().contains("zz"))
  }

  test("torn compaction swap heals at load") {
    val (docs, idx) = appendFixture()
    val live = IndexData.load(spark, idx)
    val staging = s"$idx/${IndexData.CompactStagingDir}"
    // stage the fold exactly as compact does, then simulate a crash right
    // after the commit marker with only ONE table swapped
    IndexData.write(live.documents.localCheckpoint(true),
      live.settings.localCheckpoint(true), staging)
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(new org.apache.hadoop.fs.Path(
      s"$staging/${IndexData.CompactCommitMarker}"), true).close()
    fs.delete(new org.apache.hadoop.fs.Path(s"$idx/documents"), true)
    fs.rename(new org.apache.hadoop.fs.Path(s"$staging/documents"),
      new org.apache.hadoop.fs.Path(s"$idx/documents"))
    // any reader heals: the remaining tables swap, segments + staging go
    val healed = IndexData.load(spark, idx)
    assert(healed.pendingSegments == 0)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(staging)))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$idx/seg")))
    val rebuilt = rebuild(docs)
    assert(canonDocs(healed.documents) == canonDocs(rebuilt.documents))
    assert(canon(healed.termdf) == canon(rebuilt.termdf))
    assert(canon(healed.stats) == canon(rebuilt.stats))
  }

  test("append merge on a pre-append-layout artifact demands a compaction first") {
    val docs = Files.createTempDirectory("appnd-legacy-docs").toString
    val idx = Files.createTempDirectory("appnd-legacy-idx").toString + "/idx"
    write(docs, "a.md", "# Alpha\n\nspark merges sorted runs fast\n")
    IndexJob.run(spark, Seq(docs), idx, embedder)
    // strip the format_version row — an artifact written before the stamp
    val legacy = spark.read.parquet(s"$idx/settings")
      .filter(col("key") =!= IndexData.FormatVersionKey).localCheckpoint(true)
    legacy.coalesce(1).write.mode("overwrite").parquet(s"$idx/settings")
    val e = intercept[IndexData.UnsupportedFormat] {
      IndexJob.run(spark, Seq(docs), idx, embedder,
        opts = IndexJob.Options(clear = false, mergeMode = "append"))
    }
    assert(e.getMessage.contains("compact"), e.getMessage)
  }

  test("positions opt-out survives append + compact: no resurrection at any " +
      "stage (round-16 directive #1)") {
    val docs = Files.createTempDirectory("posoff-docs").toString
    val idx = Files.createTempDirectory("posoff-idx").toString + "/idx"
    def opts(scanDir: String, clear: Boolean) = IndexJob.Options(
      clear = clear, mergeMode = "append",
      trimPathPrefix = Some(s"file:$scanDir"),
      positions = if (clear) Some(false) else None)
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def positionsAnywhere: Boolean = {
      val base = fs.exists(new org.apache.hadoop.fs.Path(idx, IndexData.PositionsDir))
      val segs = IndexData.segments(spark, idx).exists { case (_, p) =>
        fs.exists(new org.apache.hadoop.fs.Path(p, IndexData.PositionsDir)) }
      base || segs
    }

    write(docs, "a.md", "# Alpha\n\nspark merges sorted runs fast\n")
    IndexJob.run(spark, Seq(docs), idx, embedder, opts = opts(docs, clear = true))
    assert(!positionsAnywhere, "opt-out build wrote a positions sidecar")
    val loaded = IndexData.load(spark, idx)
    assert(loaded.positions.isEmpty)
    assert(loaded.setting(IndexData.PositionsKey).contains(IndexData.PositionsOff),
      "the opt-out must persist as an explicit settings marker")

    // O(delta) append inherits the opt-out (no per-segment delta either)
    val just = Files.createTempDirectory("posoff-just").toString
    write(just, "b.md", "plain text body with no headers at all\n")
    IndexJob.run(spark, Seq(just), idx, embedder, opts = opts(just, clear = false))
    assert(!positionsAnywhere, "append segment resurrected positions")
    val live = IndexData.load(spark, idx)
    assert(live.pendingSegments == 1 && live.positions.isEmpty)
    // the marker survives the incremental settings upsert
    assert(live.setting(IndexData.PositionsKey).contains(IndexData.PositionsOff))

    // compaction rewrites the base through IndexData.write — the opt-out
    // must hold through the staged swap too
    val compacted = IndexJob.compact(spark, idx)
    assert(compacted.pendingSegments == 0)
    assert(!positionsAnywhere, "compact resurrected positions")
    assert(compacted.positions.isEmpty)
    assert(compacted.setting(IndexData.PositionsKey).contains(IndexData.PositionsOff))

    // flipping ON through an O(delta) append is REJECTED with the remedy:
    // a segment delta cannot materialize the O(corpus) base sidecar, and
    // silently flipping the marker would claim an index that isn't there
    val tryOn = Files.createTempDirectory("posoff-tryon").toString
    write(tryOn, "d.md", "body text that must not land in a segment\n")
    val err = intercept[RuntimeException] {
      IndexJob.run(spark, Seq(tryOn), idx, embedder,
        opts = IndexJob.Options(clear = false, mergeMode = "append",
          trimPathPrefix = Some(s"file:$tryOn"), positions = Some(true)))
    }
    assert(err.getMessage.contains("--positions on"), err.getMessage)
    assert(!positionsAnywhere)
    val unflipped = IndexData.load(spark, idx)
    assert(unflipped.setting(IndexData.PositionsKey)
      .contains(IndexData.PositionsOff), "the failed append must not flip the marker")
    assert(unflipped.pendingSegments == 0, "the rejected append left a segment")

    // flip back ON via an incremental rewrite merge: the sidecar appears
    val second = Files.createTempDirectory("posoff-on").toString
    write(second, "c.md", "# Gamma\n\nhybrid ranking fuses lexical and dense\n")
    IndexJob.run(spark, Seq(second), idx, embedder,
      opts = IndexJob.Options(clear = false, trimPathPrefix = Some(s"file:$second"),
        positions = Some(true)))
    val reon = IndexData.load(spark, idx)
    assert(reon.positions.isDefined, "--positions on must rebuild the sidecar")
    assert(reon.setting(IndexData.PositionsKey).contains("on"))
  }
}
