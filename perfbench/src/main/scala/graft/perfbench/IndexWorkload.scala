package graft.perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.Cli
import graft.analyze.DefaultAnalyzer
import graft.embed.HashingEmbedder
import graft.index.IndexJob
import graft.search.ServeSearch

/** `index_build`: one bulk `IndexJob.run` over the seeded Markdown tree
  * into a fresh artifact, in a fresh JVM — what one `graft index` invocation
  * costs. (A second build in the same JVM runs about 2.5× faster; timing
  * builds for the run length would mix the two populations depending on
  * where the deadline falls.) Settings are the `graft index` defaults:
  * header splitter, 512/50, hashing embedder, positions on, no ANN/PQ
  * sidecars. After the build (outside its timer) the artifact is loaded
  * serving-ready, which gives `startup_ms`, and its document count is
  * checked against the chunker.
  *
  * The traced run makes a warm-up build, then a staged one — the public
  * calls `IndexJob.run` makes (scan, chunk, embed, write, IVF fit, PQ fit),
  * each materialized and timed on its own — and a plain one to compare;
  * then it runs one write cycle ([[writeCycle]]) on the plain one. */
object IndexWorkload {
  val Opts = IndexJob.Options()
  val SetupReps = 3

  /** `IndexJob.run` as its public stages, each materialized and timed. */
  def stagedBuild(ctx: Ctx, corpus: String, db: String, opts: IndexJob.Options): Unit = {
    import ctx.{spark, tracer}
    val embedder = new HashingEmbedder(64)
    val files = tracer.span("sources.scan")(
      IndexJob.scanMarkdown(spark, Seq(corpus)).localCheckpoint(true))
    val chunks = tracer.span("analyze.chunk")(
      IndexJob.chunkFiles(files, IndexJob.chunkerFor(opts, DefaultAnalyzer))
        .localCheckpoint(true))
    val fresh = tracer.span("embed.chunks")(
      IndexJob.embedChunks(chunks, embedder, opts).localCheckpoint(true))
    val written = tracer.span("index.write")(
      IndexJob.mergeAndWrite(spark, fresh,
        IndexJob.withPositionsSetting(
          IndexJob.settingsFor(spark, embedder, DefaultAnalyzer), opts.positions),
        db, clear = true))
    // no-ops (and ~0 s) when the options ask for no sidecar
    val withAnn = tracer.span("index.ann_fit")(
      IndexJob.withAnn(written, db, opts.annClusters, opts.annIters))
    tracer.span("index.pq_fit")(IndexJob.withPq(withAnn, db, opts.pqCodes, opts.pqIters))
  }

  /** Median over `ops` of each stage's seconds. */
  def stageMetrics(tracer: Tracer, ops: Seq[Op]): Seq[(String, Double)] = {
    val spans = tracer.all
    Seq("sources.scan", "analyze.chunk", "embed.chunks", "index.write",
        "index.ann_fit", "index.pq_fit").map { name =>
      val per = ops.map(o => spans.filter(s => s.op == o.id && s.name == name)
        .map(_.durNs / 1e9).sum)
      (name + "_s") -> (if (per.isEmpty) 0.0 else Stats.median(per))
    }
  }

  /** The traced run's write cycle, on an artifact built with [[Opts]]:
    * served disk-backed, as `graft serve --no-cache` serves it, each seeded
    * batch is appended (`IndexJob` append merge) and picked up by the next
    * reload, after which its marker term must find the batch's files. Then
    * the segments are compacted into the base, the handle reloads, and
    * every marker must still find its files. Returns the write layers and
    * the checks. */
  def writeCycle(ctx: Ctx, db: String): (Seq[(String, Double)], Seq[(String, Boolean, String)]) = {
    import ctx.spark
    val batches = ctx.meta.get("appends").elements().asScala.toIndexedSeq
    val interval = "spark.graft.serve.reloadCheckIntervalMs"
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set(interval, "0") // every check looks at the artifact
    spark.conf.set("spark.sql.adaptive.enabled", "false") // as `graft serve`
    val (holder, ann) = CliAccess.openServing(spark, db, cache = false, annArg = None)
    val addP = Cli.defaultAddPrefix(db)
    val reloads = ArrayBuffer.empty[Double]
    def reload(): Unit = {
      val t0 = System.nanoTime()
      if (ctx.tracer.span("serve.reload")(holder.maybeReload()))
        reloads += (System.nanoTime() - t0) / 1e6
    }
    def search(marker: String): Either[String, Seq[String]] =
      scala.util.Try(Cli.runSearch(holder.current, db, marker, 20, rerank = true, None,
        addP, ann.get()).map(_.getAs[String]("file_path")).toSeq)
        .toEither.left.map(_.toString)
    val checks = ArrayBuffer.empty[(String, Boolean, String)]
    val appends = batches.zipWithIndex.map { case (b, i) =>
      val a = Writes.append(ctx, db, b)
      reload()
      checks += Writes.markerCheck(b, i, search)
      a
    }
    val segments = holder.current.pendingSegments
    val compact = Writes.compact(ctx, db)
    reload()
    val left = holder.current.pendingSegments
    checks += (("compact:no_live_segments", left == 0, s"$left live segments after compaction"))
    batches.zipWithIndex.foreach { case (b, i) =>
      val (name, ok, detail) = Writes.markerCheck(b, i, search)
      checks += ((s"after_compact:$name", ok, detail))
    }
    spark.conf.unset(interval)
    spark.conf.set("spark.sql.adaptive.enabled", aqe)
    (Layered.writes(reloads.toSeq, appends, Seq(compact), segments.toDouble), checks.toSeq)
  }

  def run(ctx: Ctx): Result = {
    import ctx.{spark, tracer}
    val corpus = ctx.path("corpus")
    val inputBytes = ctx.meta.get("corpus").get("bytes").asDouble()
    val embedder = new HashingEmbedder(64)
    val checks = ArrayBuffer.empty[(String, Boolean, String)]
    var attempted = 0L
    var failed = 0L
    var n = 0
    var lastDb = ""
    def nextDir(): String = { n += 1; ctx.path(s"artifact$n") }

    def plainBuild(db: String): Unit =
      IndexJob.run(spark, Seq(corpus), db, embedder, DefaultAnalyzer, Opts)

    /** Load serving-ready, as `graft serve --cache` does; returns (startup
      * ms, live documents). */
    def startup(db: String): (Double, Long) = {
      val t0 = System.nanoTime()
      val index = CliAccess.serveReady(spark, db, cache = true)
      val ms = (System.nanoTime() - t0) / 1e6
      val docs = index.documents.count()
      ServeSearch.releaseScored(index, blocking = true)
      index.uncacheAll(blocking = true)
      (ms, docs)
    }

    // ---- set-up: read and chunk the tree for the document count the
    // artifact must hold (repeated; the median is reported) ----
    var chunks = 0L
    val reps = (0 until SetupReps).map { _ =>
      val t0 = System.nanoTime()
      chunks = IndexJob.chunkFiles(IndexJob.scanMarkdown(spark, Seq(corpus)),
        IndexJob.chunkerFor(Opts, DefaultAnalyzer)).count()
      (System.nanoTime() - t0) / 1e9
    }
    val setupS = Stats.median(reps)

    // ---- timed builds ----
    final case class Build(ms: Double, traced: Boolean, op: Op, startupMs: Double,
        bytes: Long, files: Long)
    val builds = ArrayBuffer.empty[Build]
    val loop0 = System.nanoTime()
    // untraced: the one cold build. Traced: a warm-up build, then one
    // staged and one plain build for the overhead comparison.
    while (builds.size < (if (ctx.trace) 3 else 1)) {
      val db = nextDir()
      val useTrace = ctx.trace && builds.size == 1
      tracer.on = useTrace
      val (_, op) = ctx.timed("build")(
        if (useTrace) stagedBuild(ctx, corpus, db, Opts) else plainBuild(db))
      tracer.on = ctx.trace
      val (sms, docs) = startup(db)
      attempted += 1
      val ok = docs == chunks
      if (!ok) failed += 1
      checks += ((s"build${builds.size}:documents==chunks", ok, s"$docs documents, $chunks chunks"))
      builds += Build((op.endNs - op.startNs) / 1e6, useTrace, op, sms,
        Main.dirBytes(db), Main.dataFiles(db))
      lastDb = db
      if (!ctx.trace) Main.deleteDir(db)
    }
    val loopS = (System.nanoTime() - loop0) / 1e9

    // ---- traced: one write cycle on the last build, outside the timed
    // builds ----
    val writeLayers =
      if (!ctx.trace) Nil
      else {
        val (layers, cycleChecks) = writeCycle(ctx, lastDb)
        attempted += cycleChecks.size
        failed += cycleChecks.count(!_._2)
        checks ++= cycleChecks
        layers
      }

    val plain = builds.filterNot(_.traced).drop(if (ctx.trace) 1 else 0)
    val lat = plain.map(_.ms).toSeq
    val details = Seq(
      "builds" -> builds.size,
      "builds_timed" -> plain.size,
      "build_ms" -> builds.map(_.ms).toSeq,
      "loop_s" -> loopS,
      "chunks" -> chunks,
      "input_bytes" -> inputBytes,
      "index_mb_per_s" -> inputBytes / 1e6 / (Stats.median(lat) / 1e3),
      "index_bytes_per_input_byte" -> Stats.median(builds.map(_.bytes.toDouble).toSeq) / inputBytes,
      "files_written" -> Stats.median(builds.map(_.files.toDouble).toSeq),
      "setup_reps_s" -> reps,
      "startup_ms" -> builds.map(_.startupMs).toSeq)

    val metrics =
      if (!ctx.trace) Seq(
        ("setup_s", setupS, "s"),
        ("startup_ms", Stats.median(builds.map(_.startupMs).toSeq), "ms"),
        ("op_p50_ms", Stats.median(lat), "ms"),
        ("op_p75_ms", Stats.pct(lat, 0.75), "ms"),
        ("ops_per_s", builds.size / loopS, "1/s"),
        ("rss_peak_mb", Main.rssPeakMb(), "MB"))
      else {
        val traced = builds.filter(_.traced)
        Layered.complete(stageMetrics(tracer, traced.map(_.op).toSeq) ++ Seq(
          "index.chunks" -> chunks.toDouble,
          "index.files_written" -> Stats.median(builds.map(_.files.toDouble).toSeq),
          "trace.overhead_frac" -> Layered.overhead(traced.map(_.ms).toSeq, lat)
        ) ++ writeLayers ++ ctx.probe.sparkMetrics(traced.map(_.op).toSeq, ctx.cores))
      }
    Result(metrics, attempted, failed, checks.toSeq, details)
  }
}
