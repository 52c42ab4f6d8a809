package graft.perfbench

import java.util.concurrent.atomic.AtomicReference

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.Cli
import graft.analyze.DefaultAnalyzer
import graft.embed.HashingEmbedder
import graft.index.{IndexData, IndexJob}
import graft.rerank.TokenOverlapReranker
import graft.search.{HybridSearch, ServeSearch}
import graft.serve.{McpServer, ServingIndex}

/** `serve_cached` and `serve_append`: one client in a closed loop sends
  * seeded `tools/call` requests into `McpServer.handle`, each answered the
  * way `graft serve` answers it (`Cli.runSearch`, rerank on, the request
  * mode's ANN resolved as the serve command resolves it).
  *
  *  - serve_cached: the artifact is cache-pinned with its impact-scored
  *    postings; nothing is written while serving.
  *  - serve_append: the same artifact served disk-backed (the `--no-cache`
  *    posture); every [[AppendEvery]] requests the loop appends a seeded
  *    batch of Markdown files (`IndexJob` append merge), and after every
  *    [[CompactEvery]] segments it compacts them into the base. The next
  *    request's ServingIndex check reloads.
  */
object ServeWorkload {
  val Modes = Seq("default", "exact", "ivf_auto", "pq", "phrase", "near")
  val AppendEvery = 8
  val CompactEvery = 2
  val SetupReps = 3
  val ParitySample = 4
  val Dim = 64
  /** The base artifact: the `graft index` defaults plus the ANN and PQ
    * sidecars the `ivf:auto` and `pq` modes serve from. */
  val BaseOpts = IndexJob.Options(annClusters = 16, pqCodes = 16)

  final case class Req(mode: String, query: String, topK: Int)
  /** One served request: latency, whether it was traced, its op, the ANN
    * leg it ran and how many hits it returned. */
  final case class Served(ix: Int, req: Req, ms: Double, traced: Boolean,
      op: Op, ann: (Int, Int), hits: Int, segments: Int)

  private def annArg(mode: String): Option[String] = mode match {
    case "exact" => Some("exact")
    case "ivf_auto" => Some("ivf:auto")
    case "pq" => Some("pq")
    case _ => None
  }

  /** Same ids and scores in the same order (NaN scores match NaN). */
  def sameHits(a: Seq[(String, Double)], b: Seq[(String, Double)]): Boolean =
    a.length == b.length && a.zip(b).forall { case (x, y) =>
      x._1 == y._1 && (x._2 == y._2 || (x._2.isNaN && y._2.isNaN)) }

  def rpc(id: Int, r: Req): String =
    s"""{"jsonrpc":"2.0","id":$id,"method":"tools/call","params":""" +
      s"""{"name":"search_documents","arguments":{"query":${Out.str(r.query)},""" +
      s""""top_k":${r.topK}}}}"""

  /** (doc_id, file_path, score) of an MCP search response; Left on error. */
  def parse(resp: Option[String]): Either[String, Seq[(String, String, Double)]] =
    resp match {
      case None => Left("no response")
      case Some(line) =>
        val m = Main.mapper.readTree(line)
        if (m.has("error")) Left(m.get("error").toString)
        else {
          val r = m.get("result")
          val text = r.get("content").get(0).get("text").asText()
          if (r.get("isError").asBoolean()) Left(text)
          else Right(Main.mapper.readTree(text).get("results").elements().asScala.map { h =>
            val s = h.get("score")
            (h.get("doc_id").asText(), h.get("file_path").asText(),
              if (s == null || s.isNull) Double.NaN else s.asDouble())
          }.toSeq)
        }
    }

  def readRequests(path: String): IndexedSeq[Req] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().filter(_.trim.nonEmpty).map { l =>
      val n = Main.mapper.readTree(l)
      Req(n.get("mode").asText(), n.get("query").asText(), n.get("top_k").asInt())
    }.toIndexedSeq
    finally src.close()
  }

  def run(ctx: Ctx, append: Boolean): Result = {
    import ctx.{spark, tracer}
    val db = ctx.path("artifact")
    val addP = Cli.defaultAddPrefix(db)
    val meta = ctx.meta
    val reqs = readRequests(ctx.path("requests.jsonl"))
    val batches = meta.get("appends").elements().asScala.toIndexedSeq
    val checks = ArrayBuffer.empty[(String, Boolean, String)]

    // ---- set-up: the base artifact (the `graft index` defaults plus ANN and
    // PQ sidecars over the fixed base corpus) is built once per checkout and
    // source state; every run copies it, loads it serving-ready and warms
    // every mode ----
    val base = ctx.base
    val done = new java.io.File(base + ".done")
    val buildS =
      if (done.exists()) 0.0
      else {
        val t0 = System.nanoTime()
        Main.deleteDir(base)
        IndexJob.run(spark, Seq(ctx.path("corpus")), base, new HashingEmbedder(Dim),
          DefaultAnalyzer, BaseOpts)
        java.nio.file.Files.writeString(done.toPath, "")
        (System.nanoTime() - t0) / 1e9
      }
    // a traced run also builds the base corpus stage by stage (the index
    // layers, with the sidecar fits), into a temporary directory
    val stages =
      if (!ctx.trace) Nil
      else {
        val staged = ctx.path("staged")
        val (_, op) = ctx.probe.op("build", tracer)(
          IndexWorkload.stagedBuild(ctx, ctx.path("corpus"), staged, BaseOpts))
        val files = Main.dataFiles(staged)
        val docs = IndexData.load(spark, staged).documents.count()
        Main.deleteDir(staged)
        IndexWorkload.stageMetrics(tracer, Seq(op)) ++ Seq(
          "index.files_written" -> files.toDouble, "index.chunks" -> docs.toDouble)
      }
    spark.conf.set("spark.sql.adaptive.enabled", "false") // as `graft serve`

    // serve_append: every request checks the artifact, so the request after
    // a write is the one that reloads
    if (append) spark.conf.set("spark.graft.serve.reloadCheckIntervalMs", "0")
    val reloads = ArrayBuffer.empty[Double]
    var holder: ServingIndex = null
    // the ANN of the modes without an `--ann` flag, resolved and re-resolved
    // on reload by `graft serve`'s own serving handle
    var defaultAnn: AtomicReference[(Int, Int)] = null
    // the modes with a flag, resolved as `graft serve --ann <flag>` resolves
    // them, again whenever the handle has swapped in a reloaded index
    var flagged: (IndexData, Map[String, (Int, Int)]) = (null, Map.empty)
    def ann(mode: String): (Int, Int) = annArg(mode) match {
      case None => defaultAnn.get()
      case Some(_) =>
        val index = holder.current
        if (flagged._1 ne index)
          flagged = (index, Modes.filter(m => annArg(m).nonEmpty).map(m =>
            m -> Cli.resolveAutoAnn(index, Cli.defaultServeAnn(index, annArg(m)))).toMap)
        flagged._2(mode)
    }
    /** `graft serve`'s start-up: load serving-ready (cache-pinned, or
      * disk-backed for serve_append) and resolve the default ANN. Returns
      * its wall ms. */
    def open(): Double = {
      val t0 = System.nanoTime()
      val (h, ref) = CliAccess.openServing(spark, db, cache = !append, annArg = None)
      val ms = (System.nanoTime() - t0) / 1e6
      holder = h
      defaultAnn = ref
      Modes.foreach(ann)
      ms
    }
    def release(h: ServingIndex): Unit = {
      ServeSearch.releaseScored(h.current, blocking = true)
      h.current.uncacheAll(blocking = true)
    }

    // the request path exactly as `graft serve` runs it
    def answer(mode: String)(query: String, k: Int): String = {
      val t0 = System.nanoTime()
      if (holder.maybeReload()) reloads += (System.nanoTime() - t0) / 1e6
      val hits = Cli.runSearch(holder.current, db, query, k, rerank = true,
        None, addP, ann(mode), phrase = mode == "phrase")
      s"""{"results":${Cli.hitsJson(hits)}}"""
    }
    // the same path, making the same calls in the same order as
    // `Cli.runSearch`, with each layer call timed from outside: the analyzer,
    // embedder and reranker are wrapped, and the search legs are observed
    // as Spark executions (see SparkProbe.role)
    def tracedAnswer(mode: String)(query: String, k: Int): String =
      tracer.span("search") {
        val t0 = System.nanoTime()
        if (tracer.span("serve.reload")(holder.maybeReload()))
          reloads += (System.nanoTime() - t0) / 1e6
        val index = holder.current
        val analyzer =
          new TracedAnalyzer(tracer.span("search.resolve")(CliAccess.analyzer(index)), tracer)
        val (q, nearTerms, nw) = Cli.resolveNear(query, None, None, analyzer.tokenize)
        val resolved = ann(mode)
        val embedder = tracer.span("search.resolve")(CliAccess.embedder(index, db))
        val hits = ServeSearch.search(index, q, analyzer,
          Some(new TracedEmbedder(embedder, tracer)),
          Some(new TracedReranker(new TokenOverlapReranker(analyzer.tokenize), tracer)),
          HybridSearch.Options(k = k, rerank = true, addPathPrefix = addP,
            annNprobe = resolved._1, annPqShortlist = resolved._2, fusion = "mean",
            phraseOnly = mode == "phrase", nearTerms = nearTerms, nearWindow = nw,
            scoreThreshold = 0.01)).collect()
        s"""{"results":${Cli.hitsJson(hits)}}"""
      }
    def server(fn: String => (String, Int) => String): Map[String, McpServer] =
      Modes.map(m => m -> new McpServer("search_documents",
        "Search for local documents", fn(m))).toMap
    val plain = server(answer)
    val traced = server(tracedAnswer)

    var rpcId = 0
    def call(r: Req, useTrace: Boolean): Option[String] = {
      rpcId += 1
      val line = rpc(rpcId, r)
      if (useTrace) tracer.span("serve.request")(traced(r.mode).handle(line))
      else plain(r.mode).handle(line)
    }

    val startups = ArrayBuffer.empty[Double]
    val reps = ArrayBuffer.empty[Double]
    for (rep <- 0 until SetupReps) {
      if (holder != null) release(holder)
      val t0 = System.nanoTime()
      Main.deleteDir(db)
      org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(base), new java.io.File(db))
      startups += open()
      // one request per mode, so every plan shape is compiled before timing
      Modes.foreach(m => call(reqs.find(_.mode == m).getOrElse(Req(m, "spark", 5)), false))
      reps += (System.nanoTime() - t0) / 1e9
    }
    val setupS = Stats.median(reps.toSeq)

    // ---- the closed loop ----
    val served = ArrayBuffer.empty[Served]
    val appends = ArrayBuffer.empty[Writes.Append]
    val compacts = ArrayBuffer.empty[(Op, Double)]
    var failed = 0L
    var attempted = 0L
    var batchIx = 0
    var pendingMarker: Option[com.fasterxml.jackson.databind.JsonNode] = None
    var ix = 0

    def markerCheck(b: com.fasterxml.jackson.databind.JsonNode): Unit = {
      val (name, ok, detail) = Writes.markerCheck(b, batches.indexOf(b), marker =>
        parse(call(Req("exact", marker, 20), false)).map(_.map(_._2)))
      attempted += 1
      if (!ok) failed += 1
      checks += ((name, ok, detail))
    }

    val loop0 = System.nanoTime()
    val deadline = loop0 + (ctx.seconds * 1e9).toLong
    while (System.nanoTime() < deadline) {
      if (append && ix > 0 && ix % AppendEvery == 0 && batchIx < batches.size) {
        val b = batches(batchIx)
        batchIx += 1
        appends += Writes.append(ctx, db, b)
        pendingMarker = Some(b)
        if (batchIx % CompactEvery == 0) compacts += Writes.compact(ctx, db)
      }
      val r = reqs(ix % reqs.size)
      ix += 1
      // a traced run alternates traced and untraced requests: the untraced
      // half gives the tracing overhead under the same conditions
      val useTrace = ctx.trace && ix % 2 == 0
      tracer.on = useTrace
      val (resp, op) = ctx.timed("request")(call(r, useTrace))
      tracer.on = ctx.trace
      attempted += 1
      val res = parse(resp)
      res.left.foreach { e =>
        failed += 1
        checks += ((s"request:$ix:${r.mode}", false, e.take(300)))
      }
      served += Served(ix, r, (op.endNs - op.startNs) / 1e6, useTrace, op,
        ann(r.mode), res.map(_.size).getOrElse(0), holder.current.pendingSegments)
      // after the request that picked the append up: its marker must be found
      pendingMarker.foreach { b => markerCheck(b); pendingMarker = None }
    }
    val loopS = (System.nanoTime() - loop0) / 1e9

    // ---- correctness: a seeded sample of requests re-run on the DAG path
    // (HybridSearch.search) must give the same ids and scores as the
    // served path (the ServeSearchSpec contract) ----
    val rnd = new scala.util.Random(ctx.seed)
    val sample = rnd.shuffle(served.map(s => (s.ix - 1) % reqs.size).distinct.toList)
      .take(ParitySample).map(reqs(_))
    sample.foreach { r =>
      attempted += 1
      val mcp = parse(call(r, false))
      val index = holder.current
      val an = CliAccess.analyzer(index)
      val (q, nearTerms, nw) = Cli.resolveNear(r.query, None, None, an.tokenize)
      val resolved = ann(r.mode)
      val dag = HybridSearch.search(index, q, an, Some(CliAccess.embedder(index, db)),
        Some(new TokenOverlapReranker(an.tokenize)),
        HybridSearch.Options(k = r.topK, rerank = true, addPathPrefix = addP,
          annNprobe = resolved._1, annPqShortlist = resolved._2, fusion = "mean",
          phraseOnly = r.mode == "phrase", nearTerms = nearTerms, nearWindow = nw,
          scoreThreshold = 0.01)).collect()
        .map(row => (row.getAs[String]("doc_id"), row.getAs[Double]("score"))).toSeq
      val got = mcp.toOption.getOrElse(Nil).map(h => (h._1, h._3))
      val ok = mcp.isRight && sameHits(got, dag)
      if (!ok) failed += 1
      checks += ((s"dag_parity:${r.mode}:${r.query.take(40)}", ok,
        s"served ${got.size} hits, DAG ${dag.size}"))
    }

    // ---- correctness, traced runs: a seeded sample of the traced requests,
    // re-run with spans off, must answer exactly as `Cli.runSearch` answers
    // them, so that the layer figures describe the program's request path ----
    if (ctx.trace) {
      tracer.on = false
      rnd.shuffle(served.filter(_.traced).map(_.req).distinct.toList).take(ParitySample)
        .foreach { r =>
          attempted += 1
          rpcId += 1
          val viaTrace = parse(traced(r.mode).handle(rpc(rpcId, r)))
          val viaCli = parse(call(r, false))
          val (a, b) = (viaTrace.toOption.getOrElse(Nil), viaCli.toOption.getOrElse(Nil))
          val ok = viaTrace.isRight && viaCli.isRight && a.map(_._2) == b.map(_._2) &&
            sameHits(a.map(h => (h._1, h._3)), b.map(h => (h._1, h._3)))
          if (!ok) failed += 1
          checks += ((s"traced_parity:${r.mode}:${r.query.take(40)}", ok,
            s"traced ${a.size} hits, Cli.runSearch ${b.size}"))
        }
      tracer.on = true
    }

    val timed = served.filterNot(_.traced)
    val lat = timed.map(_.ms).toSeq
    val artifactBytes = Main.dirBytes(base).toDouble
    val inputBytes = meta.get("corpus").get("bytes").asDouble()
    val details = Seq(
      "requests" -> served.size,
      "requests_timed" -> lat.size,
      "loop_s" -> loopS,
      "search_p50_ms" -> Stats.median(lat),
      "search_p90_ms" -> Stats.pct(lat, 0.90),
      "search_p95_ms" -> Stats.pct(lat, 0.95),
      "search_rps" -> served.size / loopS,
      "p50_by_mode_ms" -> scala.collection.immutable.ListMap(Modes.map(m =>
        m -> Stats.median(timed.filter(_.req.mode == m).map(_.ms).toSeq)): _*),
      "resolved_ann" -> scala.collection.immutable.ListMap(Modes.map(m =>
        m -> ann(m).toString): _*),
      "startup_ms_reps" -> startups.toSeq,
      "setup_reps_s" -> reps.toSeq,
      "base_build_s" -> buildS,
      "artifact_bytes" -> artifactBytes,
      "index_bytes_per_input_byte" -> artifactBytes / inputBytes,
      "appends" -> appends.size,
      "append_p50_ms" -> Stats.median(appends.map(_.ms).toSeq),
      "compactions" -> compacts.size,
      "reloads" -> reloads.size)

    val metrics =
      if (!ctx.trace) Seq(
        ("setup_s", setupS, "s"),
        ("startup_ms", Stats.median(startups.toSeq), "ms"),
        ("op_p50_ms", Stats.median(lat), "ms"),
        ("op_p75_ms", Stats.pct(lat, 0.75), "ms"),
        ("ops_per_s", served.size / loopS, "1/s"),
        ("rss_peak_mb", Main.rssPeakMb(), "MB"))
      else Layered.serve(ctx, served.toSeq, appends.toSeq, compacts.toSeq,
        reloads.toSeq, stages)
    Result(metrics, attempted, failed, checks.toSeq, details)
  }
}
