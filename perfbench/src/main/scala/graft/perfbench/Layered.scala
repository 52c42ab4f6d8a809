package graft.perfbench

/** The per-layer metrics of the traced runs. Every traced run prints every
  * name below; a layer a workload never reaches reads 0. */
object Layered {
  val Units: Seq[(String, String)] = Seq(
    // per serve request: p50 of self time, or a per-request mean for counts
    "analyze.tokenize_ms" -> "ms",
    "embed.query_ms" -> "ms",
    "search.fts_leg_ms" -> "ms",
    "search.vss_leg_ms.exact" -> "ms",
    "search.vss_leg_ms.ivf" -> "ms",
    "search.vss_leg_ms.pq" -> "ms",
    "search.fetch_ms" -> "ms",
    "search.restrict_ms" -> "ms",
    "search.resolve_ms" -> "ms",
    "rerank.ms" -> "ms",
    "search.remainder_ms" -> "ms",
    "serve.request_ms" -> "ms",
    "serve.protocol_ms" -> "ms",
    "serve.accounted_frac" -> "frac",
    "search.jobs_per_request" -> "count",
    "search.tasks_per_request" -> "count",
    "search.rows_read_per_request" -> "rows",
    "search.candidates_per_request" -> "count",
    "search.hits_per_candidate" -> "frac",
    // writes beside reads: serve_append, and one cycle in the traced
    // index_build run
    "serve.reload_count" -> "count",
    "serve.reload_ms" -> "ms",
    "index.append_ms" -> "ms",
    "index.segments_live" -> "count",
    "index.compact_s" -> "s",
    "index.append_bytes_per_input_byte" -> "B/B",
    // index_build: the stages of one bulk build
    "sources.scan_s" -> "s",
    "analyze.chunk_s" -> "s",
    "embed.chunks_s" -> "s",
    "index.write_s" -> "s",
    "index.ann_fit_s" -> "s",
    "index.pq_fit_s" -> "s",
    "index.chunks" -> "count",
    "index.files_written" -> "count",
    // Spark, per timed operation, observed from outside
    "spark.plan_ms" -> "ms",
    "spark.codegen_compiles" -> "count",
    "spark.codegen_compile_ms" -> "ms",
    "spark.jobs" -> "count",
    "spark.tasks" -> "count",
    "spark.task_wait_ms" -> "ms",
    "spark.busy_frac" -> "frac",
    "spark.input_rows" -> "rows",
    "spark.shuffle_write_bytes" -> "B",
    "spark.spill_bytes" -> "B",
    "spark.max_task_shuffle_records" -> "count",
    "spark.task_failures" -> "count",
    // traced minus untraced operations of the same run, over untraced
    "trace.overhead_frac" -> "frac")

  /** All names in declared order; missing or undefined values read 0. */
  def complete(got: Seq[(String, Double)]): Seq[(String, Double, String)] = {
    val m = got.toMap
    Units.map { case (n, u) =>
      val v = m.getOrElse(n, 0.0)
      (n, if (v.isNaN || v.isInfinite) 0.0 else v, u)
    }
  }

  private def p50(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else Stats.median(xs.toSeq)

  /** Sum of the self times (ms) of the spans named `name`, per op. */
  private def selfByOp(spans: Seq[Span], self: Map[Long, Long], name: String): Map[Long, Double] =
    spans.filter(_.name == name).groupBy(_.op).view
      .mapValues(_.map(s => self(s.id) / 1e6).sum).toMap

  def overhead(traced: Seq[Double], untraced: Seq[Double]): Double =
    if (traced.isEmpty || untraced.isEmpty) 0.0
    else Stats.median(traced) / Stats.median(untraced) - 1.0

  /** The write layers: reloads (ms each), append merges, compactions (s
    * each) and the live segments the served index had. */
  def writes(reloads: Seq[Double], appends: Seq[Writes.Append], compacts: Seq[(Op, Double)],
      segmentsLive: Double): Seq[(String, Double)] = Seq(
    "serve.reload_count" -> reloads.size.toDouble,
    "serve.reload_ms" -> p50(reloads),
    "index.append_ms" -> p50(appends.map(_.ms)),
    "index.segments_live" -> segmentsLive,
    "index.compact_s" -> p50(compacts.map(_._2)),
    "index.append_bytes_per_input_byte" -> p50(appends.map(_.bytesPerInputByte)))

  def serve(ctx: Ctx, served: Seq[ServeWorkload.Served],
      appends: Seq[Writes.Append], compacts: Seq[(Op, Double)],
      reloads: Seq[Double], stages: Seq[(String, Double)]): Seq[(String, Double, String)] = {
    val tracer = ctx.tracer
    val probe = ctx.probe
    val traced = served.filter(_.traced)
    val ops = traced.map(_.op)
    val cs = probe.counters(ops)
    // the search legs and the fetch ran as Spark executions on the
    // program's own threads: add them as children of the request's search
    val searchSpan = tracer.all.filter(_.name == "search").groupBy(_.op)
      .view.mapValues(_.head).toMap
    traced.foreach { s =>
      for (sp <- searchSpan.get(s.op.id); ex <- cs(s.op.id).execs if ex.role != "other")
        tracer.add(sp.id, s.op.id, "search." + ex.role,
          probe.msToNs(ex.startMs), probe.msToNs(math.max(ex.endMs, ex.startMs)))
    }
    val spans = tracer.all
    val self = tracer.selfNs
    def layer(name: String, which: Seq[ServeWorkload.Served] = traced): Double = {
      val by = selfByOp(spans, self, name)
      p50(which.map(s => by.getOrElse(s.op.id, 0.0)))
    }
    val reqSpan = spans.filter(_.name == "serve.request").groupBy(_.op)
      .view.mapValues(_.head).toMap
    val searchSelf = selfByOp(spans, self, "search")
    def kind(k: String) = traced.filter(s =>
      (if (s.ann._2 > 0) "pq" else if (s.ann._1 > 0) "ivf" else "exact") == k)
    val cands = traced.map(s => cs(s.op.id).execs.filter(_.role == "fetch")
      .map(_.inList).foldLeft(0)(math.max))
    val n = math.max(1, traced.size).toDouble
    complete(Seq(
      "analyze.tokenize_ms" -> layer("analyze.tokenize"),
      "embed.query_ms" -> layer("embed.query"),
      "search.fts_leg_ms" -> layer("search.fts"),
      "search.vss_leg_ms.exact" -> layer("search.vss", kind("exact")),
      "search.vss_leg_ms.ivf" -> layer("search.vss", kind("ivf")),
      "search.vss_leg_ms.pq" -> layer("search.vss", kind("pq")),
      "search.fetch_ms" -> layer("search.fetch"),
      "search.restrict_ms" -> layer("search.restrict",
        traced.filter(s => s.req.mode == "phrase" || s.req.mode == "near")),
      "search.resolve_ms" -> layer("search.resolve"),
      "rerank.ms" -> layer("rerank"),
      "search.remainder_ms" -> layer("search"),
      "serve.request_ms" -> p50(traced.flatMap(s => reqSpan.get(s.op.id)).map(_.durNs / 1e6)),
      "serve.protocol_ms" -> layer("serve.request"),
      "serve.accounted_frac" -> p50(traced.flatMap(s => reqSpan.get(s.op.id).map(r =>
        1.0 - searchSelf.getOrElse(s.op.id, 0.0) / math.max(r.durNs / 1e6, 1e-9)))),
      "search.jobs_per_request" -> traced.map(s => cs(s.op.id).jobs).sum / n,
      "search.tasks_per_request" -> traced.map(s => cs(s.op.id).tasks).sum / n,
      "search.rows_read_per_request" -> traced.map(s => cs(s.op.id).inputRows).sum / n,
      "search.candidates_per_request" -> cands.sum / n,
      "search.hits_per_candidate" ->
        (if (cands.sum == 0) 0.0 else traced.map(_.hits).sum.toDouble / cands.sum),
      "trace.overhead_frac" -> overhead(traced.map(_.ms), served.filterNot(_.traced).map(_.ms))
    ) ++ writes(reloads, appends, compacts, if (served.isEmpty) 0.0
        else served.map(_.segments).sum.toDouble / served.size)
      ++ stages ++ probe.sparkMetrics(ops, ctx.cores))
  }
}
