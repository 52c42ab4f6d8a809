package graft.perfbench

import org.apache.spark.sql.SparkSession

/** Everything a workload needs: the session, the seeded inputs `run.py`
  * generated under `work`, the run length and the tracing switch. */
final case class Ctx(spark: SparkSession, work: String, base: String, seed: Long,
    seconds: Double, trace: Boolean, cores: Int) {
  val tracer = new Tracer(trace)
  // the outside-in Spark counters are registered only in traced runs, so
  // the end-to-end runs carry no listener of the benchmark's own
  lazy val probe = new SparkProbe(spark)
  def path(rel: String): String = new java.io.File(work, rel).getAbsolutePath
  def meta: com.fasterxml.jackson.databind.JsonNode =
    Main.mapper.readTree(new java.io.File(work, "meta.json"))

  /** Run `f` as one operation: with the Spark counters of [[SparkProbe.op]]
    * in a traced run, with its wall times only otherwise. */
  def timed[T](kind: String)(f: => T): (T, Op) =
    if (trace) probe.op(kind, tracer)(f)
    else {
      val ms0 = System.currentTimeMillis()
      val ns0 = System.nanoTime()
      val r = f
      (r, Op(0, kind, ms0, System.currentTimeMillis(), ns0, System.nanoTime(), 0, 0))
    }
}

/** What a workload reports: metrics by name (value, unit), how many
  * operations and checks it attempted and how many failed, and details
  * that explain the numbers (sample counts, sizes, posture). */
final case class Result(metrics: Seq[(String, Double, String)],
    attempted: Long, failed: Long, checks: Seq[(String, Boolean, String)],
    details: Seq[(String, Any)])

/** Benchmark entry point, launched by `perfbench/run.py`:
  *
  *   graft.perfbench.Main --workload W --seed S --seconds N --trace 0|1
  *     --work DIR --base DIR --out FILE
  *
  * `--work` holds this run's seeded inputs; `--base` is where the serve
  * workloads keep their base artifact between runs.
  *
  * Writes one JSON object to FILE; run.py turns it into the result line. */
object Main {
  val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  def main(args: Array[String]): Unit = {
    def arg(n: String): String = {
      val i = args.indexOf(n)
      require(i >= 0 && i + 1 < args.length, s"missing $n")
      args(i + 1)
    }
    val jvmStartS = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val workload = arg("--workload")
    val out = arg("--out")
    val cores = Runtime.getRuntime.availableProcessors()
    val serve = workload.startsWith("serve_")
    val t0 = System.nanoTime()
    val spark = session(cores, arg("--work"), serve)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val ctx = Ctx(spark, arg("--work"), arg("--base"), arg("--seed").toLong,
      arg("--seconds").toDouble, arg("--trace") == "1", cores)
    val result =
      try workload match {
        case "serve_cached" => ServeWorkload.run(ctx, append = false)
        case "serve_append" => ServeWorkload.run(ctx, append = true)
        case "index_build" => IndexWorkload.run(ctx)
        case other => sys.error(s"unknown workload '$other'")
      } finally {
        if (ctx.trace) ctx.tracer.writeJsonl(ctx.path("spans.jsonl"))
      }
    val posture = Seq(
      "cpus" -> cores,
      "heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "codegen_cache" -> spark.conf.get("spark.sql.codegen.cache.maxEntries"),
      "adaptive" -> spark.conf.get("spark.sql.adaptive.enabled"),
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "in_filter_threshold" -> spark.conf.get("spark.sql.parquet.pushdown.inFilterThreshold"),
      "spark_version" -> spark.version,
      "jvm_start_s" -> jvmStartS,
      "session_start_s" -> sessionS)
    val json = Out(scala.collection.immutable.ListMap(
      "metrics" -> scala.collection.immutable.ListMap(result.metrics.map { case (n, v, u) =>
        n -> scala.collection.immutable.ListMap("value" -> v, "unit" -> u) }: _*),
      "attempted" -> result.attempted,
      "failed" -> result.failed,
      "checks" -> result.checks.map { case (n, ok, why) =>
        scala.collection.immutable.ListMap("name" -> n, "ok" -> ok, "detail" -> why) },
      "posture" -> scala.collection.immutable.ListMap(posture: _*),
      "details" -> scala.collection.immutable.ListMap(result.details: _*)))
    val w = new java.io.PrintWriter(out, "UTF-8")
    try w.println(json) finally w.close()
    spark.stop()
  }

  /** The session postures the program itself uses. Serve workloads: the
    * `graft serve` session (AQE is switched off once the artifact is built,
    * as the CLI does for its online paths). Batch workloads: the `graft.Bench`
    * session, including its planner extensions. Both run local[nproc] with
    * shuffle partitions = nproc and the 8192-entry codegen cache. */
  def session(cores: Int, work: String, serve: Boolean): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.pushdown.inFilterThreshold", graft.Cli.ServingInFilterThreshold)
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      .config("spark.local.dir", new java.io.File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new java.io.File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    if (!serve) graft.plans.GraftStrategies.install(s)
    s
  }

  /** Peak resident set of this process (VmHWM), MB. */
  def rssPeakMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }

  /** Total bytes of the regular files under `dir`. */
  def dirBytes(dir: String): Long = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }
  }

  /** Number of data files (parquet parts) under `dir`. */
  def dataFiles(dir: String): Long = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try s.filter(p => p.getFileName.toString.endsWith(".parquet")).count()
    finally s.close()
  }

  def deleteDir(dir: String): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
}
