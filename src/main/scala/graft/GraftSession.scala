package graft

import org.apache.spark.sql.SparkSession

/** The one place a SparkSession is built. Every entry point (Bench, Verify,
  * Cli, Smoke, the plan dumper, the test-data scaler) and the test suite
  * share this posture, so the oracle gate, the bench and `graft serve` run
  * the same planner and the same confs:
  *
  *  - `local[cpus]` with `spark.sql.shuffle.partitions = cpus`. cpus is the
  *    caller's explicit width (Cli's `--workers N`), else the
  *    `SPARK_GRAFT_CPUS` environment variable, else every core of the host.
  *  - UTC session time zone; legacy int64-nanos parquet timestamps scan as
  *    BIGINT (`Q.events`/`normalizeTs` adapt both events encodings); UI off.
  *  - `inFilterThreshold` raised to [[Cli.ServingInFilterThreshold]], so a
  *    >10-distinct-term query keeps its pushed In(term,…) row-group pruning
  *    instead of degrading to a min/max range (SessionConfSpec).
  *  - [[CodegenCacheEntries]] generated classes cached.
  *  - the planner rules, through [[graft.plans.GraftStrategies.install]].
  */
object GraftSession {

  /** `spark.sql.codegen.cache.maxEntries`. The default 100 entries hold
    * about 20 of the engine's 157 query shapes (~5 codegen units each), so a
    * bench pass evicted everything it compiled and every timed pass re-paid
    * codegen (q_percentile_median 2.1 s/run interleaved vs 1.3 s with the
    * cache sized to the working set). Classes are cached, never results; a
    * few tens of MB of metaspace. */
  val CodegenCacheEntries = 8192

  /** Executor threads: `workers` > `SPARK_GRAFT_CPUS` > available cores. */
  def cpus(workers: Option[Int] = None): Int = {
    workers.foreach(w => require(w >= 1, s"--workers must be >= 1, got $w"))
    workers.orElse(sys.env.get("SPARK_GRAFT_CPUS").map(positiveInt("SPARK_GRAFT_CPUS", _)))
      .getOrElse(Runtime.getRuntime.availableProcessors())
  }

  /** A thread count given from outside the program (`--workers`,
    * `SPARK_GRAFT_CPUS`), trimmed; anything but a positive integer is an
    * [[InvalidCpus]] naming where it came from. */
  def positiveInt(source: String, raw: String): Int =
    raw.trim.toIntOption.filter(_ >= 1).getOrElse(throw new InvalidCpus(source, raw))

  final class InvalidCpus(source: String, raw: String)
      extends IllegalArgumentException(s"$source must be a positive integer, got '$raw'")

  def create(workers: Option[Int] = None, logLevel: String = "WARN"): SparkSession = {
    val n = cpus(workers).toString
    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", n)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.pushdown.inFilterThreshold", Cli.ServingInFilterThreshold)
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    graft.plans.GraftStrategies.install(spark)
    spark
  }
}
