package graft.serve

import org.apache.spark.sql.SparkSession
import graft.index.IndexData

/** Long-lived serving handle over an index directory — the reload seam the
  * reference gets for free from its single-process DuckDB (`src/server.py:
  * 15-103` sees its own writes immediately). A Spark serving session holds
  * one loaded [[IndexData]]; segments appended by a concurrent
  * `graft index --merge append` (or a compaction/rewrite) were invisible
  * until restart — defeating the append path's purpose for exactly the
  * consumer it exists for (round-13/14 directive).
  *
  * The handle fingerprints the artifact's COMMITTED on-disk state
  * ([[IndexData.artifactVersion]] — `_SUCCESS`/tombstone mtimes, O(tables +
  * segments) file stats, never corpus-sized) and, when it moves, swaps in a
  * fresh serving-ready load:
  *
  *   1. release the OLD generation first — [[IndexData.uncacheAll]]
  *      (every cache pin, the impact-scored postings included; the
  *      instance's memos go with the instance), BLOCKING: async
  *      eviction races the next generation's cache materialization and
  *      thrashes storage memory (measured 5-10× on StartupProbe reload
  *      trials at 500k docs). Release-BEFORE-load is also a correctness
  *      order, not just a memory one: Spark's CacheManager substitutes
  *      cached InMemoryRelations by canonicalized-plan match, so loading
  *      the new generation while the old path's caches are still
  *      registered could silently serve the STALE cached rows;
  *   2. load the new generation through the SAME `loadFn` the session
  *      started with (the cache gate re-decides — an artifact that grew
  *      past the serving cache budget comes back disk-backed);
  *   3. swap the volatile handle and run `onSwap` (re-resolve `--ann`
  *      against the possibly-refit recall curve, reprint drift warnings).
  *
  * Checks are throttled ([[checkIntervalMs]], default 10 s): the serving
  * surfaces call [[maybeReload]] per request, which is a no-op between
  * intervals; the MCP `reload_index` tool calls [[checkAndReload]] to force
  * an immediate check. All serving surfaces are single-threaded request
  * loops (stdio line loop, single-dispatcher HTTP); the methods are
  * synchronized anyway so a future concurrent transport cannot double-load.
  */
final class ServingIndex private (
    spark: SparkSession,
    val db: String,
    loadFn: () => IndexData,
    onSwap: IndexData => Unit,
    checkIntervalMs: Long,
    initialVersion: String,
    initialIndex: IndexData) {

  @volatile private var cur: IndexData = initialIndex
  private var version: String = initialVersion
  private var lastCheckNs: Long = System.nanoTime()

  def current: IndexData = cur

  /** Throttled per-request check: no-op inside the check interval (or when
    * auto-checks are disabled with a negative interval); otherwise a forced
    * [[checkAndReload]]. Returns true iff a swap happened. */
  def maybeReload(): Boolean =
    if (checkIntervalMs < 0) false
    else synchronized {
      if ((System.nanoTime() - lastCheckNs) / 1000000L < checkIntervalMs) false
      else checkAndReload()
    }

  /** Fingerprint the artifact now; on change, release the old generation and
    * swap in a fresh serving-ready load. Returns true iff a swap happened. */
  def checkAndReload(): Boolean = synchronized {
    lastCheckNs = System.nanoTime()
    val v = IndexData.artifactVersion(spark, db)
    if (v == version) false
    else {
      cur.uncacheAll(blocking = true)
      // a throwing load leaves `version` unchanged, so the NEXT check
      // retries instead of wedging on the released old generation; the
      // request that triggered the check surfaces the error and the
      // session heals once the writer commits. (Engine writers — append,
      // compact, and since round 15 the rewrite merge too — commit
      // atomically by marker, but an object store's weaker rename can
      // still tear a read.) `v` was stamped BEFORE the
      // load, so a write committing inside the load window is also caught
      // by the next check rather than missed forever.
      // On failure, DROP the throttle (round-15 ADVICE): the old
      // generation's caches are already released, so every request until
      // the next check is served degraded — the next request must retry
      // the load immediately, not wait out checkIntervalMs.
      cur =
        try loadFn()
        catch { case e: Throwable => lastCheckNs = Long.MinValue / 2; throw e }
      version = v
      onSwap(cur)
      true
    }
  }
}

object ServingIndex {

  /** Default auto-check throttle; `spark.graft.serve.reloadCheckIntervalMs`
    * overrides (0 = check every request, negative = manual `reload_index`
    * tool only). */
  val DefaultCheckIntervalMs: Long = 10000L

  def checkIntervalOf(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.serve.reloadCheckIntervalMs")
      .flatMap(v => scala.util.Try(v.trim.toLong).toOption)
      .getOrElse(DefaultCheckIntervalMs)

  /** Open a serving handle: fingerprint FIRST, then the initial load —
    * a write committing between the two is caught by the first check (the
    * conservative direction). Startup cost over a plain load is the
    * fingerprint's file stats only. */
  def open(spark: SparkSession, db: String, loadFn: () => IndexData,
      onSwap: IndexData => Unit = _ => (),
      checkIntervalMs: Long = DefaultCheckIntervalMs): ServingIndex = {
    val v = IndexData.artifactVersion(spark, db)
    new ServingIndex(spark, db, loadFn, onSwap, checkIntervalMs, v, loadFn())
  }
}
