package graft.serve

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.TestFixtures.servingLoad
import graft.analyze.WhitespaceAnalyzer
import graft.core.Schemas.Setting
import graft.embed.HashingEmbedder
import graft.index.{IndexData, IndexJob}
import graft.search.ServeSearch

/** Hot artifact reload for long-lived serving (round-14 directive 1): a
  * serving session must see committed on-disk changes — append-merge
  * segments, compactions, full rewrites — without a restart, releasing the
  * old generation's cache pins and served arrays on swap, and the
  * fingerprint check must be a no-op when nothing changed. */
class ServeReloadSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docsDf(rows: Seq[(String, String)]) =
    rows.map { case (id, text) => (id, text, text.split(" ").toSeq) }
      .toDF("doc_id", "content", "tokens")
      .withColumn("embedding", lit(null).cast("array<float>"))
      .withColumn("file_path", concat(lit("docs/"), col("doc_id")))
      .withColumn("header_path", lit(""))
      .withColumn("line_start", lit(1)).withColumn("line_end", lit(1))

  private def hits(index: IndexData, q: String): Seq[String] =
    ServeSearch.search(index, q, WhitespaceAnalyzer)
      .select("doc_id").as[String].collect().toSeq

  test("unchanged artifact: checkAndReload is a no-op and keeps the instance") {
    val dir = Files.createTempDirectory("reload-noop").toString
    IndexData.write(docsDf(Seq("d1" -> "spark runs fast")),
      Seq(Setting("embedding_model", "test")).toDF(), dir)
    val holder = ServingIndex.open(spark, dir, () => servingLoad(spark, dir))
    val before = holder.current
    assert(!holder.checkAndReload())
    assert(holder.current eq before)
    before.uncacheAll()
  }

  test("base rewrite: reload serves the new doc and releases the old " +
      "generation's caches including the scored frame") {
    val dir = Files.createTempDirectory("reload-rewrite").toString
    IndexData.write(docsDf(Seq("d1" -> "spark runs fast")),
      Seq(Setting("embedding_model", "test")).toDF(), dir)
    // CacheManager matches cached plans by CANONICALIZED PLAN (path-keyed
    // file indexes), so once the NEW generation's caches are registered a
    // storageLevel lookup on the OLD frames finds the new entries — the
    // release can only be observed INSIDE the reload's release→load window.
    // That window is exactly where it matters: loading while the old caches
    // were still registered would substitute stale cached rows.
    var old: IndexData = null
    var releasedInWindow = Seq.empty[StorageLevel]
    var servedInWindow = true
    val holder = ServingIndex.open(spark, dir, () => {
      if (old != null) {
        releasedInWindow = Seq(old.postings.storageLevel, old.documents.storageLevel)
        servedInWindow = old.served.get.resident
      }
      servingLoad(spark, dir)
    })
    old = holder.current
    assert(old.served.exists(_.resident), "servingLoad builds the served BM25 postings")
    assert(hits(holder.current, "volcano").isEmpty)

    Thread.sleep(5) // commit-marker mtime granularity is ms
    IndexData.write(docsDf(Seq(
        "d1" -> "spark runs fast", "d2" -> "volcano model iterators")),
      Seq(Setting("embedding_model", "test")).toDF(), dir)

    assert(holder.checkAndReload(), "rewrite must be detected")
    assert(hits(holder.current, "volcano") == Seq("d2"))
    // old generation fully released BEFORE the new load: cache pins read
    // back NONE and the served arrays are dropped inside the window
    assert(releasedInWindow == Seq(StorageLevel.NONE, StorageLevel.NONE),
      s"old generation still pinned in the release window: $releasedInWindow")
    assert(!servedInWindow, "old generation's served arrays still resident in the window")
    // and the new generation is warm (the loadFn ran, not a lazy view)
    assert(holder.current.postings.storageLevel != StorageLevel.NONE)
    assert(!holder.checkAndReload(), "second check must be a no-op")
    holder.current.uncacheAll()
  }

  test("uncacheAll alone releases a serving-ready load: every cache pin, " +
      "the impact-scored postings included, reads back NONE") {
    val dir = Files.createTempDirectory("reload-uncache").toString
    val he = new HashingEmbedder(dim = 8)
    val df = Seq(
        "d1" -> "spark runs fast and spark scales", "d2" -> "duck db is a small database",
        "d3" -> "spark spark spark joins tables", "d4" -> "unrelated words entirely here",
        "d5" -> "fast joins merge sorted tables", "d6" -> "spark streams merge windows")
      .map { case (id, text) => (id, text, text.split(" ").toSeq, he.embed(Seq(text)).head) }
      .toDF("doc_id", "content", "tokens", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
      .withColumn("file_path", concat(lit("docs/"), col("doc_id")))
      .withColumn("header_path", lit(""))
      .withColumn("line_start", lit(1)).withColumn("line_end", lit(1))
    IndexData.write(df, Seq(Setting("embedding_model", he.name),
      Setting("embedding_dim", "8")).toDF(), dir)
    IndexJob.withPq(IndexJob.withAnn(IndexData.load(spark, dir), dir,
      annClusters = 2, annIters = 2), dir, pqCodes = 2)
    val served = servingLoad(spark, dir)
    val pinned = Seq("documents" -> served.documents, "postings" -> served.postings,
        "termdf" -> served.termdf, "doclen" -> served.doclen, "stats" -> served.stats,
        "settings" -> served.settings) ++
      served.ann.toSeq.flatMap(a => Seq("ann centroids" -> a.centroids,
        "ann postings" -> a.postings)) ++
      served.pq.toSeq.flatMap(p => Seq("pq codes" -> p.codes,
        "pq codebooks" -> p.codebooks))
    assert(pinned.size == 10, pinned.map(_._1))
    assert(pinned.forall(_._2.storageLevel != StorageLevel.NONE))
    // the impact-scored postings live in the served arrays now: built by
    // the serving-ready load, and warm requests make the rest resident
    val arrays = served.served.get
    assert(arrays.resident)
    ServeSearch.search(served, "spark joins", WhitespaceAnalyzer, Some(he))
    served.uncacheAll(blocking = true)
    val still = pinned.collect { case (n, f) if f.storageLevel != StorageLevel.NONE => n }
    assert(still.isEmpty, s"still pinned after uncacheAll: $still")
    assert(!arrays.resident, "served arrays still resident after uncacheAll")
  }

  test("append-merge segment: the fingerprint moves and the reloaded live " +
      "view serves the appended doc") {
    val docs = Files.createTempDirectory("reload-docs").toString
    val idx = Files.createTempDirectory("reload-idx").toString + "/idx"
    def opts(clear: Boolean) = IndexJob.Options(
      clear = clear, mergeMode = "append", trimPathPrefix = Some(s"file:$docs"))
    val embedder = new HashingEmbedder(dim = 8)
    Files.writeString(Paths.get(docs, "a.md"), "# Alpha\n\nspark merges sorted runs\n")
    IndexJob.run(spark, Seq(docs), idx, embedder, opts = opts(clear = true))

    val holder = ServingIndex.open(spark, idx, () => servingLoad(spark, idx))
    assert(hits(holder.current, "glacier").isEmpty)

    val delta = Files.createTempDirectory("reload-delta").toString
    Files.writeString(Paths.get(delta, "b.md"), "# Beta\n\nglacier carves the valley\n")
    IndexJob.run(spark, Seq(delta), idx, embedder,
      opts = IndexJob.Options(clear = false, mergeMode = "append",
        trimPathPrefix = Some(s"file:$delta")))

    assert(holder.checkAndReload(), "new committed segment must be detected")
    assert(hits(holder.current, "glacier").nonEmpty)
    assert(holder.current.pendingSegments == 1)
    assert(!holder.checkAndReload())
    holder.current.uncacheAll()
  }

  test("a settings-only rewrite (new analyzer) reloads, and the served " +
      "instance reads the new value from its fresh settings snapshot") {
    val dir = Files.createTempDirectory("reload-settings").toString
    IndexData.write(docsDf(Seq("d1" -> "spark runs fast")),
      Seq(Setting("embedding_model", "test"), Setting("analyzer", "default")).toDF(),
      dir)
    val holder = ServingIndex.open(spark, dir, () => servingLoad(spark, dir))
    val before = holder.current
    // force the snapshot on the first generation before the rewrite
    assert(before.setting("analyzer").contains("default"))

    Thread.sleep(5) // commit-marker mtime granularity is ms
    val updated = before.upsertSetting("analyzer", "whitespace")
    updated.settings.coalesce(1).write.mode("overwrite").parquet(s"$dir/settings")

    assert(holder.checkAndReload(), "a settings rewrite must move the fingerprint")
    assert(!(holder.current eq before))
    assert(holder.current.setting("analyzer").contains("whitespace"))
    // the released generation keeps the snapshot it was served with
    assert(before.setting("analyzer").contains("default"))
    holder.current.uncacheAll()
  }

  test("a malformed reload check interval fails openServing with an error " +
      "naming the key and the value") {
    val dir = Files.createTempDirectory("reload-badconf").toString
    IndexData.write(docsDf(Seq("d1" -> "spark runs fast")),
      Seq(Setting("embedding_model", "test")).toDF(), dir)
    val key = ServingIndex.CheckIntervalKey
    try {
      for (bad <- Seq("10s", "", "1.5", "ten")) {
        spark.conf.set(key, bad)
        val e = intercept[IllegalArgumentException](
          graft.Cli.openServing(spark, dir, Some(false), None))
        assert(e.getMessage.contains(key) && e.getMessage.contains(s"'$bad'"), e.getMessage)
      }
      spark.conf.set(key, " 250 ")
      assert(ServingIndex.checkIntervalOf(spark) == 250L)
    } finally spark.conf.unset(key)
    assert(ServingIndex.checkIntervalOf(spark) == ServingIndex.DefaultCheckIntervalMs)
  }

  test("maybeReload honors the throttle; a negative interval disables " +
      "auto-checks but not the forced check") {
    val dir = Files.createTempDirectory("reload-throttle").toString
    IndexData.write(docsDf(Seq("d1" -> "spark runs fast")),
      Seq(Setting("embedding_model", "test")).toDF(), dir)
    // huge interval: maybeReload never fires inside the test window
    val throttled = ServingIndex.open(spark, dir,
      () => IndexData.load(spark, dir), checkIntervalMs = 3600000L)
    Thread.sleep(5)
    IndexData.write(docsDf(Seq("d1" -> "spark runs fast", "d2" -> "fresh doc here")),
      Seq(Setting("embedding_model", "test")).toDF(), dir)
    assert(!throttled.maybeReload(), "inside the interval: no check")
    assert(throttled.checkAndReload(), "forced check still reloads")

    Thread.sleep(5)
    IndexData.write(docsDf(Seq("d1" -> "spark runs fast")),
      Seq(Setting("embedding_model", "test")).toDF(), dir)
    val disabled = ServingIndex.open(spark, dir,
      () => IndexData.load(spark, dir), checkIntervalMs = -1L)
    Thread.sleep(5)
    IndexData.write(docsDf(Seq("d1" -> "spark runs fast", "d3" -> "another doc")),
      Seq(Setting("embedding_model", "test")).toDF(), dir)
    assert(!disabled.maybeReload(), "negative interval: auto-checks disabled")
    assert(disabled.checkAndReload())
  }

  test("a failed reload (e.g. a rewrite caught mid-overwrite) retries on " +
      "the next check instead of wedging on the released generation") {
    val dir = Files.createTempDirectory("reload-retry").toString
    IndexData.write(docsDf(Seq("d1" -> "spark runs fast")),
      Seq(Setting("embedding_model", "test")).toDF(), dir)
    var failNext = false
    val holder = ServingIndex.open(spark, dir, () => {
      if (failNext) { failNext = false; sys.error("torn artifact") }
      IndexData.load(spark, dir)
    })
    Thread.sleep(5)
    IndexData.write(docsDf(Seq("d1" -> "spark runs fast", "d2" -> "comet tail dust")),
      Seq(Setting("embedding_model", "test")).toDF(), dir)
    failNext = true
    intercept[RuntimeException](holder.checkAndReload())
    assert(holder.checkAndReload(), "version must not advance past a failed load")
    assert(hits(holder.current, "comet").nonEmpty)
  }

  test("a failed reload drops the throttle: the NEXT maybeReload retries " +
      "immediately instead of serving degraded for the whole interval") {
    val dir = Files.createTempDirectory("reload-throttledrop").toString
    IndexData.write(docsDf(Seq("d1" -> "spark runs fast")),
      Seq(Setting("embedding_model", "test")).toDF(), dir)
    var failNext = false
    // huge interval: without the throttle drop, maybeReload after the
    // failure would be a no-op for an hour — on the RELEASED old generation
    val holder = ServingIndex.open(spark, dir, () => {
      if (failNext) { failNext = false; sys.error("torn artifact") }
      IndexData.load(spark, dir)
    }, checkIntervalMs = 3600000L)
    Thread.sleep(5)
    IndexData.write(docsDf(Seq("d1" -> "spark runs fast", "d2" -> "comet tail dust")),
      Seq(Setting("embedding_model", "test")).toDF(), dir)
    failNext = true
    intercept[RuntimeException](holder.checkAndReload())
    assert(holder.maybeReload(), "failed load must drop the throttle so the " +
      "next request-path check retries the load")
    assert(hits(holder.current, "comet").nonEmpty)
    assert(!holder.maybeReload(), "healed: throttle applies again")
  }

  test("a staged swap committed but not yet swapped (crash after _COMMIT, " +
      "before the renames) moves the fingerprint and reload heals it") {
    val dir = Files.createTempDirectory("reload-stagedcommit").toString
    IndexData.write(docsDf(Seq("d1" -> "spark runs fast")),
      Seq(Setting("embedding_model", "test")).toDF(), dir)
    val holder = ServingIndex.open(spark, dir, () => servingLoad(spark, dir))
    assert(hits(holder.current, "nebula").isEmpty)
    // simulate writeStagedSwap crashing right after the marker commit: the
    // full staged table set exists under _compact/ with _COMMIT, but no
    // table rename ran — so no table `_SUCCESS` stamp has moved, and only
    // the marker's own stamp can carry the change into the fingerprint
    Thread.sleep(5)
    IndexData.write(docsDf(Seq(
        "d1" -> "spark runs fast", "d2" -> "nebula dust collapses")),
      Seq(Setting("embedding_model", "test")).toDF(),
      s"$dir/${IndexData.CompactStagingDir}")
    Files.createFile(Paths.get(dir, IndexData.CompactStagingDir,
      IndexData.CompactCommitMarker))
    assert(holder.checkAndReload(),
      "committed-but-unswapped staging must move the fingerprint")
    assert(hits(holder.current, "nebula") == Seq("d2"),
      "the healing reload must complete the swap and serve the new base")
    // the heal itself moved the table stamps AFTER `v` was taken (version
    // stamps pre-load by design — changes inside the load window re-check
    // rather than go missing), so at most ONE settling reload follows,
    // then the fingerprint is stable
    holder.checkAndReload()
    assert(!holder.checkAndReload(), "post-heal: fingerprint stable " +
      "(marker gone, table stamps settled)")
    assert(hits(holder.current, "nebula") == Seq("d2"))
    holder.current.uncacheAll()
  }

  test("MCP server rejects a search tool named like the reload tool") {
    intercept[IllegalArgumentException] {
      new McpServer("reload_index", "d", (_, _) => "{}",
        reloadFn = Some(() => "{}"))
    }
  }

  test("MCP server exposes reload_index and the tool reports the swap") {
    var calls = 0
    val mcp = new McpServer("search_documents", "d", (_, _) => """{"results":[]}""",
      reloadFn = Some(() => { calls += 1; s"""{"reloaded":${calls == 1}}""" }))
    val list = mcp.handle("""{"jsonrpc":"2.0","id":1,"method":"tools/list"}""").get
    assert(list.contains("\"reload_index\""), list)
    val call = mcp.handle("""{"jsonrpc":"2.0","id":2,"method":"tools/call",""" +
      """"params":{"name":"reload_index","arguments":{}}}""").get
    assert(call.contains("\\\"reloaded\\\":true"), call)
    assert(calls == 1)
    val again = mcp.handle("""{"jsonrpc":"2.0","id":3,"method":"tools/call",""" +
      """"params":{"name":"reload_index"}}""").get
    assert(again.contains("\\\"reloaded\\\":false"), again)
  }
}
