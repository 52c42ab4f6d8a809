package graft.index

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.core.Schemas.Setting

/** Round-15 directive #4: a direct `IndexData.write` onto a LIVE artifact
  * (a dir already holding a committed table set) must not tear it. Engine
  * writers (compact, rewrite merges) stage+swap since round 15; the
  * remaining hazard was library misuse — calling the plain writer on a dir
  * a serving session is reading. It now detects the committed artifact and
  * routes through the same `writeStagedSwap` machinery, so a failure (or
  * crash) anywhere before the `_COMMIT` marker leaves the original artifact
  * byte-identical, and the swap itself is the idempotent one every reader
  * already heals. */
class LiveWriteSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docsDf(rows: Seq[(String, String)]) =
    rows.map { case (id, text) => (id, text, text.split(" ").toSeq) }
      .toDF("doc_id", "content", "tokens")
      .withColumn("embedding", lit(null).cast("array<float>"))
      .withColumn("file_path", concat(lit("docs/"), col("doc_id")))
      .withColumn("header_path", lit(""))
      .withColumn("line_start", lit(1)).withColumn("line_end", lit(1))

  private def settingsDf = Seq(Setting("embedding_model", "test")).toDF()

  private def contents(dir: String): Set[String] =
    IndexData.load(spark, dir).documents
      .select("doc_id").as[String].collect().toSet

  test("prewarmFooters: the bounded metadata-only prewarm covers the " +
      "artifact's table dirs, respects the file cap, and is a no-op on a " +
      "non-artifact dir") {
    val dir = Files.createTempDirectory("prewarm").toString
    IndexData.write(
      docsDf(Seq("d1" -> "spark runs fast", "d2" -> "merge join scan")),
      settingsDf, dir)
    val warmed = IndexData.prewarmFooters(spark, dir)
    val names = warmed.map(_._1).toSet
    assert(Set("documents", "postings", "termdf", "doclen", "stats")
      .subsetOf(names), names)
    assert(warmed.forall(_._2 > 0), warmed)
    // parallel (default) and serial runs return the SAME dirs in the SAME
    // deterministic order — concurrency must not change what gets warmed
    // (round-18: the per-dir counts now run as parallel Spark jobs)
    assert(IndexData.prewarmFooters(spark, dir, concurrency = 1) == warmed)
    // cap 0 excludes everything — the posture under which corpus-sized
    // dirs self-exclude at scale (the prewarm is O(files), never O(data))
    assert(IndexData.prewarmFooters(spark, dir, maxFilesPerDir = 0).isEmpty)
    // best-effort on a dir that is not an artifact: empty, never a throw
    val empty = Files.createTempDirectory("prewarm-empty").toString
    assert(IndexData.prewarmFooters(spark, empty).isEmpty)
  }

  test("write onto a live artifact: a FAILING lineage leaves the original " +
      "table set fully intact and loadable (no torn read, no marker)") {
    val dir = Files.createTempDirectory("livewrite-fail").toString
    IndexData.write(docsDf(Seq("d1" -> "spark runs fast")), settingsDf, dir)
    val before = IndexData.artifactVersion(spark, dir)

    // a lineage that throws mid-scan. clusterById = false is the worst
    // case: the pre-routing in-place path pointed this write straight at
    // <dir>/documents in overwrite mode — the failure would have destroyed
    // the live documents table before any other table was touched
    val boom = org.apache.spark.sql.functions.udf { (_: String) =>
      sys.error("injected lineage failure"): String
    }
    val bad = docsDf(Seq("d2" -> "new corpus")).withColumn("content", boom(col("content")))
    intercept[Exception] {
      IndexData.write(bad, settingsDf, dir, clusterById = false)
    }

    // original artifact intact: same fingerprint modulo uncommitted staging
    // debris (which load() and the fingerprint both ignore — no _COMMIT)
    assert(contents(dir) == Set("d1"),
      "failed write must leave the live artifact serving the old base")
    val after = IndexData.artifactVersion(spark, dir)
    assert(after == before,
      s"failed write moved the committed fingerprint:\n$before\nvs\n$after")
  }

  test("write onto a live artifact goes through stage+swap: the new base lands " +
      "atomically and the staging dir is gone") {
    val dir = Files.createTempDirectory("livewrite-swap").toString
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // every file under the artifact that sits in a raw documents stage
    def rawStageFiles(): Seq[String] = {
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(dir), true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next().getPath.toString)
        .filter(_.contains(s"/${IndexData.DocsRawDir}/")).toSeq
    }
    IndexData.write(docsDf(Seq("d1" -> "spark runs fast")), settingsDf, dir)
    assert(rawStageFiles().isEmpty,
      s"the raw documents stage must be deleted once documents are clustered: ${rawStageFiles()}")

    IndexData.write(docsDf(Seq("d2" -> "volcano model", "d3" -> "iterator tree")),
      settingsDf, dir)
    assert(contents(dir) == Set("d2", "d3"))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir, IndexData.CompactStagingDir)),
      "staging must be retired by the swap")
    assert(rawStageFiles().isEmpty, s"raw documents stage left behind: ${rawStageFiles()}")

    // a rewrite from a LOADED instance, with positions STRIPPED from it:
    // write must re-derive and stage them (a swap whose staging lacked
    // positions would leave the old base's sidecar serving stale phrase
    // results against the new corpus)
    val idx = IndexData.load(spark, dir)
    assert(idx.positions.isDefined)
    val rewrite = idx.copy(documents = idx.documents.filter(col("doc_id") === "d2"),
      positions = None)
    IndexData.write(rewrite.documents, rewrite.settings, dir)
    assert(contents(dir) == Set("d2"))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir, IndexData.CompactStagingDir)))
    val reloaded = IndexData.load(spark, dir)
    val pos = reloaded.positions.getOrElse(fail("write must re-derive positions"))
    assert(graft.search.PhraseSearch.phraseMatches(pos, Seq("iterator", "tree"))
      .collect().isEmpty, "stale positions from the d3 base survived the swap")
    assert(graft.search.PhraseSearch.phraseMatches(pos, Seq("volcano", "model"))
      .collect().map(_.getString(0)).toSeq == Seq("d2"))
  }

  test("rewrite of a LOADED artifact re-derives the positions carry columns: " +
      "a later append segment still assembles (round-16 ADVICE)") {
    val dir = Files.createTempDirectory("livewrite-carry").toString + "/idx"
    IndexData.write(docsDf(Seq("d1" -> "spark runs fast")), settingsDf, dir)
    // load() strips positions to (doc_id, term, pos): a writer that
    // persisted that frame verbatim would leave a file_path-less positions
    // base that the next segment's file_path-carrying delta cannot union with
    val loaded = IndexData.load(spark, dir)
    IndexData.write(loaded.documents, loaded.settings, dir)
    // ALL carried stats tables, not just positions: a rewrite that dropped
    // the doclen/postings carry would downgrade the artifact below the
    // append-merge layout (its require() refuses the next O(delta) merge)
    Seq(IndexData.PositionsDir, "doclen", "postings").foreach { t =>
      assert(spark.read.parquet(s"$dir/$t").columns.contains("file_path"),
        s"rewritten $t must carry file_path for the segment tombstone mask")
    }
    // an O(delta) append on top must leave the artifact loadable with an
    // ASSEMBLED positional view (pre-fix: AnalysisException at load)
    IndexJob.mergeAndWrite(spark, docsDf(Seq("d9" -> "volcano iterator model")),
      settingsDf, dir, clear = false, mergeMode = "append")
    val live = IndexData.load(spark, dir)
    assert(live.pendingSegments == 1)
    val pos = live.positions.getOrElse(fail("assembled view lost positions"))
    assert(graft.search.PhraseSearch.phraseMatches(pos, Seq("iterator", "model"))
      .collect().map(_.getString(0)).toSeq == Seq("d9"))
  }

  private def embDocsDf(rows: Seq[(String, String, Seq[Float])]) = {
    val base = rows.map { case (id, text, _) => (id, text, text.split(" ").toSeq) }
      .toDF("doc_id", "content", "tokens")
      .withColumn("file_path", concat(lit("docs/"), col("doc_id")))
      .withColumn("header_path", lit(""))
      .withColumn("line_start", lit(1)).withColumn("line_end", lit(1))
    val emb = rows.map { case (id, _, v) => (id, v) }.toDF("doc_id", "emb")
    base.join(emb, Seq("doc_id")).withColumn("embedding", col("emb").cast("array<float>"))
      .drop("emb")
  }

  test("write onto a live artifact REFRESHES the ann/pq sidecars under the " +
      "frozen centroids — never serves the old corpus's doc_ids (round-16 ADVICE)") {
    val dir = Files.createTempDirectory("livewrite-ann").toString + "/idx"
    IndexData.write(embDocsDf(Seq(
      ("a1", "left cluster doc", Seq(1f, 0f)),
      ("a2", "right cluster doc", Seq(0f, 1f)))), settingsDf, dir)
    AnnIndex.buildAndWrite(IndexData.load(spark, dir).documents,
      "doc_id", "embedding", dir, k = 2, iters = 2)
    assert(IndexData.load(spark, dir).ann.isDefined)

    // direct write of a NEW corpus onto the live artifact: pre-fix the
    // swap left ann_postings keyed by a1/a2 next to the b1/b2 documents
    IndexData.write(embDocsDf(Seq(
      ("b1", "fresh left doc", Seq(0.9f, 0.1f)),
      ("b2", "fresh right doc", Seq(0.1f, 0.9f)))), settingsDf, dir)
    val after = IndexData.load(spark, dir)
    val ann = after.ann.getOrElse(fail("refresh must keep the sidecar present"))
    val ids = ann.postings.select("doc_id").as[String].collect().toSet
    assert(ids == Set("b1", "b2"),
      s"ann postings must cover exactly the new corpus, got $ids")
  }

  test("write onto a live ann-carrying artifact WITHOUT an embedding column " +
      "retires the sidecar via the commit record instead of leaving it stale") {
    val dir = Files.createTempDirectory("livewrite-annoff").toString + "/idx"
    IndexData.write(embDocsDf(Seq(
      ("a1", "left cluster doc", Seq(1f, 0f)),
      ("a2", "right cluster doc", Seq(0f, 1f)))), settingsDf, dir)
    AnnIndex.buildAndWrite(IndexData.load(spark, dir).documents,
      "doc_id", "embedding", dir, k = 2, iters = 2)

    IndexData.write(docsDf(Seq("c1" -> "no embeddings here"))
      .drop("embedding"), settingsDf, dir)
    val after = IndexData.load(spark, dir)
    assert(after.ann.isEmpty,
      "a sidecar that cannot be refreshed must be retired, not served stale")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir, AnnIndex.PostingsDir)))
    assert(contents(dir) == Set("c1"))
  }

  test("positions=off settings marker: write skips the sidecar, a rewrite " +
      "stays opt-out, and opting out a positions-carrying artifact retires it") {
    val dir = Files.createTempDirectory("livewrite-posoff").toString + "/idx"
    val offSettings = settingsDf.unionByName(
      Seq(Setting(IndexData.PositionsKey, IndexData.PositionsOff)).toDF())
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def hasPositions = fs.exists(new org.apache.hadoop.fs.Path(dir, IndexData.PositionsDir))

    IndexData.write(docsDf(Seq("d1" -> "spark runs fast")), offSettings, dir)
    assert(!hasPositions, "opt-out build must not materialize positions")
    assert(IndexData.load(spark, dir).positions.isEmpty)

    // rewrite of the live opt-out artifact: the marker persists through
    // the loaded settings, so the staged swap stays opt-out
    val loaded = IndexData.load(spark, dir)
    IndexData.write(loaded.documents, loaded.settings, dir)
    assert(!hasPositions, "a rewrite of an opt-out artifact resurrected positions")

    // flip ON: the staged swap writes the sidecar
    IndexData.write(docsDf(Seq("d2" -> "volcano model")), settingsDf, dir)
    assert(hasPositions)

    // flip OFF on the positions-carrying artifact: the commit records the
    // deliberate omission and the swap retires the old sidecar (pre-fix it
    // survived — stale phrase results against the new corpus)
    IndexData.write(docsDf(Seq("d3" -> "hash join probe")), offSettings, dir)
    assert(!hasPositions, "opting out must retire the previous sidecar")
    assert(IndexData.load(spark, dir).positions.isEmpty)
    assert(contents(dir) == Set("d3"))
  }
}
