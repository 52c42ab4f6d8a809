package graft.index

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.embed.LookupEmbedder
import graft.search.HybridSearch

/** The persisted PQ sidecar and the `--ann pq` two-stage search path:
  * deterministic codebook fit, artifact roundtrip, shortlist ≥ corpus ≡
  * exact, and the byte story (codes ≪ vectors). */
class PqIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private lazy val artifactDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-pq").toString
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").cast("string").as("doc_id"), col("embedding"))
    val idx = IndexJob.fromTable(docs, "doc_id", "text",
      df => split(df("text"), " "), embeddings = Some(emb))
    IndexData.write(idx.documents, idx.settings, dir)
    IndexJob.withPq(IndexData.load(spark, dir), dir, pqCodes = 8, pqIters = 2)
    dir
  }

  private lazy val index: IndexData = IndexData.load(spark, artifactDir)

  private def queryVec: Array[Float] =
    spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(col("vec_id") === 5).select("embedding")
      .as[Array[Float]].head()

  test("drift metric rides the codes: err_sum column ≡ recomputed assignment pass") {
    val pq = index.pq.getOrElse(fail("pq sidecar missing"))
    assert(pq.codes.columns.contains("err_sum"))
    // column-scan form (what merges now pay) vs the recomputing encode-shaped
    // pass (the pre-column fallback and independent oracle)
    val viaColumn = PqIndex.meanCodesError(pq.codes)
    val viaAssign = PqIndex.meanAssignError(
      index.documents, "doc_id", "embedding", pq.codebooks)
    assert(math.abs(viaColumn - viaAssign) < 1e-9, s"$viaColumn vs $viaAssign")
  }

  test("codebook fit is deterministic across runs") {
    def books() = PqIndex.fit(index.documents, "doc_id", "embedding", k = 8, iters = 2)
      .orderBy("j", "cid").collect()
      .map(r => (r.getAs[Long]("j"), r.getAs[Int]("cid"), r.getSeq[Float](2)))
    assert(books().toSeq == books().toSeq)
  }

  test("artifact roundtrip: sidecar loads; every embedded doc has 8 in-range codes") {
    val pq = index.pq.getOrElse(fail("pq sidecar missing after withPq"))
    val nEmb = index.documents.filter(col("embedding").isNotNull).count()
    assert(pq.codes.count() == nEmb)
    val bad = pq.codes.filter(size(col("codes")) =!= 8 ||
      exists(col("codes"), c => c < 0 || c >= 8)).count()
    assert(bad == 0)
    assert(pq.codebooks.count() == 8 * 8) // 8 subspaces × 8 codes
  }

  test("shortlist >= corpus reproduces the exact VSS top-k (two-stage exactness)") {
    val n = index.documents.count().toInt
    val exact = HybridSearch.vssTopK(index.documents, queryVec, 10)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    val viaPq = HybridSearch.vssTopKPq(index.pq.get, index.documents, queryVec, 10, n)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(viaPq == exact)
  }

  test("fit persists the shortlist→recall curve (pq:auto dial, round-18 " +
      "directive #1): monotone, ends at the corpus size with recall exactly " +
      "1.0, and the rank-derived values match the actually-run two-stage " +
      "search at every step") {
    val pq = index.pq.get
    // persisted by withPq at fit time, decodable, laws hold
    val persisted = AnnIndex.decodeCurve(
      index.setting(PqIndex.RecallCurveKey)
        .getOrElse(fail("no pq_recall_curve after withPq fit")))
    val n = pq.codes.count().toInt
    assert(persisted.nonEmpty && persisted.last._1 == n)
    assert(persisted.map(_._1) == persisted.map(_._1).sorted.distinct)
    assert(persisted.zip(persisted.tail).forall { case ((_, a), (_, b)) => b >= a },
      s"recall must be monotone in the shortlist: $persisted")
    assert(persisted.last._2 == 1.0,
      s"shortlist = corpus ≡ exact must measure recall exactly 1.0: $persisted")
    // the closed-form reduction (recall@k(S) = |{d ∈ exact-top-k :
    // adcRank(d) < S}| / k) must equal what ACTUALLY RUNNING the two-stage
    // search at each step measures — same sample rule, 3 queries
    val k = 10
    val curve = PqIndex.recallCurve(pq, index.documents, "doc_id", "embedding",
      k = k, sample = 3)
    val qs = index.documents.filter(col("embedding").isNotNull)
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      .limit(3).select("embedding").as[Array[Float]].collect()
    curve.foreach { case (s, rankDerived) =>
      val measured = qs.map { qvec =>
        val exact = HybridSearch.vssTopK(index.documents, qvec, k)
          .select("doc_id").as[String].collect().toSet
        val got = HybridSearch.vssTopKPq(pq, index.documents, qvec, k, s)
          .select("doc_id").as[String].collect().toSet
        got.intersect(exact).size.toDouble / exact.size
      }.sum / qs.length
      assert(math.abs(measured - rankDerived) < 1e-9,
        s"step $s: rank-derived $rankDerived != search-measured $measured")
    }
  }

  test("ADC stage is map-only: no exchange (shuffle) anywhere in the PQ leg plan") {
    // the serving-path guarantee of the literal-LUT formulation (round 12):
    // the shortlist cut is a TakeOrdered over the codes scan — Σ_j
    // lut(j)(codes(j)) as a codegen'd zip_with/aggregate, no posexplode row
    // blowup, no broadcast LUT join, and above all no corpus-sized
    // aggregate exchange per query. At 100 TB the per-request cost is the
    // (pruned) codes scan and nothing else.
    val p = HybridSearch.vssTopKPq(index.pq.get, index.documents, queryVec, 10, 50)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange hashpartitioning"), p.take(2000))
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    assert(!p.contains("Generate"), p.take(2000)) // no posexplode
  }

  test("ADC shortlist at 50 keeps high recall vs exact and e2e search returns hits") {
    val exact = HybridSearch.vssTopK(index.documents, queryVec, 10)
      .select("doc_id").as[String].collect().toSet
    val approx = HybridSearch.vssTopKPq(index.pq.get, index.documents, queryVec, 10, 50)
      .select("doc_id").as[String].collect().toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"recall $recall exact=$exact approx=$approx")

    val hits = HybridSearch.search(index, "spark join merge",
      analyzer = graft.analyze.WhitespaceAnalyzer,
      embedder = Some(new LookupEmbedder(Map("spark join merge" -> queryVec))),
      opts = HybridSearch.Options(k = 5, rerank = false, annPqShortlist = 50))
      .collect()
    assert(hits.nonEmpty && hits.length <= 5)
  }

  test("drift contract: shifted merge raises pq_drift past the threshold; --refit-pq restores it") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pq-drift").toString
    // corpus A clustered on axes 0-3: subspace j=0 carries all the signal,
    // j=1 (dims 8-15) is pure noise the codebooks learn to reconstruct well
    val docsA = graft.TestFixtures.clusteredDocs(
      spark, (0 until 200).map(i => f"a$i%03d"), _ % 4)
    IndexData.write(docsA, Seq.empty[(String, String)].toDF("key", "value"), dir)
    val a1 = IndexJob.withPq(IndexData.load(spark, dir), dir, pqCodes = 4, pqIters = 2)
    val fit = a1.setting(PqIndex.FitMeanErrKey).map(_.toDouble)
      .getOrElse(fail("no fit baseline after fresh withPq"))
    assert(fit > 0.0)
    assert(a1.setting(PqIndex.DriftKey).map(_.toDouble).contains(0.0))

    // merge a batch on axes 8-11: subspace j=1 suddenly carries unit spikes
    // the frozen codebooks have no entry near — reconstruction error jumps.
    // Settings passed CLI-style (embedder keys only): baseline must survive.
    val docsB = graft.TestFixtures.clusteredDocs(
      spark, (0 until 100).map(i => f"b$i%03d"), i => 8 + i % 4)
    val a2 = IndexJob.mergeAndWrite(spark, docsB,
      IndexJob.settingsOf(spark, "synthetic", 16), dir, clear = false)
    assert(a2.setting(PqIndex.FitMeanErrKey).map(_.toDouble).contains(fit),
      "pq fit baseline must survive an incremental merge")
    val drift = a2.setting(PqIndex.DriftKey).map(_.toDouble)
      .getOrElse(fail("no pq drift after incremental merge"))
    assert(drift > AnnIndex.DriftWarnThreshold,
      s"shifted-distribution merge should raise pq_drift past the warn threshold; got $drift")

    // --refit-pq: codebooks re-fit over the merged corpus, K carried over,
    // drift resets, and the QUALITY the metric proxies — how well codes
    // reconstruct the corpus, which is what ADC ranking quality rides on —
    // is restored: post-refit mean reconstruction error must come back
    // near the original fit, far below the stale-codebook error. (Recall
    // through a small shortlist is not assertable on this fixture: ADC
    // distances tie EXACTLY across every doc sharing a code pair, so the
    // deterministic doc_id tie-break, not codebook quality, decides a
    // 20-doc cut. The exactness guarantee is what search correctness
    // rests on, and it must survive the refit.)
    val staleErr = a2.setting(PqIndex.MeanErrKey).map(_.toDouble).get
    val a3 = IndexJob.withPq(a2, dir, pqCodes = 0, refit = true)
    assert(a3.pq.get.codebooks.select("cid").distinct().count() == 4) // K carried
    assert(a3.setting(PqIndex.DriftKey).map(_.toDouble).contains(0.0))
    val refitErr = a3.setting(PqIndex.MeanErrKey).map(_.toDouble).get
    assert(refitErr < staleErr / 2,
      s"refit should restore reconstruction quality: stale $staleErr, refit $refitErr")
    // two-stage exactness survives the refit: shortlist ≥ corpus ≡ exact
    val qB = Array.tabulate(16)(j => if (j == 9) 1.0f else 0.0f)
    val n = a3.documents.count().toInt
    val exact = HybridSearch.vssTopK(a3.documents, qB, 10)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    val viaPq = HybridSearch.vssTopKPq(a3.pq.get, a3.documents, qB, 10, n)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(viaPq == exact)
  }

  test("composed ivf+pq: cluster-partitioned codes, pruned scan, full-params ≡ exact") {
    // artifact with BOTH sidecars: codes must come out cluster-partitioned
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq").toString
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").cast("string").as("doc_id"), col("embedding"))
    val idx = IndexJob.fromTable(docs, "doc_id", "text",
      df => split(df("text"), " "), embeddings = Some(emb))
    IndexData.write(idx.documents, idx.settings, dir)
    IndexJob.withPq(
      IndexJob.withAnn(IndexData.load(spark, dir), dir, annClusters = 4, annIters = 2),
      dir, pqCodes = 8, pqIters = 2)
    val both = IndexData.load(spark, dir)
    assert(both.ann.isDefined && both.pq.isDefined)
    val sub = new java.io.File(s"$dir/${PqIndex.CodesDir}")
      .listFiles().map(_.getName).filter(_.startsWith("cluster="))
    assert(sub.nonEmpty, "codes not cluster-partitioned")

    // pruned scan: the composed leg's code read carries a partition filter
    val leg = HybridSearch.vssTopKIvfPq(both.ann.get, both.pq.get,
      both.documents, queryVec, 10, nprobe = 2, shortlist = 50)
    val p = leg.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cluster".r.findFirstIn(p).isDefined, p.take(1500))
    assert(leg.count() <= 10)

    // full params reproduce the exact result — the composed approximation
    // is the probe ∘ shortlist cut, nothing else
    val n = both.documents.count().toInt
    val exact = HybridSearch.vssTopK(both.documents, queryVec, 10)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    val full = HybridSearch.vssTopKIvfPq(both.ann.get, both.pq.get,
      both.documents, queryVec, 10, nprobe = 4, shortlist = n)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(full == exact)
  }

  test("dim not divisible by 8: remainder dims contribute to ADC and exactness holds") {
    // dim=100 ⇒ 13 subspaces, the last 4-wide. Two vector families agree on
    // dims 0..95 and differ ONLY in the tail dims 96..99 — with the old
    // floor(dim/8) slicing the ADC stage was blind to the difference.
    val dim = 100
    def vec(tail: Float): Array[Float] = Array.fill(96)(0.1f) ++ Array.fill(4)(tail)
    val rows = (0 until 8).map { i =>
      val tail = if (i % 2 == 0) 1.0f else -1.0f
      (s"d$i", s"d$i", "", 1, 1, s"text $i", Seq(s"text", s"$i"),
        vec(tail + i * 0.01f))
    }
    val docs = rows.toDF("doc_id", "file_path", "header_path",
      "line_start", "line_end", "content", "tokens", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft-pq100").toString
    IndexData.write(docs, Seq.empty[graft.core.Schemas.Setting].toDF(), dir)
    val pq = IndexJob.withPq(IndexData.load(spark, dir), dir, pqCodes = 4, pqIters = 2)
      .pq.getOrElse(fail("pq sidecar missing"))

    // every dimension is covered: 13 subspaces, widths 8×12 + 4
    assert(pq.codes.filter(size(col("codes")) =!= 13).count() == 0)
    val widths = pq.codebooks.select(col("j"), size(col("cv")).as("w")).distinct()
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert((0L until 12L).forall(widths(_) == 8) && widths(12L) == 4)

    // the ADC stage SEES the tail: a query matching the +1 family must
    // shortlist a +1 doc first even at shortlist=1 (tail dims are the only
    // signal separating the families)
    val q = vec(1.0f)
    val loaded = IndexData.load(spark, dir)
    val top = graft.search.HybridSearch.vssTopKPq(pq, loaded.documents, q, 1, 1)
      .select("doc_id").as[String].collect()
    assert(top.nonEmpty && Set("d0", "d2", "d4", "d6").contains(top.head), top.toSeq)

    // and shortlist ≥ corpus still reproduces the exact scan at dim=100
    val exact = graft.search.HybridSearch.vssTopK(loaded.documents, q, 4)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    val viaPq = graft.search.HybridSearch.vssTopKPq(pq, loaded.documents, q, 4, 8)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(viaPq == exact)
  }

  test("codes dataset is an order of magnitude smaller than the raw vectors") {
    def dirBytes(p: String): Long = {
      val d = new java.io.File(p)
      d.listFiles().filter(_.getName.endsWith(".parquet")).map(_.length).sum
    }
    val docsBytes = dirBytes(s"$artifactDir/documents")
    val codeBytes = dirBytes(s"$artifactDir/${PqIndex.CodesDir}")
    // documents carry text too, so compare against a loose bound: the codes
    // sidecar must be a small fraction of the artifact it accelerates
    assert(codeBytes * 5 < docsBytes, s"codes=$codeBytes docs=$docsBytes")
  }
}
