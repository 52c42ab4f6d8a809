package graft.index

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The persisted product-quantization sidecar — the codes-only serving
  * layout of the q_embed_pq / q_sim_pq_* surface, wired into the index
  * artifact so `search --ann pq[:shortlist]` can rank from codes instead of
  * raw vectors:
  *
  * {{{
  *   <dir>/ann_pq_codebooks/  j: long, cid: int, cv: array<float>   (m×K, tiny)
  *   <dir>/ann_pq_codes/      doc_id, codes: array<int>, err_sum    (m ints/doc)
  * }}}
  *
  * m = ceil(dim/8) subspaces (a dim not divisible by 8 gets a narrower
  * final subspace, so EVERY dimension contributes to ADC ranking — dim 64
  * ⇒ 8 codes). A 64-float embedding compresses to 8 small ints; the query
  * builds an m×K lookup table of exact query-subvector→centroid distances,
  * and the approximate distance is a sum of m table lookups — no
  * per-vector float math. At 100 TB the codes dataset is ~1/32 the bytes of the raw vectors,
  * and the exact cosine kernel touches only the shortlist (`shortlist`
  * ids ride a broadcast back into the documents scan). `shortlist ≥ corpus`
  * reproduces the exact result (PqIndexSpec pins it). Composable with the
  * IVF sidecar in principle (probe first, ADC inside probed clusters); the
  * flat ADC scan is already the bytes-bound win this sidecar exists for.
  */
final case class PqIndex(codebooks: DataFrame, codes: DataFrame) {

  /** Collected codebooks: (j → cid → centroid), 8×K×8 floats — scalar-sized
    * by construction, cached for the serving session. */
  lazy val codebookArray: Map[(Long, Int), Array[Float]] =
    codebooks.collect()
      .map(r => (r.getAs[Long]("j"), r.getAs[Int]("cid")) -> r.getSeq[Float](2).toArray)
      .toMap

  /** Per-query ADC lookup table as a DENSE matrix `lutLongs(j)(cid)`: exact
    * L2 from the query's j-th subvector to each centroid, 1e-6-quantized to
    * longs (the order-independent-sum rule of the oracle-checked
    * q_sim_pq_adc). Dense by construction — [[PqIndex.fit]] seeds cids
    * 0..k-1 per subspace and empty cells keep their centroid — so ADC
    * ranking can run as a map-only literal lookup (`lutLongs(j)(codes(j))`)
    * instead of an (j, cid) join; an unseeded gap (sub-k corpus) fills with
    * 0, which no code references. */
  def lutLongs(queryVec: Array[Float]): Seq[Seq[Long]] = {
    val byJ = codebookArray.groupBy(_._1._1)
    if (byJ.isEmpty) return Seq.empty // empty artifact ⇒ codes scan is empty too
    (0L to byJ.keys.max).map { j =>
      val cells = byJ.getOrElse(j, Map.empty).map { case ((_, cid), cv) =>
        var acc = 0.0
        var i = 0
        while (i < cv.length) {
          val q = queryVec((j * PqIndex.SubDim + i).toInt).toDouble
          val d = q - cv(i).toDouble
          acc += d * d
          i += 1
        }
        cid -> math.floor(acc * 1e6 + 0.5).toLong
      }
      if (cells.isEmpty) Seq.empty[Long]
      else (0 to cells.keys.max).map(cid => cells.getOrElse(cid, 0L))
    }
  }

  /** [[lutLongs]] as (j, cid, lq) rows for join-shaped consumers. */
  def lut(spark: SparkSession, queryVec: Array[Float]): DataFrame = {
    import spark.implicits._
    val rows = lutLongs(queryVec).zipWithIndex.flatMap { case (cids, j) =>
      cids.zipWithIndex.map { case (lq, cid) => (j.toLong, cid, lq) }
    }
    rows.toDF("j", "cid", "lq")
  }

  /** ADC approximate distance of every row of the given codes scan:
    * (doc_id, adist). The per-query LUT is a dense m×K literal matrix
    * ([[lutLongs]] — scalar-sized), and the distance is `Σ_j lut(j)(
    * codes(j))` as a codegen'd zip_with/aggregate over each row's own
    * codes array — MAP-ONLY, no join, no exchange. The single source of
    * the ADC formula: the serving shortlist cut
    * ([[graft.search.HybridSearch]]) and the fit-time recall curve
    * ([[PqIndex.recallCurve]]) both rank by exactly this column. */
  def adistOf(codesScan: DataFrame, queryVec: Array[Float]): DataFrame = {
    val lut = typedlit(lutLongs(queryVec))
    codesScan.select(col("doc_id"),
      (aggregate(
        zip_with(col("codes"), lut, (c, l) => element_at(l, c + 1)),
        lit(0L), (acc, x) => acc + x).cast("double") / 1e6).as("adist"))
  }

  def cached(): PqIndex =
    copy(codebooks = codebooks.cache(), codes = codes.cache())
}

object PqIndex {

  val CodebooksDir = "ann_pq_codebooks"
  val CodesDir = "ann_pq_codes"
  val SubDim = 8 // subspace width — the q_embed_pq layout

  /** Codebook-staleness settings keys, the PQ face of the ANN drift
    * contract ([[AnnIndex.DriftKey]]): mean per-subspace assignment
    * (reconstruction) error at fit time vs re-measured on each
    * frozen-codebook incremental merge. */
  val FitMeanErrKey = "pq_fit_meanerr"
  val MeanErrKey = "pq_meanerr"
  val DriftKey = "pq_drift"

  /** Settings key for the fit-time shortlist→recall curve:
    * `"10:0.60,20:0.85,40:1.00"` — recall@k of the two-stage PQ search
    * (ADC shortlist + exact rerank) at each shortlist step, measured on a
    * deterministic corpus sample when the codebooks were fit. The PQ face
    * of [[AnnIndex.RecallCurveKey]]: what `--ann pq:auto` resolves
    * against, symmetric with `ivf:auto`. */
  val RecallCurveKey = "pq_recall_curve"

  /** Default shortlist for `--ann pq` with no size and no persisted curve
    * (pre-curve artifact). */
  val DefaultShortlist = 50

  /** Measure the fitted sidecar's shortlist→recall@k curve on a
    * deterministic corpus sample — the same sample rule as
    * [[AnnIndex.recallCurve]] (first `sample` vectors in md5-of-id order).
    *
    * One adist scan per sample query, NOT one search per (query, step):
    * a doc in the exact top-k appears in the two-stage result at shortlist
    * S iff its ADC rank is < S — it survives the cut, and inside any
    * shortlist containing it at most k−1 docs beat it on exact cosine
    * (everything that beats it is itself in the exact top-k), so the final
    * rerank always keeps it. The whole curve therefore reduces to the ADC
    * rank of each exact-top-k doc, computed as k conditional counts over a
    * single map-only adist scan (strictly-before in the serving cut's
    * (round(adist,6), doc_id) total order). Steps are k·2^i up to the
    * code-row count n, plus n itself — recall at n is exactly 1.0 by
    * construction (`shortlist ≥ corpus` ≡ exact, PqIndexSpec). Cost:
    * `sample` exact top-k jobs + `sample` adist scans at FIT time only. */
  def recallCurve(pq: PqIndex, docs: DataFrame, idCol: String,
      vecCol: String, k: Int = 10, sample: Int = 8): Seq[(Int, Double)] = {
    val corpus = docs.filter(col(vecCol).isNotNull && col(idCol).isNotNull)
      .select(col(idCol).as("_did"), col(vecCol).as("_dvec"))
    val n = pq.codes.count()
    if (n == 0L) return Seq.empty
    val qs = corpus.orderBy(md5(col("_did").cast("string")), col("_did"))
      .limit(sample)
      .select(col("_dvec")).collect()
      .map(_.getSeq[Float](0).toArray)
    // steps stay within Int (the shortlist API's type): a codes corpus past
    // 2^31 rows caps the curve's last point at Int.MaxValue instead of
    // wrapping a doubled step negative
    val nCap = math.min(n, Int.MaxValue.toLong)
    val steps: Seq[Int] = (Iterator.iterate(k.toLong)(_ * 2)
      .takeWhile(s => s < nCap).map(_.toInt).toSeq :+ nCap.toInt).distinct
    // per query: minimal shortlist (= ADC rank + 1) of each exact-top-k doc
    val minShortlists: Seq[Seq[Long]] = qs.toSeq.map { qvec =>
      val qv = typedlit(qvec.toSeq)
      val exactK = corpus
        .select(col("_did"),
          graft.functions.VectorOps.cosineDist(col("_dvec"), qv).as("_d"))
        .orderBy(round(col("_d"), 6).asc, col("_did").asc)
        .limit(k).select(col("_did")).collect().toSeq.map(_.get(0))
      val adist = pq.adistOf(pq.codes, qvec)
        .select(col("doc_id"), round(col("adist"), 6).as("_a6"))
        .localCheckpoint(true) // one scan: k thresholds + k rank counts below
      val thresholds = adist
        .filter(col("doc_id").isin(exactK: _*))
        .collect().toSeq.map(r => (r.get(0), r.getDouble(1)))
      val ranks =
        if (thresholds.isEmpty) Seq.empty[Long]
        else {
          val exprs = thresholds.zipWithIndex.map { case ((tid, ta6), i) =>
            count(when(col("_a6") < ta6 ||
              (col("_a6") === ta6 && col("doc_id") < lit(tid)), 1)).as(s"_r$i")
          }
          val cnts = adist.agg(exprs.head, exprs.tail: _*).head()
          thresholds.indices.map(i => cnts.getLong(i) + 1L)
        }
      adist.unpersist(false) // drop the per-query checkpoint eagerly
      ranks
    }
    steps.map { s =>
      val recalls = minShortlists.collect { case ms if ms.nonEmpty =>
        ms.count(_ <= s).toDouble / ms.size
      }
      s -> (if (recalls.isEmpty) 1.0 else recalls.sum / recalls.size)
    }
  }

  /** Slice an embedding column into 8-dim double subvectors:
    * (idCol, j, sv). Subspace count is ceil(dim/8), so a dim that is not a
    * multiple of 8 gets a narrower FINAL subspace covering the remainder
    * dims (`slice` truncates at the array end) — every dimension
    * contributes to ADC ranking. Floor division here would silently drop
    * the `dim mod 8` tail from the approximate stage: a recall nibble the
    * exact rerank can't see (PqIndexSpec pins a dim=100 fixture). */
  private def subspaces(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol).as("_id"),
        explode(transform(
          sequence(lit(0),
            ceil(size(col(vecCol)).cast("double") / SubDim).cast("int") - 1),
          j => struct(j.cast("long").as("j"),
            slice(transform(col(vecCol), x => x.cast("double")),
              j * SubDim + 1, lit(SubDim)).as("sv")))).as("sub"))
      .select(col("_id"), col("sub.j").as("j"), col("sub.sv").as("sv"))

  private def l2(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, x) => acc + x)

  /** Deterministic per-subspace k-means codebooks (all 8 subspaces train in
    * ONE DataFrame job per iteration). Seeds are the k sub-vectors with the
    * smallest ids per subspace; argmin ties break on (rounded d, cid);
    * means sum 1e-6-quantized longs — the same reproducible-artifact rules
    * as [[AnnIndex.fit]]. Returns (j, cid, cv: array<float>). */
  def fit(docs: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val sub = docs
      .filter(col(idCol).isNotNull && col(vecCol).isNotNull)
      .select(col(idCol).as("_did"), col(vecCol).as("_v"))
      .transform(d => subspaces(d, "_did", "_v"))
    // seed: k smallest-id subvectors per subspace
    val wSeed = Window.partitionBy(col("j")).orderBy(col("_id").asc)
    var books: Array[((Long, Int), Seq[Float])] = sub
      .withColumn("_rn", row_number().over(wSeed))
      .filter(col("_rn") <= k)
      .select(col("j"), (col("_rn") - 1).cast("int").as("cid"), col("sv"))
      .collect()
      .map(r => (r.getAs[Long]("j"), r.getAs[Int]("cid")) ->
        r.getSeq[Double](2).map(_.toFloat))
    var round = 0
    while (round < iters) {
      val cb = booksDf(spark, books)
      val sums = assign(sub, cb)
        .select(col("j"), col("cid"), posexplode(col("sv")).as(Seq("pos", "v")))
        .groupBy("j", "cid", "pos")
        .agg(count(lit(1)).as("n"),
          sum(floor(col("v") * 1e6 + 0.5).cast("long")).as("sv"))
        .collect() // 8×K×8 aggregated rows — scalar-sized
      val byKey = sums.groupBy(r => (r.getAs[Long]("j"), r.getAs[Int]("cid")))
      books = books.map { case (key, old) =>
        byKey.get(key) match {
          case Some(rows) =>
            val arr = old.toArray
            rows.foreach { r =>
              arr(r.getAs[Int]("pos")) =
                (r.getAs[Long]("sv").toDouble / (r.getAs[Long]("n").toDouble * 1e6)).toFloat
            }
            key -> arr.toSeq
          case None => key -> old // empty cell keeps its centroid
        }
      }
      round += 1
    }
    booksDf(spark, books)
  }

  private def booksDf(spark: SparkSession,
      books: Array[((Long, Int), Seq[Float])]): DataFrame = {
    import spark.implicits._
    books.toSeq.map { case ((j, cid), cv) => (j, cid, cv) }.toDF("j", "cid", "cv")
  }

  /** Nearest codebook entry per (vector, subspace): struct-min argmin —
    * map-side partials, never a window over N×8×K candidates (the
    * q_embed_pq shape). Input `sub`: (_id, j, sv). Output:
    * (_id, j, cid, sv, aerr) — `aerr` is the chosen entry's UNROUNDED L2
    * (the per-subspace reconstruction error), carried out of the argmin the
    * pass already computed so the drift metric never re-runs it. The
    * rounded d6 leads the min struct for the deterministic (d6, cid)
    * tie-break; for a fixed (j, cid) candidate the trailing fields are
    * functionally determined, so including them cannot change the argmin. */
  private def assign(sub: DataFrame, codebooks: DataFrame): DataFrame =
    sub.join(broadcast(codebooks.withColumn("cvd",
        transform(col("cv"), x => x.cast("double")))), Seq("j"))
      .withColumn("_d", l2(col("sv"), col("cvd")))
      .groupBy("_id", "j")
      .agg(min(struct(round(col("_d"), 6).as("d6"), col("cid").as("cid"),
        col("_d").as("d"))).as("best"),
        first(col("sv")).as("sv"))
      .select(col("_id"), col("j"), col("best.cid").as("cid"), col("sv"),
        col("best.d").as("aerr"))

  /** Encode every embedded document as its 8 codebook codes, packed in
    * subspace order: (doc_id, codes: array<int>, err_sum). `err_sum` is the
    * summed per-subspace reconstruction error of the doc — a byproduct of
    * the encode argmin, persisted with the codes so the pq_drift
    * measurement is a column scan over the written codes
    * ([[meanCodesError]]), not a second corpus-wide encode pass. */
  def encode(docs: DataFrame, idCol: String, vecCol: String,
      codebooks: DataFrame): DataFrame = {
    val sub = docs
      .filter(col(idCol).isNotNull && col(vecCol).isNotNull)
      .select(col(idCol).as("_did"), col(vecCol).as("_v"))
      .transform(d => subspaces(d, "_did", "_v"))
    assign(sub, codebooks)
      .groupBy(col("_id").as("doc_id"))
      .agg(transform(array_sort(collect_list(struct(col("j"), col("cid")))),
        x => x.getField("cid")).as("codes"),
        sum(col("aerr")).as("err_sum"))
  }

  /** Mean per-(vector, subspace) reconstruction error read from the
    * `err_sum` column the codes dataset carries — sum of per-doc error sums
    * over the total subspace count, identical by algebra to
    * [[meanAssignError]]'s avg over assignment rows, at the cost of a
    * two-column scan of the (already tiny) codes parquet. */
  def meanCodesError(codes: DataFrame): Double =
    codes.agg(sum(col("err_sum")) / sum(size(col("codes")))).head().getDouble(0)

  /** Mean assignment (reconstruction) error of the corpus under the given
    * codebooks: avg over (vector, subspace) of the L2 from the subvector to
    * its nearest codebook entry — the scalar the pq_drift staleness
    * contract tracks. One subspace explode + broadcast-argmin + avg (the
    * same pass shape encode() runs). This is the RECOMPUTING form, kept as
    * the spec's independent oracle for [[meanCodesError]]. */
  def meanAssignError(docs: DataFrame, idCol: String, vecCol: String,
      codebooks: DataFrame): Double = {
    val sub = docs
      .filter(col(idCol).isNotNull && col(vecCol).isNotNull)
      .select(col(idCol).as("_did"), col(vecCol).as("_v"))
      .transform(d => subspaces(d, "_did", "_v"))
    assign(sub, codebooks)
      .join(broadcast(codebooks.withColumn("cvd",
        transform(col("cv"), x => x.cast("double")))), Seq("j", "cid"))
      .agg(avg(l2(col("sv"), col("cvd"))))
      .head().getDouble(0)
  }

  /** Fit + encode + persist. When the artifact also has an IVF sidecar
    * (`clusterOf` = its (cluster, doc_id) assignment), the codes dataset is
    * written PARTITIONED BY the IVF cluster — the composed `--ann
    * ivf:np+pq:sl` path then partition-prunes the code files by probe
    * before a single lookup happens: the full 100 TB serving shape (prune
    * by IVF → rank by codes → exact-verify the shortlist). */
  def buildAndWrite(docs: DataFrame, idCol: String, vecCol: String,
      dir: String, k: Int = 16, iters: Int = 3,
      clusterOf: Option[DataFrame] = None): PqIndex = {
    val spark = docs.sparkSession
    val books = fit(docs, idCol, vecCol, k, iters).coalesce(1).localCheckpoint(true)
    books.write.mode("overwrite").parquet(s"$dir/$CodebooksDir")
    val codes = encode(docs, idCol, vecCol, books)
    clusterOf match {
      case Some(assign) =>
        AnnIndex.writeClusterPartitioned(
          codes.join(assign.select(col("cluster"), col("doc_id")), Seq("doc_id")),
          s"$dir/$CodesDir")
      case None =>
        codes.write.mode("overwrite").parquet(s"$dir/$CodesDir")
    }
    load(spark, dir).getOrElse(sys.error(s"PqIndex write to $dir not readable back"))
  }

  def load(spark: SparkSession, dir: String): Option[PqIndex] = {
    val fs = new org.apache.hadoop.fs.Path(dir, CodebooksDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def has(d: String) = fs.exists(new org.apache.hadoop.fs.Path(dir, d))
    // both or nothing — a crash between the codebooks and codes writes must
    // degrade to None, not fail every IndexData.load (see AnnIndex.load)
    if (!has(CodebooksDir) || !has(CodesDir)) {
      if (has(CodebooksDir) != has(CodesDir))
        System.err.println(s"[graft] warning: torn PQ sidecar at $dir " +
          "(one of codebooks/codes missing — crashed fit?); ignoring it. " +
          "Re-run with --pq-codes to rebuild.")
      None
    } else Some(PqIndex(
      codebooks = spark.read.parquet(s"$dir/$CodebooksDir"),
      codes = spark.read.parquet(s"$dir/$CodesDir")))
  }
}
