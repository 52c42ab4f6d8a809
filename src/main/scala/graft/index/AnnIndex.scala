package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.VectorOps
import graft.ops.Similarity

/** The persisted IVF ANN index — the engine's counterpart of the reference's
  * HNSW index (reference `src/db.py:152-165`: `CREATE INDEX … USING HNSW`):
  * built once at index time, used by the online SEARCH path so the VSS leg
  * stops scanning the full corpus per query.
  *
  * Layout inside the index artifact (SURVEY.md §1.3):
  *
  * {{{
  *   <dir>/ann_centroids/  cid: int, cvec: array<float>     (K rows, tiny)
  *   <dir>/ann_postings/   cluster=<cid>/…  doc_id, embedding, assign_dist
  * }}}
  *
  * `ann_postings` is the classic IVF inverted-list file: every vector stored
  * under its nearest centroid, written `partitionBy("cluster")` so a query
  * that probes `nprobe` clusters reads ONLY those directories — a
  * partition-pruned parquet scan (`PartitionFilters: [cluster IN (…)]`),
  * touching ~`nprobe/K` of the corpus. At 100 TB that pruning is the entire
  * point: the exact heap scan ([[graft.search.HybridSearch.vssTopK]]) reads
  * every row once per query; this reads a fixed fraction, with exactness
  * traded for recall exactly like the reference's HNSW (recall < 1.0 when a
  * true neighbor lives in an unprobed cluster; `nprobe = K` degrades to the
  * exact result — pinned in AnnIndexSpec).
  */
final case class AnnIndex(centroids: DataFrame, postings: DataFrame) {

  /** The K centroids as a driver-local array, collected ONCE per index
    * instance (K×dim floats — scalar-sized by definition). The serving
    * probe decision runs against this array instead of scheduling a Spark
    * job over a K-row DataFrame per query: at sf0.1 that job was a fixed
    * ~10² ms of pure plan/scheduling overhead on every keystroke of the
    * interactive/MCP path. Sorted by cid so iteration order is stable. */
  lazy val centroidArray: Array[(Int, Array[Float])] =
    centroids.select("cid", "cvec").collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)

  /** Number of clusters. */
  lazy val numClusters: Int = centroidArray.length

  /** Top-`nprobe` clusters for a query vector, by the engine-wide
    * (rounded cosine distance, cid) order — computed DRIVER-LOCALLY over
    * [[centroidArray]]: the probe is a decision over K scalar rows, and a
    * distributed plan for it costs a full job's scheduling latency per
    * query. [[AnnIndex.localCosineDist]] replicates the codegen'd
    * [[VectorOps.cosineDist]] arithmetic term-for-term (same accumulation
    * order, same rounding), and AnnIndexSpec pins `probe ≡
    * probeDistributed` so the scalar math can never drift from the
    * distributed math the corpus legs use. */
  def probe(queryVec: Array[Float], nprobe: Int): Seq[Int] =
    centroidArray
      .map { case (cid, cvec) => (AnnIndex.round6(AnnIndex.localCosineDist(cvec, queryVec)), cid) }
      .sorted.take(nprobe).map(_._2).toSeq

  /** The distributed formulation of [[probe]] — kept as the spec's parity
    * oracle (scalar ≡ distributed pinned in AnnIndexSpec), not on the
    * serving path. */
  private[graft] def probeDistributed(queryVec: Array[Float], nprobe: Int): Seq[Int] = {
    val qv = typedlit(queryVec.toSeq)
    centroids
      .select(col("cid"), VectorOps.cosineDist(col("cvec"), qv).as("d"))
      .orderBy(round(col("d"), 6).asc, col("cid").asc)
      .limit(nprobe)
      .select("cid").collect().map(_.getInt(0)).toSeq
  }

  /** Mean assignment distance of the inverted lists: the average cosine
    * distance of every stored vector to its own centroid — the scalar that
    * the sidecar-staleness (drift) contract tracks. The distance is a
    * byproduct of the assignment argmin [[AnnIndex.buildPostings]] already
    * computed, persisted as the `assign_dist` column — so the measurement
    * is a single-column parquet scan + avg, NOT a second corpus-wide
    * join/distance pass per merge. */
  def meanAssignDist: Double =
    postings.agg(avg(col("assign_dist"))).head().getDouble(0)

  /** Cache both datasets for a long-lived serving session. */
  def cached(): AnnIndex =
    copy(centroids = centroids.cache(), postings = postings.cache())

  /** BATCH probe search over the persisted lists: every query probes its
    * `nprobe` nearest centroids (queries × centroids is broadcast-sized),
    * then ONE equi-join on the cluster id scans the union of all probed
    * lists for the whole query set — the multi-query sibling of
    * [[graft.search.HybridSearch.vssTopKIvf]] (which driver-probes and
    * partition-prunes for a single query). Output:
    * (qidCol, doc_id, dist, rank), rank ≤ k per query, deterministic
    * (rounded-dist, doc_id) order.
    *
    * The probed-cluster set — bounded at |queries| × nprobe ints BY
    * CONSTRUCTION — is collected and pushed as a STATIC
    * `cluster IN (…)` partition filter on the lists scan. This is
    * load-bearing at scale (round-15 finding, rows-read-verified): the
    * broadcast equi-join ALONE prunes nothing — dynamic partition
    * pruning does not fire on a windowed-subquery build side, so the
    * "probed-lists join" silently scanned 100% of the corpus-sized lists
    * at any nprobe; with the static filter it reads only the probed
    * directories, the same pruning the single-query path gets.
    * BatchSearchSpec pins rows-read. */
  def probeSearchBatch(queries: DataFrame, qidCol: String, qvecCol: String,
      nprobe: Int, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = queries.select(col(qidCol).as("_qid"), col(qvecCol).as("_qvec"))
    val wProbe = Window.partitionBy(col("_qid"))
      .orderBy(round(col("_qcd"), 6).asc, col("cid").asc)
    // eager checkpoint: bounded rows, and the frame feeds BOTH the probed-
    // cluster collect and the join — without it the crossJoin + window
    // replays once per consumer
    val probes = q.crossJoin(broadcast(centroids))
      .withColumn("_qcd", VectorOps.cosineDist(col("_qvec"), col("cvec")))
      .withColumn("_pr", row_number().over(wProbe))
      .filter(col("_pr") <= nprobe)
      .select(col("_qid"), col("_qvec"), col("cid").as("cluster"))
      .localCheckpoint(true)
    val probedClusters = probes.select("cluster").distinct()
      .collect().map(_.getInt(0)).toSeq
    val wRank = Window.partitionBy(col("_qid"))
      .orderBy(round(col("dist"), 6).asc, col("doc_id").asc)
    postings.filter(col("cluster").isin(probedClusters: _*))
      .join(broadcast(probes), Seq("cluster"))
      .withColumn("dist", VectorOps.cosineDist(col("embedding"), col("_qvec")))
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .filter(col("rank") <= k)
      .select(col("_qid").as(qidCol), col("doc_id"), col("dist"), col("rank"))
  }
}

object AnnIndex {

  val CentroidsDir = "ann_centroids"
  val PostingsDir = "ann_postings"

  /** Sidecar-staleness settings keys (SURVEY.md §1.3 settings dataset).
    * `ann_fit_meandist` is the mean assignment distance measured when the
    * centroids were FIT; `ann_meandist` is the same scalar re-measured on
    * the latest incremental merge (frozen centroids, re-derived lists);
    * `ann_drift` is their relative growth — the signal that frozen-centroid
    * recall is quietly decaying and the sidecar wants `--refit-ann`. */
  val FitMeanDistKey = "ann_fit_meandist"
  val MeanDistKey = "ann_meandist"
  val DriftKey = "ann_drift"

  /** Drift past this relative growth triggers the `--ann` search warning
    * (quantization error 25% above the fit-time baseline — conservative:
    * real recall decay typically shows earlier in the metric than in
    * results, so the warning leads the failure). */
  val DriftWarnThreshold = 0.25

  /** Settings key for the fit-time sample recall curve: `"1:0.60,2:0.85,
    * 4:1.00"` — recall@k at each probed nprobe, measured on a deterministic
    * corpus sample when the centroids were fit. The tuning guidance the
    * reference's HNSW never gives its users: how approximate is `--ann
    * ivf:N` on THIS corpus, before any query runs. */
  val RecallCurveKey = "ann_recall_curve"

  /** Fit-time recall at nprobe settings below this get the `--ann` search
    * advisory note. */
  val RecallWarnThreshold = 0.7

  /** Measure the fitted index's recall@k curve on a deterministic corpus
    * sample: the first `sample` vectors in id order are the query set, the
    * exact answer is one batched brute-force top-k job, and each probed
    * nprobe step (powers of two up to K, plus K itself) is one
    * [[AnnIndex.probeSearchBatch]] job. Self-matches stay in on BOTH sides
    * (the sample is drawn from the corpus), so the comparison is
    * apples-to-apples. Cost: (1 + steps) sample-width jobs at FIT time
    * only — never on the serving path; at 100 TB this is the price of
    * printing an honest dial on the index you just built. */
  def recallCurve(ann: AnnIndex, docs: DataFrame, idCol: String,
      vecCol: String, k: Int = 10, sample: Int = 8): Seq[(Int, Double)] = {
    val corpus = docs.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("_did"), col(vecCol).as("_dvec"))
    // deterministic SPREAD sample: order by md5(id) — ids often correlate
    // with ingest order/content, so "first 8 by id" could land in one
    // cluster and flatter the curve; a hash order decorrelates for free
    // and TakeOrdered keeps it one bounded pass
    val qs = corpus.orderBy(md5(col("_did").cast("string")), col("_did"))
      .limit(sample)
      .select(col("_did").as("_qid"), col("_dvec").as("_qvec"))
      .localCheckpoint(true)
    val exact = Similarity.bruteForceTopK(qs, "_qid", "_qvec",
        corpus, "_did", "_dvec", k, excludeSelf = false)
      .select(col("_qid"), col("_did")).collect()
      .map(r => (String.valueOf(r.get(0)), String.valueOf(r.get(1)))).toSet
    val steps = (Iterator.iterate(1)(_ * 2)
      .takeWhile(_ < ann.numClusters).toSeq :+ ann.numClusters).distinct
    steps.map { np =>
      val got = ann.probeSearchBatch(qs, "_qid", "_qvec", np, k)
        .select(col("_qid"), col("doc_id")).collect()
        .map(r => (String.valueOf(r.get(0)), String.valueOf(r.get(1)))).toSet
      np -> (if (exact.isEmpty) 1.0
        else got.intersect(exact).size.toDouble / exact.size)
    }
  }

  def encodeCurve(curve: Seq[(Int, Double)]): String =
    // Locale.ROOT: the f-interpolator formats with the JVM default locale,
    // and a comma-decimal locale (de_DE, fr_FR) would persist "1:0,60" —
    // which decodeCurve can never parse back (the one persisted double in
    // the codebase that goes through a formatter rather than toString)
    curve.map { case (np, r) =>
      "%d:%.2f".formatLocal(java.util.Locale.ROOT, np, r)
    }.mkString(",")

  def decodeCurve(s: String): Seq[(Int, Double)] =
    s.split(",").toSeq.filter(_.nonEmpty).map { p =>
      val Array(np, r) = p.split(":", 2)
      (np.toInt, r.toDouble)
    }

  /** [[decodeCurve]] that answers None (with a stderr note) on a malformed
    * persisted curve — the settings table is hand-editable, and every
    * consumer of the curve is advisory (serve defaults, auto-nprobe,
    * recall warnings): none of them should crash on a corrupt setting. */
  def decodeCurveOpt(s: String): Option[Seq[(Int, Double)]] =
    scala.util.Try(decodeCurve(s)).toOption.orElse {
      System.err.println(
        s"[graft] malformed $RecallCurveKey setting '$s' — ignoring it")
      None
    }

  /** Relative drift of the current mean assignment distance vs the
    * fit-time baseline. The denominator is floored at 1e-6 so a
    * near-perfect fit (tiny corpus the model reconstructs exactly) still
    * reports real drift when new data raises the error — zeroing the
    * result there would silently miss a wholesale distribution shift —
    * while a corpus that stays perfectly fit keeps drift ≈ 0. */
  def driftOf(fitMeanDist: Double, curMeanDist: Double): Double =
    (curMeanDist - fitMeanDist) / math.max(fitMeanDist, 1e-6)

  /** Scalar replica of the codegen'd [[graft.functions.CosineDistance]]
    * kernel — same left-to-right double accumulation over float inputs,
    * same `1 − dot/(√na·√nb)` with `a` = stored vector, `b` = query — so
    * the driver-local probe computes BIT-IDENTICAL doubles to the
    * distributed legs (parity pinned in AnnIndexSpec). */
  def localCosineDist(a: Array[Float], b: Array[Float]): Double = {
    require(a.length == b.length,
      s"localCosineDist: dim mismatch ${a.length} vs ${b.length}")
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      val xv = a(i).toDouble
      val yv = b(i).toDouble
      dot += xv * yv; na += xv * xv; nb += yv * yv
      i += 1
    }
    1.0 - dot / (java.lang.Math.sqrt(na) * java.lang.Math.sqrt(nb))
  }

  /** Scalar replica of Spark's `round(_, 6)` on doubles (BigDecimal
    * HALF_UP via the canonical string representation — what Catalyst's
    * Round does for DoubleType), so local probe ranking rounds exactly
    * like the distributed `round(col, 6)` cut lines. */
  def round6(d: Double): Double =
    if (d.isNaN || d.isInfinite) d // Catalyst Round passes non-finite through
    else BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Deterministic distributed k-means over an embedding column.
    * Returns (cid: int, cvec: array<float>).
    *
    * Determinism (the engine's reproducible-artifact rule — a re-index of
    * the same corpus must produce the same index):
    *  - seed centroids are the `k` vectors with the smallest ids (no RNG);
    *  - assignment argmin breaks ties on (rounded distance, cid) —
    *    [[Similarity.ivfAssign]]'s contract;
    *  - per-dimension means sum 1e-6-quantized longs, so the result is
    *    independent of partitioning/order (the q_kmeans_step kernel; a long
    *    holds ~9.2e12 rows per (cid,pos) at |v|≤1 — beyond that, widen to
    *    DECIMAL(38,0) like q_embed_whiten).
    *
    * Per round: one broadcast centroid join + windowed argmin + one
    * partial-agg'd (cid,pos) shuffle; only k×dim aggregated rows reach the
    * driver (the new centroids — scalar-sized by definition). Empty clusters
    * keep their previous centroid. */
  def fit(
      docs: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int): DataFrame = {
    val spark = docs.sparkSession
    val base = docs
      .filter(col(idCol).isNotNull && col(vecCol).isNotNull)
      .select(col(idCol).as("_id"), col(vecCol).cast("array<float>").as("_vec"))
    var cents: Array[(Int, Seq[Float])] = base
      .orderBy(col("_id").asc).limit(k)
      .select("_vec").collect()
      .zipWithIndex.map { case (r, i) => (i, r.getSeq[Float](0)) }
    require(cents.nonEmpty, "AnnIndex.fit: corpus has no embedded documents")
    var round = 0
    while (round < iters) {
      val assigned = Similarity.ivfAssign(
        base, "_id", "_vec", centroidDf(spark, cents), "cid", "cvec")
      val sums = assigned
        .select(col("cid"), posexplode(col("_vec")).as(Seq("pos", "v")))
        .groupBy("cid", "pos")
        .agg(count(lit(1)).as("n"),
          sum(floor(col("v").cast("double") * 1e6 + 0.5).cast("long")).as("sv"))
        .collect()
      val byCid = sums.groupBy(_.getAs[Int]("cid"))
      cents = cents.map { case (cid, old) =>
        byCid.get(cid) match {
          case Some(rows) =>
            val arr = new Array[Float](old.length)
            rows.foreach { r =>
              arr(r.getAs[Int]("pos")) =
                (r.getAs[Long]("sv").toDouble / (r.getAs[Long]("n").toDouble * 1e6)).toFloat
            }
            (cid, arr.toSeq)
          case None => (cid, old)
        }
      }
      round += 1
    }
    centroidDf(spark, cents)
  }

  private def centroidDf(spark: SparkSession, cents: Array[(Int, Seq[Float])]): DataFrame = {
    import spark.implicits._
    cents.toSeq.toDF("cid", "cvec")
  }

  /** The inverted lists: every embedded document under its nearest centroid.
    * One broadcast join + windowed argmin over the corpus — embarrassingly
    * parallel, never all-pairs. The argmin's own distance rides along as
    * `assign_dist` (one double per row next to a dim-float embedding —
    * negligible bytes) so the drift measurement ([[AnnIndex.meanAssignDist]])
    * never re-runs the assignment pass. */
  def buildPostings(
      docs: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame): DataFrame =
    Similarity.ivfAssign(
        docs.filter(col(idCol).isNotNull && col(vecCol).isNotNull)
          .select(col(idCol).as("doc_id"), col(vecCol).cast("array<float>").as("embedding")),
        "doc_id", "embedding", centroids, "cid", "cvec")
      .select(col("cid").as("cluster"), col("doc_id"), col("embedding"),
        col("centroid_dist").as("assign_dist"))

  /** THE cluster-partitioned sidecar write (ann lists, cluster-carrying pq
    * codes): range-cluster on (cluster, doc_id) with an EXPLICIT partition
    * count before `partitionBy("cluster")`, so each write task holds whole
    * (cluster, id-range) slabs and a cluster dir gets ~⌈N/K⌉ files instead
    * of one per (shuffle partition × cluster). The raw `partitionBy` write
    * produced up to 32 files PER CLUSTER at local[32] (506 files on the
    * sf0.1 bench artifact) — on a cold disk-backed probe each file costs a
    * parquet footer round-trip, the read amplification behind the round-15
    * `disk_ivf_auto` spread (992 ms driver-run p50 vs 278 pinned; see
    * PLANS.md round-16 adjudication). `parts = Some(1)` for O(delta)
    * append segments (≤1 file per non-empty cluster); default sizes to the
    * session's shuffle parallelism, which also keeps the build
    * write-parallel at 100 TB where a one-task-per-cluster shape would
    * serialize corpus/K bytes through single writers. */
  private[graft] def writeClusterPartitioned(df: DataFrame, dest: String,
      parts: Option[Int] = None): Unit = {
    val n = parts.getOrElse(df.sparkSession.sessionState.conf.numShufflePartitions)
    df.repartitionByRange(n, col("cluster"), col("doc_id"))
      .sortWithinPartitions("cluster", "doc_id")
      .write.mode("overwrite").partitionBy("cluster").parquet(dest)
  }

  /** Fit + assign + persist into an existing index artifact directory. */
  def buildAndWrite(
      docs: DataFrame, idCol: String, vecCol: String,
      dir: String, k: Int, iters: Int = 4): AnnIndex = {
    val spark = docs.sparkSession
    val centroids = fit(docs, idCol, vecCol, k, iters)
      // tiny (K rows) but read by every query — one file, materialized once
      .coalesce(1).localCheckpoint(true)
    centroids.write.mode("overwrite").parquet(s"$dir/$CentroidsDir")
    writeClusterPartitioned(
      buildPostings(docs, idCol, vecCol, centroids), s"$dir/$PostingsDir")
    load(spark, dir).getOrElse(sys.error(s"AnnIndex write to $dir not readable back"))
  }

  /** Load the ANN sidecar if the artifact has one (indexes built without
    * `--ann-clusters` simply don't — the search path then uses the exact
    * heap scan). */
  def load(spark: SparkSession, dir: String): Option[AnnIndex] = {
    val fs = new org.apache.hadoop.fs.Path(dir, CentroidsDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def has(d: String) = fs.exists(new org.apache.hadoop.fs.Path(dir, d))
    // BOTH datasets must exist: a crash between the centroids and postings
    // writes must degrade this load to None (exact search still works),
    // not brick every IndexData.load with PATH_NOT_FOUND — the sidecar is
    // optional acceleration, never a load-bearing artifact member
    if (!has(CentroidsDir) || !has(PostingsDir)) {
      if (has(CentroidsDir) != has(PostingsDir))
        System.err.println(s"[graft] warning: torn ANN sidecar at $dir " +
          "(one of centroids/postings missing — crashed fit?); ignoring it. " +
          "Re-run with --ann-clusters to rebuild.")
      None
    } else Some(AnnIndex(
      centroids = spark.read.parquet(s"$dir/$CentroidsDir"),
      postings = spark.read.parquet(s"$dir/$PostingsDir")))
  }
}
