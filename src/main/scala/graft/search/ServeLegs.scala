package graft.search

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.index.{AnnIndex, IndexData, PqIndex}

/** The corpus-sized calls of a served request. [[ServeSearch.search]] runs
  * everything else (fusion, path rewrite, rerank, threshold, sort, limit)
  * driver-locally over their ≤2k-row results:
  *
  *  - `bm25TopK`: BM25 over the query's distinct terms, cut to `k` by
  *    (round6 score desc, doc_id); `restriction` (a doc_id frame: the
  *    phrase-/near-first positions probe) limits it to the matching docs;
  *  - `vectorTopK`: the exact, IVF, PQ or IVF×PQ vector leg by
  *    `ann` = (nprobe, PQ shortlist), cut to `k` by (round6 distance,
  *    doc_id);
  *  - `fetch`: the rows of `ids` (absent ids are simply missing), `cols`
  *    in order, keyed by doc_id;
  *  - `allowed`: the ids a positions probe keeps.
  *
  * [[SparkLegs]] runs each as bounded Spark jobs over the artifact's
  * frames; [[ServedIndex]] answers the first three from driver-resident
  * arrays. ServeLegsSpec pins the two equal call by call. */
trait ServeLegs {
  def bm25TopK(terms: Seq[String], k: Int, restriction: Option[DataFrame]): Seq[(String, Double)]
  def vectorTopK(qvec: Array[Float], k: Int, ann: (Int, Int)): Seq[(String, Double)]
  def fetch(ids: Seq[String], cols: Seq[String]): Map[String, Row]
  def allowed(ids: Seq[String], probe: DataFrame => DataFrame): Set[String]
}

/** The legs as bounded Spark jobs — what plain loads serve with
  * (disk-backed serving, one-shot `graft search`, the 100 TB posture):
  *
  *   - BM25: the pushed-In postings probe reads only the query's row
  *     groups, joined with the instance's memoized termdf rows and stats
  *     row ([[IndexData.localTermdf]], [[IndexData.localStats]]) — one job;
  *   - vector: the exact/IVF leg builders of [[HybridSearch]], one job; PQ
  *     collects the ADC shortlist ids (job 1) and exact-reranks them through
  *     a pushed `doc_id IN (…)` fetch (job 2), the same rows as the batch
  *     broadcast join;
  *   - fetch: a pushed `doc_id IN (…)` filter over the doc_id-clustered
  *     documents, one job;
  *   - allowed: the probe over the positions sidecar restricted to the
  *     candidate ids — each term leg a pruned probe of the term-clustered
  *     sidecar. */
final class SparkLegs(index: IndexData) extends ServeLegs {
  private val spark = index.documents.sparkSession
  import spark.implicits._

  def bm25TopK(terms: Seq[String], k: Int,
      restriction: Option[DataFrame]): Seq[(String, Double)] = {
    val scored = Bm25.scores(terms, index.postings, index.localTermdf(terms),
      index.localStats)
    // the same semi join the DAG path plans; both sides are probe-sized
    val leg = restriction.fold(scored)(r => scored.join(r, Seq("doc_id"), "left_semi"))
    Bm25.topK(leg, k).select(col("doc_id"), col("score")).as[(String, Double)].collect().toSeq
  }

  def vectorTopK(qvec: Array[Float], k: Int, ann: (Int, Int)): Seq[(String, Double)] = {
    val (nprobe, shortlist) = ann
    if (shortlist > 0) {
      val pq = ServeLegs.pqOf(index)
      val codes =
        if (nprobe > 0)
          pq.codes.filter(col("cluster").isin(ServeLegs.ivfPqOf(index, pq).probe(qvec, nprobe): _*))
        else pq.codes
      val shortIds = HybridSearch.adcShortlist(codes, pq, qvec, shortlist)
        .select("doc_id").as[String].collect().toSeq
      if (shortIds.isEmpty) Seq.empty
      else HybridSearch.exactRerankByIds(index.documents, shortIds, qvec, k)
        .select(col("doc_id"), col("vss_score")).as[(String, Double)].collect().toSeq
    } else {
      val leg =
        if (nprobe > 0) HybridSearch.vssTopKIvf(ServeLegs.annOf(index), qvec, k, nprobe)
        else HybridSearch.vssTopK(index.documents, qvec, k)
      leg.select(col("doc_id"), col("vss_score")).as[(String, Double)].collect().toSeq
    }
  }

  def fetch(ids: Seq[String], cols: Seq[String]): Map[String, Row] =
    index.documents.filter(col("doc_id").isin(ids: _*))
      .select(cols.map(col): _*)
      .collect().map(r => r.getString(0) -> r).toMap

  def allowed(ids: Seq[String], probe: DataFrame => DataFrame): Set[String] = {
    val pos = index.positions.getOrElse(sys.error("allowed needs the positions sidecar"))
    probe(pos.filter(col("doc_id").isin(ids: _*))).select("doc_id").collect()
      .map(r => String.valueOf(r.get(0))).toSet
  }
}

object ServeLegs {

  /** The legs that serve `index`: its driver-resident [[ServedIndex]] when
    * [[IndexData.cached]] built one, the Spark legs otherwise. */
  def of(index: IndexData): ServeLegs = index.served.getOrElse(new SparkLegs(index))

  private[search] def pqOf(index: IndexData): PqIndex = index.pq.getOrElse(sys.error(
    "--ann pq requires an index built with --pq-codes (no ann_pq_codebooks in artifact)"))

  private[search] def annOf(index: IndexData): AnnIndex = index.ann.getOrElse(sys.error(
    "--ann requires an index built with --ann-clusters (no ann_centroids in artifact)"))

  private[search] def ivfPqOf(index: IndexData, pq: PqIndex): AnnIndex = {
    val ann = index.ann.getOrElse(sys.error(
      "--ann ivf+pq requires an index built with --ann-clusters"))
    require(pq.codes.columns.contains("cluster"),
      "--ann ivf+pq needs an artifact whose PQ codes were built alongside the " +
        "IVF sidecar (cluster-partitioned ann_pq_codes); re-run index with " +
        "both --ann-clusters and --pq-codes")
    ann
  }
}
