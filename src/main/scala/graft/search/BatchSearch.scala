package graft.search

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.analyze.{Analyzer, DefaultAnalyzer}
import graft.embed.Embedder
import graft.index.IndexData
import graft.ops.Similarity

/** Bulk query evaluation: run MANY hybrid searches against the index in one
  * composed job — the offline/eval-set path the one-query-at-a-time
  * reference cannot express (`src/searcher.py:76` is request-at-a-time).
  *
  * Both legs stay batch-shaped:
  *  - FTS: all queries' terms form one small (qid, term) broadcast joined
  *    into postings once; per-(qid, doc) scores aggregate in one pass and
  *    rank per query with a window — corpus postings are scanned ONCE for
  *    the whole query set.
  *  - VSS: the query vectors drive one [[graft.plans.CosineKnnJoin]] —
  *    heap-pruned map-only pass over the corpus, again once for all queries.
  *
  * Fusion applies the reference scoring rule per (qid, doc).
  */
object BatchSearch {

  /** Max candidate rows (|queries| × 2k, the constructive bound) the
    * fat-batch fetch will broadcast; above it the fetch falls back to the
    * planner's shuffle join. 4M (qid, doc_id, 3×double) rows ≈ low hundreds
    * of MB broadcast-serialized — safely inside default driver/executor
    * budgets, far above any interactive batch. */
  val BroadcastCandidateRowCutoff: Long = 4000000L

  /** `rankRounding`: when ≥ 0, rank on scores rounded to that many decimals
    * (with id tiebreak) — reproducible eval-set ordering across runs and
    * engines; −1 ranks on raw scores. Note the VSS leg always ranks on
    * 6-decimal-rounded distance (the kNN operator's deterministic key), so
    * per-query parity with [[HybridSearch]] holds up to distance ties inside
    * 1e-6 at the k boundary. */
  /** `annNprobe` > 0 routes the VSS leg through the index's IVF sidecar
    * ([[graft.index.AnnIndex.probeSearchBatch]] — one probed-lists join for
    * the whole query set) instead of the exact kNN join; 0 = exact. */
  final case class Options(k: Int = 5, scoreThreshold: Double = 0.01,
      rankRounding: Int = -1, annNprobe: Int = 0)

  private def rankKey(opts: Options)(c: org.apache.spark.sql.Column) =
    if (opts.rankRounding >= 0) round(c, opts.rankRounding) else c

  /** The fused per-(qid, doc) candidate set — each leg cut to its per-query
    * top-k, fused by the reference scoring rule, but NOT yet thresholded or
    * cut to the final k. This is the set the rerank stage must see
    * (mirroring [[HybridSearch.search]], which reranks the full fused
    * candidate union and only thresholds the post-rerank score). */
  private def fusedCandidates(
      index: IndexData,
      queries: Seq[(String, String)],
      analyzer: Analyzer,
      embedder: Option[Embedder],
      opts: Options): DataFrame = {

    val spark = index.documents.sparkSession
    import spark.implicits._

    // ---- FTS leg: one broadcast of every query's terms ----
    val qterms = queries
      .flatMap { case (qid, text) => analyzer.tokenize(text).distinct.map(qid -> _) }
      .toDF("qid", "term")
    // For bounded term sets, ALSO apply the term restriction as a literal
    // isin FILTER under the joins (round 21): a broadcast join alone
    // cannot push a predicate below the postings source — on an artifact
    // that means scanning every postings byte, and on the ad-hoc path the
    // full-vocabulary tf aggregation shuffles Σ tokens rows to score a
    // handful of terms. The pushed In prunes the term-clustered artifact
    // to the queries' posting lists (the Bm25.scores serving posture) and
    // sinks below the ad-hoc tf aggregate (term is a grouping column).
    // Results are unchanged — the joins keep exactly these terms. Gated:
    // past ~hundreds of literals a pushed In degrades to a range filter
    // and bloats planning (the ServeSearch large-shortlist lesson), so a
    // big eval set keeps the join-only shape.
    val allTerms = queries.flatMap { case (_, t) => analyzer.tokenize(t) }.distinct
    val MaxPushedTerms = 256
    def termPruned(df: DataFrame): DataFrame =
      if (allTerms.nonEmpty && allTerms.size <= MaxPushedTerms)
        df.filter(col("term").isin(allTerms: _*))
      else df
    // restrict termdf to the query terms BEFORE broadcasting — the full
    // vocabulary df table is corpus-sized
    val qtermDf = termPruned(index.termdf)
      .join(broadcast(qterms.select("term").distinct()), "term")
    val perTermProbe = termPruned(index.postings)
      .join(broadcast(qterms), "term")
      .join(broadcast(qtermDf), "term")
    // dl-carrying postings: no corpus-sized doclen join, same as Bm25.scores
    val perTerm = perTermProbe.crossJoin(broadcast(index.stats))
    val ftsScores = perTerm
      .groupBy("qid", "doc_id")
      .agg(sum(Bm25.termScore($"tf", $"df", $"dl", $"n_docs", $"avgdl")).as("fts_score"))
    val wFts = Window.partitionBy($"qid").orderBy(rankKey(opts)($"fts_score").desc, $"doc_id".asc)
    val fts = ftsScores
      .withColumn("_r", row_number().over(wFts)).filter($"_r" <= opts.k).drop("_r")

    // ---- VSS leg: one kNN join over all query vectors ----
    val vss = embedder match {
      case Some(e) =>
        // one batched embed call for the whole query set (the Embedder
        // contract exists for exactly this amortization)
        val embedded = e.embed(queries.map(_._2))
        // zero-norm query embeddings carry no vss signal and yield NaN
        // cosines — drop those queries from the leg so they degrade to
        // BM25-only (the HybridSearch.search contract)
        val vecs = queries.zip(embedded)
          .filter { case (_, v) => v.exists(_ != 0.0f) }
          .map { case ((qid, _), v) => (qid, v.toSeq) }
          .toDF("qid", "qvec")
        if (opts.annNprobe > 0) {
          val ann = index.ann.getOrElse(sys.error(
            "annNprobe requires an index built with --ann-clusters"))
          ann.probeSearchBatch(vecs, "qid", "qvec", opts.annNprobe, opts.k)
            .select($"qid", $"doc_id", col("dist").as("vss_score"))
        } else Similarity.knnJoin(
          index.documents.filter($"embedding".isNotNull)
            .select($"doc_id", $"embedding"),
          "doc_id", "embedding", vecs, "qid", "qvec", opts.k, excludeSelf = false)
          .select($"qid", col("id").as("doc_id"), col("dist").as("vss_score"))
      case None =>
        Seq.empty[(String, String, Double)].toDF("qid", "doc_id", "vss_score")
    }

    // ---- fusion ----
    fts.join(vss, Seq("qid", "doc_id"), "full_outer")
      // zero-norm DOC embeddings → NaN distance → treat as "missed the
      // vss leg" (same guard as HybridSearch.search fusion)
      .withColumn("vss_score",
        when(isnan($"vss_score"), lit(null).cast("double"))
          .otherwise($"vss_score"))
      .withColumn("score", HybridSearch.hybridScore($"fts_score", $"vss_score"))
  }

  /** @param queries (qid, query text) pairs — qid must be unique.
    * @return (qid, doc_id, fts_score, vss_score, score, rank), rank 1..k
    *         per qid by descending hybrid score. */
  def searchBatch(
      index: IndexData,
      queries: Seq[(String, String)],
      analyzer: Analyzer = DefaultAnalyzer,
      embedder: Option[Embedder] = None,
      opts: Options = Options()): DataFrame = {
    val spark = index.documents.sparkSession
    import spark.implicits._
    val fused = fusedCandidates(index, queries, analyzer, embedder, opts)
      .filter($"score" > opts.scoreThreshold)
    val wRank = Window.partitionBy($"qid").orderBy(rankKey(opts)($"score").desc, $"doc_id".asc)
    fused
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .filter($"rank" <= opts.k)
  }

  /** Batch search + batched rerank: candidates of ALL queries rerank in one
    * `mapPartitions` pass (scores re-attached by (qid, doc_id), never by
    * position), then re-rank per query — the full eval pipeline.
    *
    * Parity with [[HybridSearch.search]]: the FULL fused candidate set (the
    * union of both per-query top-k legs, before any hybrid-score cut) feeds
    * the reranker, and `opts.scoreThreshold` applies to the RERANKED score
    * before the final per-query top-k — so a single query through either
    * surface returns the same documents. */
  def searchBatchReranked(
      index: IndexData,
      queries: Seq[(String, String)],
      reranker: graft.rerank.Reranker,
      analyzer: Analyzer = DefaultAnalyzer,
      embedder: Option[Embedder] = None,
      opts: Options = Options(),
      rerankBatchSize: Int = 8,
      rerankTruncate: Int = 2048): DataFrame = {
    val spark = index.documents.sparkSession
    import spark.implicits._
    val queryText = queries.toMap
    // materialize once (queries × ≤2k rows): the frame feeds BOTH sides of
    // the rerank join, and without the checkpoint the full eval pipeline
    // (postings scan + kNN over the corpus per query) executes twice
    val candidates = fusedCandidates(index, queries, analyzer, embedder, opts)
      .withColumnRenamed("score", "original_score")
      .localCheckpoint(true)
    // THE fat-batch candidate fetch (FatBatchFetchSpec pins this shape):
    // BROADCAST the candidate set — bounded at |queries| × (2k + shortlist)
    // (qid, doc_id, scores) rows BY CONSTRUCTION (each leg is top-k-cut
    // before fusion) — and STREAM the documents scan once for the whole
    // batch. The hint is load-bearing at scale: the checkpointed candidate
    // RDD carries no size stats, so past the auto-broadcast threshold the
    // planner chose a sort-merge join that SHUFFLES THE CORPUS-SIZED
    // documents table to fetch ≤2k rows per query (invisible at spec scale,
    // where documents itself sits under the threshold and broadcasts). The
    // serving path's pushed-In fetch is wrong here too: past ~200 ids the
    // In degrades to a range filter, and FetchProbe measured a k=500 fetch
    // touching 84.9% of a 5M-doc corpus's row groups — a fat batch reads
    // the corpus about once either way, and the broadcast join does it in
    // ONE clean pass with no shuffle.
    //
    // The hint is GATED on the constructive bound (round-15 ADVICE): an
    // eval set of hundreds of thousands of queries at large k exceeds
    // executor/driver broadcast memory, where the shuffle join degrades
    // gracefully instead of failing the job — past
    // [[BatchSearch.BroadcastCandidateRowCutoff]] candidate rows the plan
    // falls back to the planner's join (the corpus shuffles once for the
    // WHOLE batch — amortized across that many queries it is no longer the
    // pathology the hint exists to prevent).
    val estCandidateRows = queries.size.toLong * 2L * opts.k
    val candSide =
      if (estCandidateRows <= BroadcastCandidateRowCutoff) broadcast(candidates)
      else candidates
    val withText = candSide
      .join(index.documents.select($"doc_id", $"content"), Seq("doc_id"))
    val rrScores = withText
      .select($"qid", $"doc_id", substring($"content", 1, rerankTruncate).as("t"))
      .as[(String, String, String)]
      .mapPartitions { it =>
        it.grouped(rerankBatchSize).flatMap { g =>
          // one reranker call per (batch, query) group — queries inside a
          // batch are usually homogeneous after the per-qid candidate join
          g.groupBy(_._1).iterator.flatMap { case (qid, rows) =>
            // a failing batch degrades those rows to their pre-rerank
            // hybrid score (coalesce below) instead of failing the job —
            // same contract as HybridSearch.search
            val ss =
              try reranker.score(queryText(qid), rows.map(_._3)).map(Option(_))
              catch { case scala.util.control.NonFatal(_) => rows.map(_ => Option.empty[Double]) }
            rows.lazyZip(ss).map { (r, s) => (r._1, r._2, s) }
          }
        }
      }
      .toDF("qid", "doc_id", "score")
    // RAW reranked score, same as HybridSearch.search's final sort — a
    // rounded key here would pick a different k-th doc than the single-query
    // surface when reranked scores differ by <1e-6 at the cut line
    val wRank = Window.partitionBy($"qid").orderBy($"score".desc, $"doc_id".asc)
    candidates.join(rrScores, Seq("qid", "doc_id"))
      .withColumn("score", coalesce($"score", $"original_score"))
      .filter($"score" > opts.scoreThreshold)
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .filter($"rank" <= opts.k)
  }
}
