package graft.search

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Okapi BM25 over explicit statistics tables.
  *
  * The reference delegates BM25 to DuckDB's FTS extension
  * (`match_bm25`, reference `src/searcher.py:112-120`; index built with
  * `stemmer='none', stopwords='none'`, reference `src/db.py:139-150`).
  * Spark has no inverted index, so the hidden aggregates are materialized at
  * index time as DataFrames (SURVEY.md §2.4 F1–F3) and the score is one
  * broadcast join + hash aggregate at query time (F4):
  *
  *   score(q,d) = Σ_{t∈q} idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))
  *   idf(t)     = ln((N − df + 0.5)/(df + 0.5) + 1)       (Okapi, DuckDB FTS)
  *   k1 = 1.2, b = 0.75                                    (DuckDB defaults)
  *
  * At 100 TB: `postings` is the large table, hash-partitioned by `term` at
  * index time; the query side is a ≤dozens-row broadcast, so scoring is a
  * map-side broadcast join + one partial/final hash aggregate over only the
  * matching postings — no full-corpus shuffle.
  */
object Bm25 {
  val K1 = 1.2
  val B = 0.75

  /** F1: per-document token count. Input needs (idCol, tokensCol). `carry`
    * columns ride along unchanged (the append-merge artifact carries
    * `file_path` on its stats rows so segment masking never needs a join
    * back to documents). */
  def docLengths(docs: DataFrame, idCol: String = "doc_id", tokensCol: String = "tokens",
      carry: Seq[String] = Nil): DataFrame =
    docs.select(col(idCol).as("doc_id") +: size(col(tokensCol)).cast("long").as("dl") +:
      carry.map(col): _*)

  /** Corpus constants as a 1-row DataFrame (kept lazy/broadcastable rather
    * than collected to the driver). avgdl = exact long sum / count, divided in
    * double — deterministic regardless of partitioning. */
  def corpusStats(doclen: DataFrame): DataFrame =
    doclen.agg(
      count("*").cast("long").as("n_docs"),
      (sum("dl").cast("double") / count("*").cast("double")).as("avgdl"))

  /** F2: term frequencies — the postings list. One shuffle (hash aggregate
    * with map-side partial combine). `carry` columns are functionally
    * determined by doc_id, so `first` under the (doc_id, term) group is
    * deterministic in value.
    *
    * `withDl = true` DENORMALIZES the document length into every posting
    * row (same `size(tokens)` expression as [[docLengths]], so the values
    * are bit-identical to a doclen join). A doc's dl never changes for the
    * life of its doc_id — content-addressed ids make (doc_id → dl) static
    * — so the column is append-safe under the segment/tombstone rules and
    * lets [[scores]] skip the per-request join against the corpus-sized
    * doclen table entirely: at 100 TB that join was the FTS leg's last
    * corpus-sized operation per request (the pushed-In postings probe is
    * row-group-pruned, but a join side cannot be). Costs ~one
    * dictionary-coded long per posting on disk. Artifact writes opt in;
    * the ad-hoc query surface keeps the lean (doc_id, term, tf) shape. */
  def postings(docs: DataFrame, idCol: String = "doc_id", tokensCol: String = "tokens",
      carry: Seq[String] = Nil, withDl: Boolean = false): DataFrame = {
    val dlIn = if (withDl) Seq(size(col(tokensCol)).cast("long").as("dl")) else Nil
    val dlOut = if (withDl) Seq(first(col("dl")).as("dl")) else Nil
    docs
      .select(col(idCol).as("doc_id") +: explode(col(tokensCol)).as("term") +:
        (dlIn ++ carry.map(col)): _*)
      .groupBy("doc_id", "term")
      .agg(count("*").cast("long").as("tf"),
        dlOut ++ carry.map(c => first(col(c)).as(c)): _*)
  }

  /** F2-positional: one row per token OCCURRENCE — (doc_id, term, pos),
    * pos 1-indexed (the engine's X3 convention). The same explode pipeline
    * as [[postings]] without the aggregate; written term-clustered +
    * term-sorted it is the positional index ("Lucene .prx" role) that turns
    * phrase adjacency into a pruned self-join instead of a corpus token
    * scan ([[PhraseSearch]]). Row count = Σ dl — bigger than postings by
    * the mean tf (~1–2× on natural text), the classic positional-index
    * price. `carry` as in [[postings]] (file_path for segment masking). */
  def positionalPostings(docs: DataFrame, idCol: String = "doc_id",
      tokensCol: String = "tokens", carry: Seq[String] = Nil): DataFrame =
    docs
      .select(col(idCol).as("doc_id") +: posexplode(col(tokensCol)).as(Seq("_p", "term")) +:
        carry.map(col): _*)
      .select(col("doc_id") +: col("term") +: (col("_p") + 1).cast("int").as("pos") +:
        carry.map(col): _*)

  /** F3: document frequency per term. `postings` is already distinct per
    * (doc_id, term), so a plain count suffices — no countDistinct shuffle. */
  def docFreq(postings: DataFrame): DataFrame =
    postings.groupBy("term").agg(count("*").cast("long").as("df"))

  /** Okapi idf as used by DuckDB FTS. All operands doubles. */
  def idf(df: Column, nDocs: Column): Column =
    log((nDocs.cast("double") - df.cast("double") + lit(0.5)) / (df.cast("double") + lit(0.5)) + lit(1.0))

  /** Per-(term,doc) BM25 contribution. */
  def termScore(tf: Column, df: Column, dl: Column, nDocs: Column, avgdl: Column): Column =
    idf(df, nDocs) *
      (tf.cast("double") * lit(K1 + 1.0)) /
      (tf.cast("double") + lit(K1) * (lit(1.0) - lit(B) + lit(B) * dl.cast("double") / avgdl))

  /** F4: BM25 scores of all documents matching ≥1 query term, over
    * dl-carrying postings ([[postings]] withDl, the artifact layout).
    * Output: (doc_id, score). Only distinct query terms contribute once each
    * (bag-of-words query, matching DuckDB FTS `match_bm25` semantics).
    *
    * The query-term restriction is an `isin` FILTER, not a join: a literal
    * IN-list pushes to the parquet scan as `PushedFilters: [In(term, …)]`,
    * and because the artifact writes postings term-clustered AND term-sorted
    * within files ([[graft.index.IndexData.write]]), parquet row-group
    * min/max stats prune the read to just the query's terms — the inverted-
    * index probe semantics of the reference (`src/db.py:143-150`: an FTS
    * probe touches only the query's posting lists), where a broadcast join
    * alone would still scan every postings byte. Pinned in
    * PlanRegressionSpec/SearchSpec. */
  def scores(
      queryTerms: Seq[String],
      postings: DataFrame,
      termdf: DataFrame,
      stats: DataFrame): DataFrame = {
    val spark = postings.sparkSession
    import spark.implicits._
    val terms = queryTerms.distinct
    // the postings carry dl ([[postings]] withDl), so the probe + broadcasts
    // are the leg's ONLY distributed work — row-group-pruned to the query's
    // terms, corpus-flat
    postings
      .filter(col("term").isin(terms: _*))
      .join(broadcast(termdf.filter(col("term").isin(terms: _*))), "term")
      .crossJoin(broadcast(stats))
      .groupBy("doc_id")
      .agg(sum(termScore($"tf", $"df", $"dl", $"n_docs", $"avgdl")).as("score"))
  }

  /** Self-contained scoring for ad-hoc corpora (no precomputed artifact):
    * derives df from the postings themselves with a window count instead of
    * a second aggregation branch — the explode+groupBy subtree runs ONCE
    * (the dual-branch plan recomputed it; see PLANS.md). Same values. */
  def scoresSelfContained(
      queryTerms: Seq[String],
      postings: DataFrame,
      doclen: DataFrame,
      stats: DataFrame): DataFrame = {
    val spark = postings.sparkSession
    import spark.implicits._
    val withDf = postings
      .filter(col("term").isin(queryTerms.distinct: _*))
      .withColumn("df", count("*").over(
        org.apache.spark.sql.expressions.Window.partitionBy("term")).cast("long"))
    withDf
      .join(doclen, "doc_id")
      .crossJoin(broadcast(stats))
      .groupBy("doc_id")
      .agg(sum(termScore($"tf", $"df", $"dl", $"n_docs", $"avgdl")).as("score"))
  }

  /** Top-k BM25 with deterministic doc_id tiebreak →
    * `TakeOrderedAndProject`, no full sort (SURVEY.md §2.6 O1).
    *
    * The cut orders on the ROUNDED score (engine-wide cut-line convention,
    * same as the VSS leg): the raw double is a partial-aggregation sum
    * whose last ULP depends on merge order, so a raw cut could admit a
    * different boundary doc across runs/partitionings. The emitted score
    * column stays RAW — only the admission ordering rounds. */
  def topK(scored: DataFrame, k: Int): DataFrame =
    scored.orderBy(round(col("score"), 6).desc, col("doc_id").asc).limit(k)
}
