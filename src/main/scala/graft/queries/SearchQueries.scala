package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorOps
import graft.queries.Q.t
import graft.search.{Bm25, HybridSearch, PhraseSearch}

/** The search-engine surface over the testdata corpus: BM25 statistics
  * (F1–F4), vector distance + top-k (V1/V2), candidate union (U1), score
  * fusion (J2 + A4), deterministic rerank (T4 stand-in) and the end-to-end
  * no-rerank SEARCH pipeline (SURVEY.md §2.12).
  *
  * The corpus is `documents.parquet` tokenized by whitespace (tokens are
  * data — SURVEY.md §7.4) and `embeddings.parquet` keyed `vec_id == doc_id`.
  * The query is the fixed term list ("spark", "join", "merge"); the query
  * vector is the `vec_id = 0` embedding, so the oracle sees identical inputs.
  */
object SearchQueries {

  private val queryTerms = Seq("spark", "join", "merge")
  private val queryTermsSql = "['spark', 'join', 'merge']"
  /** A natural-language-width query: 12 distinct in-vocabulary terms —
    * deliberately past Spark's default parquet In-pushdown threshold of 10
    * (`spark.sql.parquet.pushdown.inFilterThreshold`), where the pushed
    * `In(term,…)` filter silently degrades to a min/max RANGE filter and a
    * term-sorted postings file loses its row-group pruning. Every engine
    * session raises the threshold to 1000 ([[graft.GraftSession]]); this
    * query pins the >10-term SCORING semantics cross-engine,
    * SessionConfSpec pins the pruning cliff by rows-read, and PLANS.md
    * round-12 carries the corpus-scale evidence. */
  private val longQueryTerms = Seq("spark", "join", "merge", "window",
    "batch", "stream", "customer", "order", "value", "scan", "filter", "hash")
  private val longQueryTermsSql = longQueryTerms.mkString("['", "', '", "']")
  private val K = 10

  /** documents with a real `tokens` array column. */
  private def docs(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents").select(col("doc_id"), split(col("text"), " ").as("tokens"))

  /** BM25 top-K leg with the cut line on the ROUNDED score (both engines
    * agree on the boundary — see [[Q]] determinism rules). */
  private def ftsLeg(s: SparkSession, d: String): DataFrame = {
    val dd = docs(s, d)
    val doclen = Bm25.docLengths(dd)
    Bm25.scoresSelfContained(queryTerms, Bm25.postings(dd), doclen, Bm25.corpusStats(doclen))
      .orderBy(round(col("score"), 6).desc, col("doc_id").asc)
      .limit(K)
      .withColumnRenamed("score", "fts_score")
  }

  /** Cosine-distance leg: embeddings as doc vectors, query vector = vec 0.
    * The `isNotNull` guard (a no-op on this data) puts an `IsNotNull`
    * constraint in the plan so [[graft.plans.AnnTopKRewrite]] can prove the
    * top-k rewrite safe. */
  private def vssAll(s: SparkSession, d: String): DataFrame = {
    val e = t(s, d, "embeddings")
      .filter(col("embedding").isNotNull && col("vec_id").isNotNull)
    val qv = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    e.crossJoin(broadcast(qv))
      .select(col("vec_id").as("doc_id"),
        VectorOps.cosineDist(col("embedding"), col("qv")).as("vss_score"))
  }

  private def vssLeg(s: SparkSession, d: String): DataFrame =
    vssAll(s, d)
      .orderBy(round(col("vss_score"), 6).asc, col("doc_id").asc)
      .limit(K)

  /** J2 full-outer fusion of the two top-K lists (NOT the corpus —
    * SURVEY.md §4.3 candidate-set semantics) + A4 hybrid score. */
  private def fused(s: SparkSession, d: String): DataFrame =
    ftsLeg(s, d).join(vssLeg(s, d), Seq("doc_id"), "full_outer")
      .withColumn("score", HybridSearch.hybridScore(col("fts_score"), col("vss_score")))

  private val fusedCtes: String =
    Q.bm25Ctes + ", " + Q.bm25ScoresCte(queryTermsSql) + ", " +
      s"fts AS (SELECT doc_id, score AS fts_score FROM scores ORDER BY round(score, 6) DESC, doc_id LIMIT $K), " +
      "qvt AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0), " +
      s"vd AS (SELECT vec_id AS doc_id, ${Q.cosineDistSql("embedding", "qv")} AS vss_score FROM embeddings CROSS JOIN qvt), " +
      s"vss AS (SELECT doc_id, vss_score FROM vd ORDER BY round(vss_score, 6) ASC, doc_id LIMIT $K), " +
      "fused AS (SELECT COALESCE(fts.doc_id, vss.doc_id) AS doc_id, fts_score, vss_score, " +
      "CASE WHEN fts_score IS NOT NULL AND vss_score IS NOT NULL THEN (fts_score + vss_score) / 2.0 " +
      "WHEN fts_score IS NOT NULL THEN fts_score * 0.8 " +
      "WHEN vss_score IS NOT NULL THEN vss_score * 0.8 ELSE 0.0 END AS score " +
      "FROM fts FULL OUTER JOIN vss ON fts.doc_id = vss.doc_id)"

  val all: Seq[Q] = Seq(

    // Phrase (adjacency) match — the positional-search capability plain
    // bag-of-words BM25 can't express: docs where "table value" occurs as
    // ADJACENT tokens, with the occurrence count. Pure per-row
    // higher-order functions over the tokens array (filter over an index
    // sequence) — map-only, codegen-friendly, zero shuffles before the
    // presentation sort. At 100 TB this is the scan-speed pre-filter in
    // front of a positional ranker; a posting-list formulation would add
    // a position column to the postings build, same stats pipeline.
    Q("q_phrase_match",
      (s, d) => docs(s, d).filter(size(col("tokens")) >= 2)
        .select(col("doc_id"),
          // round 21: codegen'd adjacency kernel — the
          // filter-over-sequence HOF evaluated two element_at probes per
          // position in interpreted lambdas; same counts
          // (KernelExpressionsSpec pins kernel ≡ HOF per corpus row)
          org.apache.spark.sql.graftbridge.ColumnBridge.column(
            graft.functions.AdjacentPairCount(
              org.apache.spark.sql.graftbridge.ColumnBridge.expression(col("tokens")),
              "table", "value")).as("n_matches"))
        .filter(col("n_matches") > 0)
        .orderBy("doc_id"),
      Some(s"WITH ${Q.toksCte}, " +
        "m AS (SELECT doc_id, CAST(len(list_filter(generate_series(1, len(toks) - 1), " +
        "i -> toks[i] = 'table' AND toks[i + 1] = 'value')) AS BIGINT) AS n_matches " +
        "FROM toks WHERE len(toks) >= 2) " +
        "SELECT doc_id, n_matches FROM m WHERE n_matches > 0 ORDER BY doc_id")),

    // The SAME phrase via positional postings (round-15 directive #3): the
    // index path — per-occurrence (doc_id, term, pos) rows, adjacency as a
    // self-join on (doc_id, pos+1) restricted to the phrase's terms. On an
    // artifact the positions table is persisted term-clustered and each
    // leg's pushed `term = 'x'` prunes to that term's occurrence list
    // (df-proportional reads — PhrasePostingsSpec pins rows-read); the
    // token-scan formulation above stays as the batch pre-filter. Results
    // must be IDENTICAL to q_phrase_match (same oracle output shape).
    Q("q_phrase_postings",
      (s, d) => PhraseSearch.phraseMatches(
          Bm25.positionalPostings(docs(s, d)), Seq("table", "value"))
        .orderBy("doc_id"),
      Some(s"WITH ${Q.toksCte}, " +
        "p AS (SELECT doc_id, unnest(toks) AS term, " +
        "unnest(generate_series(1, len(toks))) AS pos FROM toks), " +
        "m AS (SELECT p0.doc_id, CAST(count(*) AS BIGINT) AS n_matches " +
        "FROM p p0 JOIN p p1 ON p1.doc_id = p0.doc_id AND p1.pos = p0.pos + 1 " +
        "WHERE p0.term = 'table' AND p1.term = 'value' GROUP BY p0.doc_id) " +
        "SELECT doc_id, n_matches FROM m ORDER BY doc_id")),

    // Ordered PROXIMITY (sloppy phrase): "table … value" within 4 token
    // positions, pair counts — the co-occurrence-window operator training
    // pipelines mine for collocations. Same pruned positional probes as
    // the phrase; the range condition runs as a bucketed equi-join (hash
    // join on (doc_id, window bucket) + residual), never a per-document
    // all-pairs or a broadcast-nested-loop range join.
    Q("q_proximity_match",
      (s, d) => PhraseSearch.proximityMatches(
          Bm25.positionalPostings(docs(s, d)), "table", "value", window = 4)
        .orderBy("doc_id"),
      Some(s"WITH ${Q.toksCte}, " +
        "p AS (SELECT doc_id, unnest(toks) AS term, " +
        "unnest(generate_series(1, len(toks))) AS pos FROM toks), " +
        "m AS (SELECT a.doc_id, CAST(count(*) AS BIGINT) AS n_pairs " +
        "FROM p a JOIN p b ON b.doc_id = a.doc_id " +
        "AND b.pos > a.pos AND b.pos - a.pos <= 4 " +
        "WHERE a.term = 'table' AND b.term = 'value' GROUP BY a.doc_id) " +
        "SELECT doc_id, n_pairs FROM m ORDER BY doc_id")),

    // UNORDERED proximity (round-16 directive #3): co-occurrence-window
    // mining — the skip-gram/PMI input shape of a training pipeline. Same
    // bucketed equi-join discipline (each right-leg row emits 3 window
    // buckets, residual |Δpos| ≤ w); reads stay pruned term probes.
    Q("q_proximity_unordered",
      (s, d) => PhraseSearch.proximityMatchesUnordered(
          Bm25.positionalPostings(docs(s, d)), "table", "value", window = 3)
        .orderBy("doc_id"),
      Some(s"WITH ${Q.toksCte}, " +
        "p AS (SELECT doc_id, unnest(toks) AS term, " +
        "unnest(generate_series(1, len(toks))) AS pos FROM toks), " +
        "m AS (SELECT a.doc_id, CAST(count(*) AS BIGINT) AS n_pairs " +
        "FROM p a JOIN p b ON b.doc_id = a.doc_id " +
        "AND abs(b.pos - a.pos) <= 3 " +
        "WHERE a.term = 'table' AND b.term = 'value' GROUP BY a.doc_id) " +
        "SELECT doc_id, n_pairs FROM m ORDER BY doc_id")),

    // N-term SLOPPY PHRASE (round-16 directive #3): all three terms in
    // order inside a ≤6-position span (the Lucene slop shape). Chained
    // bucketed probes — every leg joins on (doc_id, anchor bucket), the
    // in-order + span residuals prune at each hop; never per-doc
    // all-pairs, never a nested-loop range join.
    Q("q_proximity_nterm",
      (s, d) => PhraseSearch.sloppyPhraseMatches(
          Bm25.positionalPostings(docs(s, d)), Seq("key", "row", "scan"), window = 6)
        .orderBy("doc_id"),
      Some(s"WITH ${Q.toksCte}, " +
        "p AS (SELECT doc_id, unnest(toks) AS term, " +
        "unnest(generate_series(1, len(toks))) AS pos FROM toks), " +
        "m AS (SELECT p0.doc_id, CAST(count(*) AS BIGINT) AS n_matches " +
        "FROM p p0 JOIN p p1 ON p1.doc_id = p0.doc_id " +
        "JOIN p p2 ON p2.doc_id = p0.doc_id " +
        "WHERE p0.term = 'key' AND p1.term = 'row' AND p2.term = 'scan' " +
        "AND p1.pos > p0.pos AND p2.pos > p1.pos AND p2.pos - p0.pos <= 6 " +
        "GROUP BY p0.doc_id) " +
        "SELECT doc_id, n_matches FROM m ORDER BY doc_id")),

    // CORPUS-WIDE collocation mining with PMI (round-17): ordered pairs
    // within a 2-token window counted over the whole corpus, count ≥ 5,
    // pmi = ln(n_ab·T/(n_a·n_b)). Pair formation is one equi-join on
    // (doc_id, pos) over an O(Σdl·window) explode — never per-doc
    // all-pairs; the count floor cuts the tail before the dictionary
    // joins. The skip-gram/PMI statistic of a feature pipeline, as a
    // first-class operator over the positions sidecar.
    Q("q_colloc_pmi",
      (s, d) => PhraseSearch.collocationsFromTokens(
          docs(s, d), window = 2, minCount = 5)
        .select(col("term_a"), col("term_b"), col("n_ab"),
          Q.r6(col("pmi")).as("pmi"))
        .orderBy("term_a", "term_b"),
      Some(s"WITH ${Q.toksCte}, " +
        "p AS (SELECT doc_id, unnest(toks) AS term, " +
        "unnest(generate_series(1, len(toks))) AS pos FROM toks), " +
        "pairs AS (SELECT a.term AS term_a, b.term AS term_b, " +
        "CAST(count(*) AS BIGINT) AS n_ab FROM p a JOIN p b " +
        "ON b.doc_id = a.doc_id AND b.pos > a.pos AND b.pos <= a.pos + 2 " +
        "GROUP BY 1, 2 HAVING count(*) >= 5), " +
        "uni AS (SELECT term, CAST(count(*) AS DOUBLE) AS n FROM p GROUP BY 1), " +
        "tot AS (SELECT sum(n) AS t FROM uni) " +
        "SELECT term_a, term_b, n_ab, " +
        s"${Q.r6Sql("ln(n_ab * t / (ua.n * ub.n))")} AS pmi " +
        "FROM pairs JOIN uni ua ON ua.term = pairs.term_a " +
        "JOIN uni ub ON ub.term = pairs.term_b CROSS JOIN tot " +
        "ORDER BY term_a, term_b")),

    // Phrase-RANKED retrieval: the capability the positional index unlocks
    // — phrase matching as a RETRIEVAL predicate (corpus-wide, via the
    // pruned positions probe) composed with BM25 ranking over the phrase's
    // terms, top-10. Neither the reference (bag-of-words FTS) nor the
    // scan-filter formulation expresses this as an index path: here both
    // legs are df-proportional probes, so the whole query is corpus-flat.
    Q("q_phrase_ranked",
      (s, d) => {
        val dd = docs(s, d)
        val phrase = Seq("table", "value")
        val doclen = Bm25.docLengths(dd)
        val scored = Bm25.scoresSelfContained(
          phrase, Bm25.postings(dd), doclen, Bm25.corpusStats(doclen))
        PhraseSearch.phraseMatches(Bm25.positionalPostings(dd), phrase)
          .join(scored, Seq("doc_id"))
          .select(col("doc_id"), col("n_matches"), round(col("score"), 6).as("score"))
          .orderBy(col("score").desc, col("doc_id").asc)
          .limit(10)
      },
      Some(s"WITH ${Q.bm25Ctes}, ${Q.bm25ScoresCte("['table', 'value']")}, " +
        "p AS (SELECT doc_id, unnest(toks) AS term, " +
        "unnest(generate_series(1, len(toks))) AS pos FROM toks), " +
        "m AS (SELECT p0.doc_id, CAST(count(*) AS BIGINT) AS n_matches " +
        "FROM p p0 JOIN p p1 ON p1.doc_id = p0.doc_id AND p1.pos = p0.pos + 1 " +
        "WHERE p0.term = 'table' AND p1.term = 'value' GROUP BY p0.doc_id) " +
        "SELECT m.doc_id, m.n_matches, round(scores.score, 6) AS score " +
        "FROM m JOIN scores ON m.doc_id = scores.doc_id " +
        "ORDER BY round(scores.score, 6) DESC, m.doc_id LIMIT 10")),

    // F1: document lengths
    Q("q_f1_doclen",
      (s, d) => Bm25.docLengths(docs(s, d)).orderBy("doc_id"),
      Some(s"WITH ${Q.toksCte}, ${Q.doclenCte} SELECT doc_id, dl FROM doclen ORDER BY doc_id")),

    // F1b: corpus constants (n_docs, avgdl) — exact sum/count division
    Q("q_f1_corpus_stats",
      (s, d) => Bm25.corpusStats(Bm25.docLengths(docs(s, d)))
        .select(col("n_docs"), round(col("avgdl"), 6).as("avgdl")),
      Some(s"WITH ${Q.toksCte}, ${Q.doclenCte}, ${Q.statsCte} " +
        "SELECT n_docs, round(avgdl, 6) AS avgdl FROM stats")),

    // F2: term frequencies (postings). Bounded to doc_id < 200 to keep the
    // compared artifact small; the full postings build is exercised by every
    // BM25 query below.
    Q("q_f2_term_freq",
      (s, d) => Bm25.postings(docs(s, d)).filter(col("doc_id") < 200)
        .orderBy("doc_id", "term"),
      Some(s"WITH ${Q.toksCte}, ${Q.postingCte}, ${Q.tfCte} " +
        "SELECT doc_id, term, tf FROM tf WHERE doc_id < 200 ORDER BY doc_id, term")),

    // F3: document frequencies
    Q("q_f3_doc_freq",
      (s, d) => Bm25.docFreq(Bm25.postings(docs(s, d))).orderBy("term"),
      Some(s"WITH ${Q.toksCte}, ${Q.postingCte}, ${Q.tfCte}, ${Q.dfCte} " +
        "SELECT term, df FROM tdf ORDER BY term")),

    // F4 + O1: BM25 scoring, top-20
    Q("q_f4_bm25_topk",
      (s, d) => {
        val dd = docs(s, d)
        val doclen = Bm25.docLengths(dd)
        Bm25.scoresSelfContained(queryTerms, Bm25.postings(dd), doclen, Bm25.corpusStats(doclen))
          .select(col("doc_id"), round(col("score"), 6).as("score"))
          .orderBy(col("score").desc, col("doc_id").asc)
          .limit(20)
      },
      Some(s"WITH ${Q.bm25Ctes}, ${Q.bm25ScoresCte(queryTermsSql)} " +
        "SELECT doc_id, round(score, 6) AS score FROM scores " +
        "ORDER BY round(score, 6) DESC, doc_id LIMIT 20")),

    // F4 at natural-language query width: 12 distinct terms (see
    // [[longQueryTerms]] — past the default parquet In-pushdown threshold).
    Q("q_f4_bm25_longquery",
      (s, d) => {
        val dd = docs(s, d)
        val doclen = Bm25.docLengths(dd)
        Bm25.scoresSelfContained(longQueryTerms, Bm25.postings(dd), doclen,
            Bm25.corpusStats(doclen))
          .select(col("doc_id"), round(col("score"), 6).as("score"))
          .orderBy(col("score").desc, col("doc_id").asc)
          .limit(20)
      },
      Some(s"WITH ${Q.bm25Ctes}, ${Q.bm25ScoresCte(longQueryTermsSql)} " +
        "SELECT doc_id, round(score, 6) AS score FROM scores " +
        "ORDER BY round(score, 6) DESC, doc_id LIMIT 20")),

    // V1: cosine distance of every vector against the query vector.
    // Q.r6 (round + 0.0) canonicalizes the self-distance row's -0.0.
    Q("q_v1_cosine_dist",
      (s, d) => vssAll(s, d)
        .select(col("doc_id").as("vec_id"), Q.r6(col("vss_score")).as("dist"))
        .orderBy("vec_id"),
      Some("WITH qvt AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) " +
        s"SELECT vec_id, ${Q.r6Sql(Q.cosineDistSql("embedding", "qv"))} AS dist " +
        "FROM embeddings CROSS JOIN qvt ORDER BY vec_id")),

    // V2 + O2: exact brute-force nearest-neighbor top-K (the HNSW replacement)
    Q("q_v2_knn",
      (s, d) => vssLeg(s, d)
        .select(col("doc_id").as("vec_id"), Q.r6(col("vss_score")).as("dist"))
        .orderBy(col("dist").asc, col("vec_id").asc),
      Some("WITH qvt AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0), " +
        s"vd AS (SELECT vec_id, ${Q.cosineDistSql("embedding", "qv")} AS dist FROM embeddings CROSS JOIN qvt) " +
        s"SELECT vec_id, ${Q.r6Sql("dist")} AS dist FROM vd ORDER BY round(dist, 6) ASC, vec_id LIMIT $K")),

    // U1: union + dedup of the two candidate-id lists (reference `src/searcher.py:152-166`)
    Q("q_u1_candidate_union",
      (s, d) => ftsLeg(s, d).select("doc_id")
        .union(vssLeg(s, d).select("doc_id"))
        .distinct().orderBy("doc_id"),
      Some(s"WITH $fusedCtes SELECT DISTINCT doc_id FROM " +
        "(SELECT doc_id FROM fts UNION ALL SELECT doc_id FROM vss) ORDER BY doc_id")),

    // U2/U3: intersection and difference of the candidate-id lists
    Q("q_u2_candidate_intersect",
      (s, d) => ftsLeg(s, d).select("doc_id")
        .intersect(vssLeg(s, d).select("doc_id"))
        .orderBy("doc_id"),
      Some(s"WITH $fusedCtes SELECT doc_id FROM fts " +
        "INTERSECT SELECT doc_id FROM vss ORDER BY doc_id")),

    Q("q_u3_candidate_except",
      (s, d) => ftsLeg(s, d).select("doc_id")
        .except(vssLeg(s, d).select("doc_id"))
        .orderBy("doc_id"),
      Some(s"WITH $fusedCtes SELECT doc_id FROM fts " +
        "EXCEPT SELECT doc_id FROM vss ORDER BY doc_id")),

    // J2 + A4: fused hybrid scores over the candidate union
    Q("q_a4_hybrid_fusion",
      (s, d) => fused(s, d)
        .select(col("doc_id"), Q.r6(col("fts_score")).as("fts_score"),
          Q.r6(col("vss_score")).as("vss_score"), Q.r6(col("score")).as("score"))
        .orderBy(round(col("score"), 6).desc, col("doc_id").asc),
      Some(s"WITH $fusedCtes " +
        s"SELECT doc_id, ${Q.r6Sql("fts_score")} AS fts_score, ${Q.r6Sql("vss_score")} AS vss_score, " +
        s"${Q.r6Sql("score")} AS score FROM fused ORDER BY round(score, 6) DESC, doc_id")),

    // Reciprocal-rank fusion (`--fusion rrf`): the rank-based alternative
    // to A4's score averaging — Σ 1/(60 + leg rank), so BM25 magnitudes
    // and cosine distances never meet on one axis. Ranks cut on ROUNDED
    // leg scores with id tiebreaks (the Q convention), making the fused
    // score bit-deterministic cross-engine; a missing leg contributes 0.
    Q("q_fusion_rrf",
      (s, d) => {
        val wF = Window.orderBy(round(col("fts_score"), 6).desc, col("doc_id").asc)
        val wV = Window.orderBy(round(col("vss_score"), 6).asc, col("doc_id").asc)
        val fr = ftsLeg(s, d)
          .withColumn("fts_rank", row_number().over(wF).cast("long"))
          .select("doc_id", "fts_rank")
        val vr = vssLeg(s, d)
          .withColumn("vss_rank", row_number().over(wV).cast("long"))
          .select("doc_id", "vss_rank")
        fr.join(vr, Seq("doc_id"), "full_outer")
          .select(col("doc_id"), col("fts_rank"), col("vss_rank"),
            Q.r6(HybridSearch.rrfScore(col("fts_rank"), col("vss_rank"))).as("score"))
          .orderBy(round(col("score"), 6).desc, col("doc_id").asc)
      },
      Some(s"WITH $fusedCtes, " +
        "fr AS (SELECT doc_id, CAST(row_number() OVER " +
        "(ORDER BY round(fts_score, 6) DESC, doc_id) AS BIGINT) AS fts_rank FROM fts), " +
        "vr AS (SELECT doc_id, CAST(row_number() OVER " +
        "(ORDER BY round(vss_score, 6) ASC, doc_id) AS BIGINT) AS vss_rank FROM vss), " +
        "j AS (SELECT COALESCE(fr.doc_id, vr.doc_id) AS doc_id, fts_rank, vss_rank " +
        "FROM fr FULL OUTER JOIN vr ON fr.doc_id = vr.doc_id) " +
        "SELECT doc_id, fts_rank, vss_rank, " +
        s"${Q.r6Sql("COALESCE(1.0 / (60 + fts_rank), 0.0) + COALESCE(1.0 / (60 + vss_rank), 0.0)")} AS score " +
        "FROM j ORDER BY round(score, 6) DESC, doc_id")),

    // Search-hit snippet extraction — the serving-layer feature the
    // reference approximates with its 200-char preview (X10): for each
    // BM25 top-10 hit, the first matching query term (query-order
    // precedence), its 1-based character offset, and an ±40-char window
    // around the match with the term [bracket]-highlighted. Pure string
    // expressions over the ≤10 fused candidates — map-only, scale-free;
    // `instr`/`substr` are 1-based with identical semantics in both
    // engines.
    Q("q_search_snippets",
      (s, d) => {
        // the kernel itself lives in graft.search.Snippets — the serving
        // surfaces' --snippets projection runs the SAME expressions over
        // their ≤k hit rows (round-18 directive #3), so this oracle check
        // covers both
        graft.search.Snippets.project(
            t(s, d, "documents").select(col("doc_id"), col("text"))
              .join(broadcast(ftsLeg(s, d).select("doc_id")), Seq("doc_id")),
            col("text"), queryTerms)
          .select("doc_id", "term", "off", "snippet", "highlighted")
          .orderBy("doc_id")
      },
      Some(s"WITH ${Q.bm25Ctes}, ${Q.bm25ScoresCte(queryTermsSql)}, " +
        s"ftop AS (SELECT doc_id FROM scores ORDER BY round(score, 6) DESC, doc_id LIMIT $K), " +
        "m AS (SELECT d.doc_id, d.text, " +
        "CASE WHEN instr(d.text, 'spark') > 0 THEN 'spark' " +
        "WHEN instr(d.text, 'join') > 0 THEN 'join' " +
        "WHEN instr(d.text, 'merge') > 0 THEN 'merge' END AS term " +
        "FROM documents d JOIN ftop USING (doc_id)), " +
        "o AS (SELECT doc_id, text, term, CAST(instr(text, term) AS BIGINT) AS off FROM m), " +
        "sn AS (SELECT doc_id, term, off, substr(text, CAST(greatest(1, off - 40) AS INT), 100) AS snippet FROM o) " +
        "SELECT doc_id, term, off, snippet, " +
        // LITERAL all-occurrence replace, matching the kernel (a regex
        // pattern would throw on metacharacter terms at serving time)
        "replace(snippet, term, '[' || term || ']') AS highlighted " +
        "FROM sn ORDER BY doc_id")),

    // O6: stable merge order — FTS hits (by BM25 rank) before VSS-only hits
    // (reference `src/searcher.py:152-166`)
    Q("q_o6_merge_order",
      (s, d) => {
        val f = fused(s, d)
          .withColumn("k1", when(col("fts_score").isNotNull, 0).otherwise(1))
          .withColumn("k2", when(col("fts_score").isNotNull, -round(col("fts_score"), 6))
            .otherwise(round(col("vss_score"), 6)))
        // unpartitioned window, on purpose: the fused candidate set is
        // bounded (≤ ftsK + vssK rows) by construction, so the single-
        // partition rank is over ~2k rows, never the corpus. Spark logs its
        // "No Partition Defined" warning here — accepted and documented in
        // PLANS.md (a constant partition key doesn't silence it either:
        // EliminateWindowPartitions strips foldable keys).
        f.withColumn("rank", row_number().over(
            Window.orderBy(col("k1").asc, col("k2").asc, col("doc_id").asc)).cast("long"))
          .select("doc_id", "rank").orderBy("rank")
      },
      Some(s"WITH $fusedCtes " +
        "SELECT doc_id, CAST(row_number() OVER (ORDER BY " +
        "CASE WHEN fts_score IS NOT NULL THEN 0 ELSE 1 END, " +
        "CASE WHEN fts_score IS NOT NULL THEN -round(fts_score, 6) ELSE round(vss_score, 6) END, " +
        "doc_id) AS BIGINT) AS rank FROM fused ORDER BY rank")),

    // T4 stand-in: deterministic token-overlap rerank of the fused candidates
    // |Q∩D| / sqrt(|Q|·|D|) over distinct tokens (graft.rerank.TokenOverlapReranker)
    Q("q_t4_rerank_overlap",
      (s, d) => {
        val dd = docs(s, d).withColumn("dtoks", array_distinct(col("tokens")))
        fused(s, d).join(dd, Seq("doc_id"))
          .withColumn("overlap",
            size(array_intersect(col("dtoks"), lit(queryTerms.toArray))).cast("double"))
          .select(col("doc_id"),
            round(col("overlap") /
              sqrt(lit(3.0) * size(col("dtoks")).cast("double")), 6).as("rerank_score"))
          .orderBy(round(col("rerank_score"), 6).desc, col("doc_id").asc)
      },
      Some(s"WITH $fusedCtes, dt AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS dtoks FROM documents) " +
        "SELECT fused.doc_id, round(CAST(len(list_filter(dtoks, t -> t IN ('spark', 'join', 'merge'))) AS DOUBLE) " +
        "/ sqrt(3.0 * CAST(len(dtoks) AS DOUBLE)), 6) AS rerank_score " +
        "FROM fused JOIN dt ON fused.doc_id = dt.doc_id " +
        "ORDER BY rerank_score DESC, fused.doc_id")),

    // Bulk query evaluation: three hybrid searches in ONE job (BatchSearch)
    // — one postings scan and one kNN pass for the whole query set; the
    // oracle replicates the per-qid BM25 + cosine + fusion pipeline.
    Q("q_batch_search",
      (s, d) => {
        import s.implicits._
        val dd = t(s, d, "documents")
        val emb = t(s, d, "embeddings")
          .select(col("vec_id").cast("string").as("doc_id"), col("embedding"))
        val index = graft.index.IndexJob.fromTable(
          dd, "doc_id", "text", df => split(df("text"), " "), embeddings = Some(emb))
        val texts = Seq("0" -> "spark join merge", "1" -> "window batch stream",
          "2" -> "customer order value")
        val qvecs = t(s, d, "embeddings").filter(col("vec_id") < 3)
          .select(col("vec_id").cast("string"), col("embedding"))
          .as[(String, Array[Float])].collect().toMap
        val lookup = new graft.embed.LookupEmbedder(
          texts.map { case (qid, text) => text -> qvecs(qid) }.toMap)
        graft.search.BatchSearch.searchBatch(index, texts,
          analyzer = graft.analyze.WhitespaceAnalyzer,
          embedder = Some(lookup),
          opts = graft.search.BatchSearch.Options(k = 5, rankRounding = 6))
          .select(col("qid"), col("doc_id"), round(col("score"), 6).as("score"), col("rank"))
          .orderBy("qid", "rank")
      },
      Some {
        val toksStr =
          "toks AS (SELECT CAST(doc_id AS VARCHAR) AS doc_id, string_split(text, ' ') AS toks FROM documents)"
        val qt = "(VALUES ('0','spark'),('0','join'),('0','merge')," +
          "('1','window'),('1','batch'),('1','stream')," +
          "('2','customer'),('2','order'),('2','value')) AS qt(qid, term)"
        s"WITH $toksStr, ${Q.doclenCte}, ${Q.statsCte}, ${Q.postingCte}, ${Q.tfCte}, ${Q.dfCte}, " +
          s"qscores AS (SELECT qid, tf.doc_id, sum(${Q.bm25TermSql}) AS fts_score " +
          s"FROM tf JOIN $qt USING (term) JOIN tdf USING (term) " +
          "JOIN doclen ON tf.doc_id = doclen.doc_id CROSS JOIN stats GROUP BY qid, tf.doc_id), " +
          "ftop AS (SELECT qid, doc_id, fts_score FROM (SELECT *, row_number() OVER " +
          "(PARTITION BY qid ORDER BY round(fts_score, 6) DESC, doc_id) AS rn FROM qscores) WHERE rn <= 5), " +
          "qvt AS (SELECT CAST(vec_id AS VARCHAR) AS qid, embedding AS qvec FROM embeddings WHERE vec_id < 3), " +
          s"vd AS (SELECT qid, CAST(e.vec_id AS VARCHAR) AS doc_id, ${Q.cosineDistSql("e.embedding", "qvec")} AS vss_score " +
          "FROM embeddings e CROSS JOIN qvt), " +
          "vtop AS (SELECT qid, doc_id, vss_score FROM (SELECT *, row_number() OVER " +
          "(PARTITION BY qid ORDER BY round(vss_score, 6), doc_id) AS rn FROM vd) WHERE rn <= 5), " +
          "fused AS (SELECT COALESCE(f.qid, v.qid) AS qid, COALESCE(f.doc_id, v.doc_id) AS doc_id, " +
          "CASE WHEN fts_score IS NOT NULL AND vss_score IS NOT NULL THEN (fts_score + vss_score) / 2.0 " +
          "WHEN fts_score IS NOT NULL THEN fts_score * 0.8 " +
          "WHEN vss_score IS NOT NULL THEN vss_score * 0.8 ELSE 0.0 END AS score " +
          "FROM ftop f FULL OUTER JOIN vtop v ON f.qid = v.qid AND f.doc_id = v.doc_id) " +
          "SELECT qid, doc_id, round(score, 6) AS score, rank FROM " +
          "(SELECT qid, doc_id, score, CAST(row_number() OVER " +
          "(PARTITION BY qid ORDER BY round(score, 6) DESC, doc_id) AS BIGINT) AS rank " +
          "FROM fused WHERE score > 0.01) WHERE rank <= 5 ORDER BY qid, rank"
      }),

    // End-to-end SEARCH (no rerank): fuse → fetch (J1) → path rewrite (X6) →
    // threshold (P4) → top-k (O5) — the fully deterministic surface
    // (SURVEY.md §2.12 SEARCH)
    Q("q_search_e2e_norerank",
      (s, d) => {
        val full = t(s, d, "documents")
          .select(col("doc_id"),
            concat(lit("corpus/"), regexp_replace(col("source"), "^src", "")).as("file_path"))
        full.join(broadcast(fused(s, d)), Seq("doc_id"))
          .filter(col("score") > 0.01)
          .select(col("doc_id"), col("file_path"), round(col("score"), 6).as("score"))
          .orderBy(round(col("score"), 6).desc, col("doc_id").asc)
          .limit(5)
      },
      Some(s"WITH $fusedCtes " +
        "SELECT doc_id, 'corpus/' || regexp_replace(source, '^src', '') AS file_path, " +
        "round(score, 6) AS score FROM fused JOIN documents USING (doc_id) " +
        "WHERE score > 0.01 ORDER BY round(score, 6) DESC, doc_id LIMIT 5")),

    // End-to-end SEARCH with the IVF-accelerated VSS leg — the reference's
    // HNSW-assisted query path (`src/db.py:152-165`) as the engine runs it:
    // probe the query's 2 nearest centroids, score ONLY vectors assigned to
    // a probed cluster, fuse with the untouched BM25 leg. Centroids are the
    // first 4 embeddings (fixed, so the oracle sees identical inputs; the
    // production fit is k-means — AnnIndexSpec pins the trained path,
    // including nprobe=K ≡ exact). Everything else matches
    // q_search_e2e_norerank — fusion semantics unchanged by design.
    Q("q_search_e2e_ann",
      (s, d) => {
        val e = t(s, d, "embeddings")
        val cents = e.filter(col("vec_id") < 4)
          .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
        val qv = e.filter(col("vec_id") === 0)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
        val ivf = graft.ops.Similarity.ivfSearch(
          qv, "qid", "qvec", e, "vec_id", "embedding", cents, "cid", "cvec",
          nprobe = 2, k = K, excludeSelf = false)
          .select(col("vec_id").as("doc_id"), col("dist").as("vss_score"))
        val f = ftsLeg(s, d).join(ivf, Seq("doc_id"), "full_outer")
          .withColumn("score", HybridSearch.hybridScore(col("fts_score"), col("vss_score")))
        t(s, d, "documents")
          .select(col("doc_id"),
            concat(lit("corpus/"), regexp_replace(col("source"), "^src", "")).as("file_path"))
          .join(broadcast(f), Seq("doc_id"))
          .filter(col("score") > 0.01)
          .select(col("doc_id"), col("file_path"), round(col("score"), 6).as("score"))
          .orderBy(round(col("score"), 6).desc, col("doc_id").asc)
          .limit(5)
      },
      Some(s"WITH ${Q.bm25Ctes}, ${Q.bm25ScoresCte(queryTermsSql)}, " +
        s"fts AS (SELECT doc_id, score AS fts_score FROM scores ORDER BY round(score, 6) DESC, doc_id LIMIT $K), " +
        "cents AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 4), " +
        "qvt AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0), " +
        "pr AS (SELECT cid FROM (SELECT cid, row_number() OVER " +
        s"(ORDER BY round(${Q.cosineDistSql("cvec", "qv")}, 6), cid) AS rn FROM cents CROSS JOIN qvt) WHERE rn <= 2), " +
        s"ad AS (SELECT e.vec_id, e.embedding, c.cid, ${Q.cosineDistSql("e.embedding", "c.cvec")} AS cd " +
        "FROM embeddings e CROSS JOIN cents c), " +
        "asg AS (SELECT vec_id, embedding, cid FROM (SELECT *, row_number() OVER " +
        "(PARTITION BY vec_id ORDER BY round(cd, 6), cid) AS rn FROM ad) WHERE rn = 1), " +
        s"vd AS (SELECT a.vec_id AS doc_id, ${Q.cosineDistSql("a.embedding", "qv")} AS vss_score " +
        "FROM asg a JOIN pr USING (cid) CROSS JOIN qvt), " +
        s"vss AS (SELECT doc_id, vss_score FROM vd ORDER BY round(vss_score, 6) ASC, doc_id LIMIT $K), " +
        "fused AS (SELECT COALESCE(fts.doc_id, vss.doc_id) AS doc_id, fts_score, vss_score, " +
        "CASE WHEN fts_score IS NOT NULL AND vss_score IS NOT NULL THEN (fts_score + vss_score) / 2.0 " +
        "WHEN fts_score IS NOT NULL THEN fts_score * 0.8 " +
        "WHEN vss_score IS NOT NULL THEN vss_score * 0.8 ELSE 0.0 END AS score " +
        "FROM fts FULL OUTER JOIN vss ON fts.doc_id = vss.doc_id) " +
        "SELECT doc_id, 'corpus/' || regexp_replace(source, '^src', '') AS file_path, " +
        "round(score, 6) AS score FROM fused JOIN documents USING (doc_id) " +
        "WHERE score > 0.01 ORDER BY round(score, 6) DESC, doc_id LIMIT 5")))
}
