package graft.search

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.analyze.{Analyzer, DefaultAnalyzer}
import graft.embed.Embedder
import graft.functions.VectorOps
import graft.index.IndexData
import graft.rerank.Reranker

/** The SEARCH read path (SURVEY.md §2.12, §3.2) as one composed DataFrame
  * plan:
  *
  *   T1 tokenize query → F4 BM25 top-k ∥ V1/V2 cosine top-k →
  *   J2 full-outer fusion + A4 hybrid score → J1 candidate fetch →
  *   X6 path rewrite → O3 sort → [T4 rerank] → P4 threshold → O5 limit
  *
  * Everything online touches ≤2k candidate rows, so every join is a broadcast
  * hash join and the only `TakeOrderedAndProject`s are the two top-k scans —
  * no shuffle wider than k rows (SURVEY.md §4.2).
  */
object HybridSearch {

  final case class Options(
      k: Int = 5, // reference default top_k=5, `src/cli.py:279-284`
      rerank: Boolean = true,
      removePathPrefix: Option[String] = None,
      addPathPrefix: Option[String] = None,
      scoreThreshold: Double = 0.01, // reference `src/searcher.py:313`
      rerankTruncate: Int = 2048, // reference `src/models/reranker.py:86`
      rerankBatchSize: Int = 8, // reference `src/models/reranker.py:60`
      // >0 routes the VSS leg through the persisted IVF index, probing this
      // many clusters (`--ann ivf[:nprobe]`); 0 = exact heap scan. The
      // HNSW-vs-exact switch of the reference (`src/db.py:152-165`) —
      // requires an index built with `--ann-clusters`.
      annNprobe: Int = 0,
      // >0 routes the VSS leg through the persisted PQ codes (`--ann
      // pq[:shortlist]`): ADC shortlist of this many candidates from codes
      // alone, then exact cosine rerank of only the shortlist. Requires an
      // index built with `--pq-codes`. Takes precedence over annNprobe.
      annPqShortlist: Int = 0,
      // candidate fusion rule: "mean" = the reference's score-averaging A4
      // (default); "rrf" = reciprocal-rank fusion Σ 1/(60 + leg rank) —
      // rank-based, so BM25 and cosine scales never meet (the
      // dimensional-oddity fix the reference's rule carries; see
      // [[rrfScore]]). NOTE with rrf, per-doc scores are ≤ 2/61 ≈ 0.033 —
      // keep scoreThreshold below 1/(60+k) or hits get filtered.
      fusion: String = "mean",
      // `--phrase`: keep only candidates whose token stream contains the
      // query terms as an ADJACENT run, in order (positional semantics
      // bag-of-words BM25 can't express). Applied to the fused candidate
      // set (≤2k rows) as a pure codegen HOF over the stored tokens —
      // bounded work, no corpus pass beyond what the legs already do.
      phraseOnly: Boolean = false,
      // `--phrase-rank`: phrase-FIRST retrieval (round-16 directive #2).
      // `--phrase` only FILTERS the fused candidate set — a document that
      // contains the phrase but sits outside both top-k legs is
      // unreachable. With the positional sidecar present, this mode
      // instead restricts the BM25 leg to the corpus-wide phrase-matching
      // doc set ([[PhraseSearch.phraseMatches]] — a pruned, df-proportional
      // probe) BEFORE the top-k cut, so the leg ranks exactly the documents
      // that contain the phrase. The VSS leg fuses as usual and the
      // candidate phrase filter still applies to it. Artifacts without the
      // sidecar degrade to the `--phrase` filter semantics (with a warning
      // in serving) — the corpus token scan is not a serving-shape cost.
      phraseRank: Boolean = false,
      // `--near a,b[,c] --window w` (or the `"a b"~w` slop query syntax):
      // proximity-FIRST retrieval — the N-term sloppy-phrase face of
      // phraseRank (round-17 directive #3). With the positional sidecar,
      // the BM25 leg is restricted to the corpus-wide docs where the
      // near-terms appear in order within a `nearWindow`-position span
      // ([[PhraseSearch.sloppyPhraseMatches]] — chained pruned probes,
      // df-proportional) BEFORE the top-k cut; the vss leg fuses as usual
      // and the candidate near filter applies to both. Without the sidecar
      // the mode degrades to the candidate filter (serving warns). Terms
      // must be ≥2, distinct, already analyzer-tokenized; window ≥ n−1.
      nearTerms: Seq[String] = Nil,
      nearWindow: Int = 0)

  /** A4 — the hybrid score fusion rule (reference `src/searcher.py:218-241`):
    * both present → mean; exactly one → 0.8·that; neither → 0.
    * Faithfully averages a BM25 score with a cosine *distance* — dimensionally
    * odd but it is the reference's defined semantics (SURVEY.md §2.9). */
  def hybridScore(fts: Column, vss: Column): Column =
    when(fts.isNotNull && vss.isNotNull, (fts + vss) / 2.0)
      .when(fts.isNotNull, fts * 0.8)
      .when(vss.isNotNull, vss * 0.8)
      .otherwise(0.0)

  /** Reciprocal-rank fusion over the two legs' RANKS (1-based, null when
    * the doc missed that leg): Σ 1/(K + rank), K = 60 (the constant from
    * Cormack/Clarke/Buettcher's original RRF formulation — public IR
    * folklore). Rank-based fusion never mixes a BM25 magnitude with a
    * cosine distance, so it sidesteps the dimensional oddity the
    * reference's averaging rule carries; integer ranks make the score
    * bit-deterministic cross-engine. */
  val RrfK = 60.0
  def rrfScore(ftsRank: Column, vssRank: Column): Column =
    coalesce(lit(1.0) / (lit(RrfK) + ftsRank.cast("double")), lit(0.0)) +
      coalesce(lit(1.0) / (lit(RrfK) + vssRank.cast("double")), lit(0.0))

  /** POSIX normpath for a user-supplied path prefix (mirrors the
    * reference's `os.path.normpath` before its startswith check,
    * `src/searcher.py:191-216`): collapse `//`, resolve `.` and `..`
    * segments, drop the trailing `/` — so `./docs/`, `docs//` and `docs`
    * all strip the same indexed prefix. */
  private[search] def normPrefix(p: String): String = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    p.split("/").foreach {
      case "" | "." => ()
      case ".." if out.nonEmpty && out.last != ".." => out.remove(out.length - 1)
      case seg => out += seg
    }
    val body = out.mkString("/")
    if (p.startsWith("/")) "/" + body
    else if (body.isEmpty) "."
    else body
  }

  /** X6 — query-time path rewrite: remove prefix, then add prefix
    * (remove BEFORE add, reference `src/searcher.py:191-216`). The add leg
    * keeps `os.path.join` semantics (round-18 parity fix, reference
    * `src/searcher.py:211-213`): an ABSOLUTE remaining path passes through
    * unchanged (join discards the prefix), an empty prefix is a no-op
    * (falsy in the reference) — unconditional concatenation would mangle
    * exactly the paths the reference leaves alone. One deliberate
    * extension: a URI-schemed path (`file:/…`, `s3a://…` — shapes the
    * reference never stores but binaryFile scans do) counts as absolute
    * too, so the dirname(db) serving default can't prefix it into junk.
    * The scheme must be followed by `/` — a RELATIVE filename that merely
    * contains a colon (`draft:v2.md`, legal on POSIX) is not a URI and
    * must keep the reference's join-prefixes-it behavior (round-18 second
    * review: the broader `scheme:` match passed those through). */
  private[search] val AbsoluteOrUriRe = "^(/|[A-Za-z][A-Za-z0-9+.-]*:/)"

  def rewritePath(path: Column, remove: Option[String], add: Option[String]): Column = {
    val removed = remove match {
      case Some(p) =>
        // stored paths may carry a `file:` URI scheme (binaryFile scan) that
        // index-time trimming left in place; a user's plain `/docs` prefix
        // must still strip `file:/docs/...` — consume the scheme optionally
        regexp_replace(path,
          lit("^(?:file:)?" + java.util.regex.Pattern.quote(normPrefix(p)) + "/?"), lit(""))
      case None => path
    }
    add match {
      case Some(p) if p.nonEmpty =>
        when(regexp_like(removed, lit(AbsoluteOrUriRe)), removed)
          .otherwise(concat(lit(p.stripSuffix("/") + "/"), removed))
      case _ => removed
    }
  }

  /** VSS leg: exact brute-force cosine top-k over the embedding column —
    * the engine's replacement for HNSW (exact ⊇ approximate; SURVEY.md §4.3).
    * Score is the cosine DISTANCE, ascending (reference
    * `src/searcher.py:135-143`). */
  def vssTopK(documents: DataFrame, queryVec: Array[Float], k: Int): DataFrame = {
    val qv = typedlit(queryVec.toSeq)
    documents
      // doc_id isNotNull is a no-op on data (ids are sha1s) but puts the
      // IsNotNull constraint in the plan that AnnTopKRewrite requires to
      // prove the CosineKnnJoin rewrite safe for this leg too
      .filter(col("embedding").isNotNull && col("doc_id").isNotNull)
      .select(col("doc_id"), VectorOps.cosineDist(col("embedding"), qv).as("vss_score"))
      // engine-wide determinism convention (Q rules): cut lines order by the
      // ROUNDED score + unique id — also the exact shape AnnTopKRewrite
      // turns into the CosineKnnJoin heap plan
      .orderBy(round(col("vss_score"), 6).asc, col("doc_id").asc)
      .limit(k)
  }

  /** VSS leg through the persisted IVF index: probe the query's `nprobe`
    * nearest centroids (a K-row scalar decision), then run the SAME
    * select/top-k shape as [[vssTopK]] over ONLY the probed inverted lists.
    * `ann_postings` is cluster-partitioned parquet, so the `isin` lands as a
    * partition filter — the scan reads ~nprobe/K of the corpus files
    * (plan-guarded in AnnIndexSpec). Fusion semantics downstream are
    * unchanged; `nprobe = numClusters` reproduces the exact leg. */
  def vssTopKIvf(ann: graft.index.AnnIndex, queryVec: Array[Float], k: Int,
      nprobe: Int): DataFrame = {
    val probed = ann.probe(queryVec, nprobe)
    val qv = typedlit(queryVec.toSeq)
    ann.postings
      .filter(col("cluster").isin(probed: _*))
      .filter(col("embedding").isNotNull && col("doc_id").isNotNull)
      .select(col("doc_id"), VectorOps.cosineDist(col("embedding"), qv).as("vss_score"))
      .orderBy(round(col("vss_score"), 6).asc, col("doc_id").asc)
      .limit(k)
  }

  /** Largest PQ shortlist whose exact rerank fetch still prunes. The
    * serving engine ([[ServeSearch]]) reranks every shortlist through a
    * pushed `doc_id IN (…)` scan; past ~200 scattered ids that In degrades
    * to a range filter that reads ~every row group (FetchProbe round-15: a
    * 500-id fetch touched 84.9%), so a larger shortlist pays an
    * effectively-full rerank scan on top of the codes scan. The serve
    * default declines `pq:auto` resolutions above this bound
    * (`Cli.ServeAutoShortlistMax`). */
  val RerankFetchInMax = 256

  /** VSS leg through the persisted PQ codes — the two-stage production ANN
    * serving pattern (q_sim_pq_rerank, oracle-checked over the testdata
    * corpus): stage 1 ranks EVERY embedded doc by the sum of 8 LUT lookups
    * over its codes (no per-vector float math; the LUT is 8×K rows riding a
    * broadcast), stage 2 fetches ONLY the `shortlist` raw vectors and
    * reranks by exact cosine. `shortlist ≥ corpus` reproduces the exact
    * result (PqIndexSpec). At 100 TB the codes scan reads ~1/32 the bytes
    * of the raw-vector scan and the exact kernel touches `shortlist` rows
    * per query instead of the corpus. */
  def vssTopKPq(pq: graft.index.PqIndex, documents: DataFrame,
      queryVec: Array[Float], k: Int, shortlist: Int): DataFrame =
    adcRerank(pq.codes, pq, documents, queryVec, k, shortlist)

  /** Composed IVF×PQ VSS leg — the full 100 TB serving shape: partition-
    * prune the CODE files down to the probed clusters (possible because
    * `--pq-codes` on an IVF-enabled index writes `ann_pq_codes`
    * partitioned by cluster), rank the survivors by ADC lookups, exact-
    * verify only the shortlist. Per query: a pruned scan of
    * ~nprobe/K × (1/32 bytes) of the corpus plus `shortlist` exact
    * kernels. `nprobe = K` and `shortlist ≥ corpus` reproduces the exact
    * result (PqIndexSpec). */
  def vssTopKIvfPq(ann: graft.index.AnnIndex, pq: graft.index.PqIndex,
      documents: DataFrame, queryVec: Array[Float], k: Int,
      nprobe: Int, shortlist: Int): DataFrame = {
    require(pq.codes.columns.contains("cluster"),
      "--ann ivf+pq needs an artifact whose PQ codes were built alongside the " +
        "IVF sidecar (cluster-partitioned ann_pq_codes); re-run index with " +
        "both --ann-clusters and --pq-codes")
    val probed = ann.probe(queryVec, nprobe)
    adcRerank(pq.codes.filter(col("cluster").isin(probed: _*)),
      pq, documents, queryVec, k, shortlist)
  }

  /** Shared PQ tail: ADC shortlist over the given codes scan, exact cosine
    * rerank of only the shortlist.
    *
    * The ADC stage is MAP-ONLY: the per-query LUT is a dense m×K literal
    * matrix ([[graft.index.PqIndex.lutLongs]] — scalar-sized, 8×K longs),
    * and the approximate distance is `Σ_j lut(j)(codes(j))` as a codegen'd
    * zip_with/aggregate over each row's own codes array. The earlier
    * formulation (posexplode → broadcast-join the LUT rows → groupBy
    * doc_id) computed the identical long sum but paid an m× row explosion
    * plus a corpus-sized aggregate EXCHANGE per query; here the shortlist
    * cut is a TakeOrdered over the codes scan — one stage, no shuffle,
    * which at 100 TB is the difference between a pruned scan and a pruned
    * scan *plus* a corpus-wide shuffle per request. Long addition is
    * order-independent, so the sum is bit-identical to the join/aggregate
    * shape (PqIndexSpec pins exact-mode equality; q_sim_pq_adc pins the
    * quantized-sum rule cross-engine). */
  private def adcRerank(codes: DataFrame, pq: graft.index.PqIndex,
      documents: DataFrame, queryVec: Array[Float], k: Int,
      shortlist: Int): DataFrame = {
    val short = adcShortlist(codes, pq, queryVec, shortlist).select("doc_id")
    val qv = typedlit(queryVec.toSeq)
    documents
      .filter(col("embedding").isNotNull && col("doc_id").isNotNull)
      .join(broadcast(short), Seq("doc_id"))
      .select(col("doc_id"), VectorOps.cosineDist(col("embedding"), qv).as("vss_score"))
      .orderBy(round(col("vss_score"), 6).asc, col("doc_id").asc)
      .limit(k)
  }

  /** Stage 1 of the PQ tail alone — the map-only ADC shortlist cut:
    * (doc_id, adist) TakeOrdered over the given codes scan. Shared by
    * [[adcRerank]] (which broadcasts it back into the documents scan — the
    * single-DAG batch shape) and [[ServeSearch]] (which COLLECTS the
    * ≤shortlist ids and exact-reranks via a pushed-IN fetch — the
    * bounded-job serving shape; same rows either way, pinned in
    * ServeSearchSpec). */
  private[search] def adcShortlist(codes: DataFrame, pq: graft.index.PqIndex,
      queryVec: Array[Float], shortlist: Int): DataFrame =
    pq.adistOf(codes, queryVec)
      .orderBy(round(col("adist"), 6).asc, col("doc_id").asc)
      .limit(shortlist)

  /** Stage 2 of the PQ tail for the serving path: exact cosine over ONLY the
    * already-collected shortlist ids, fetched through the same pushed
    * `doc_id IN (…)` scan shape as the serving candidate fetch — no
    * broadcast-exchange job wave. Identical row set to [[adcRerank]]'s
    * inner broadcast join (an IN filter selects exactly the join's matching
    * rows; doc_id is an artifact key, so multiplicities match too). */
  private[search] def exactRerankByIds(documents: DataFrame, ids: Seq[String],
      queryVec: Array[Float], k: Int): DataFrame = {
    val qv = typedlit(queryVec.toSeq)
    documents
      .filter(col("embedding").isNotNull && col("doc_id").isNotNull)
      .filter(col("doc_id").isin(ids: _*))
      .select(col("doc_id"), VectorOps.cosineDist(col("embedding"), qv).as("vss_score"))
      .orderBy(round(col("vss_score"), 6).asc, col("doc_id").asc)
      .limit(k)
  }

  /** Full hybrid search. `embedder=None` degrades to FTS-only, mirroring the
    * reference's VSS-failure fallback (reference `src/searcher.py:148-150`);
    * `reranker=None` ⇔ `--no-rerank` (reference `src/cli.py:305-309`). */
  /** True when `tokens` contains `terms` as an adjacent in-order run —
    * pure column HOF (exists over a start-index sequence), codegen'd, no
    * UDF. The `size ≥ n` guard keeps the sequence ascending (a descending
    * default-step sequence would probe index 0, which array indexing
    * rejects). */
  private[graft] def phrasePredicate(tokens: org.apache.spark.sql.Column,
      terms: Seq[String]): org.apache.spark.sql.Column = {
    val n = terms.length
    when(size(tokens) < n, lit(false)).otherwise(
      exists(sequence(lit(1), size(tokens) - (n - 1)),
        i => terms.zipWithIndex.map { case (t, j) =>
          element_at(tokens, i + j) === t }.reduce(_ && _)))
  }

  /** True when `tokens` contains every term of `terms` IN ORDER inside a
    * span of at most `window` positions — the candidate-set face of
    * [[PhraseSearch.sloppyPhraseMatches]] (same ordered-chain + span
    * semantics), as a pure column HOF over the stored tokens. Nested
    * exists over window-bounded position ranges: expression size is
    * O(n·window) per term chain, bounded by the serving contract (2-3
    * terms, small windows); each guard keeps the generated sequence
    * ascending. Applied only to the ≤2k fused candidates, never a corpus
    * scan. */
  private[graft] def sloppyPredicate(tokens: org.apache.spark.sql.Column,
      terms: Seq[String], window: Int): org.apache.spark.sql.Column = {
    def chain(j: Int, anchor: org.apache.spark.sql.Column,
        prev: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      if (j == terms.length) lit(true)
      else {
        val hi = least(anchor + window, size(tokens))
        when(prev + 1 > hi, lit(false)).otherwise(
          exists(sequence(prev + 1, hi),
            p => element_at(tokens, p) === terms(j) && chain(j + 1, anchor, p)))
      }
    when(size(tokens) < terms.length, lit(false)).otherwise(
      exists(sequence(lit(1), size(tokens) - (terms.length - 1)),
        i => element_at(tokens, i) === terms.head && chain(1, i, i)))
  }

  /** Shared validation of the near options (both engines, fail fast before
    * any job): the restrictions [[PhraseSearch.sloppyPhraseMatches]] would
    * enforce mid-plan, surfaced uniformly — including on the no-sidecar
    * fallback path, which never reaches that operator. */
  /** Upper bound on proximity terms: [[sloppyPredicate]] nests one exists()
    * per term, so expression depth — and codegen size on the candidate-
    * filter path — grows with the term count. The serving contract is 2-3
    * terms; 8 leaves headroom for analyzer expansion (CJK bigram folding
    * of a --near list) while keeping the generated code bounded. */
  private[graft] val MaxNearTerms = 8

  private[search] def requireNearCoherent(opts: Options): Unit =
    if (opts.nearTerms.nonEmpty) {
      require(opts.nearTerms.size >= 2,
        s"--near needs ≥ 2 terms, got ${opts.nearTerms.mkString(",")}")
      require(opts.nearTerms.size <= MaxNearTerms,
        s"--near supports at most $MaxNearTerms terms after analysis, got " +
          s"${opts.nearTerms.size} (${opts.nearTerms.mkString(",")}) — " +
          "proximity over long term chains is not a serving-shaped query")
      require(opts.nearTerms.distinct.size == opts.nearTerms.size,
        s"--near terms must be distinct, got ${opts.nearTerms.mkString(",")}")
      require(opts.nearWindow >= opts.nearTerms.size - 1,
        s"--window ${opts.nearWindow} cannot hold ${opts.nearTerms.size} " +
          s"ordered terms (needs ≥ ${opts.nearTerms.size - 1})")
      require(!opts.phraseOnly && !opts.phraseRank,
        "--near cannot combine with --phrase/--phrase-rank (proximity and " +
          "exact-adjacency restrictions would intersect confusingly; pick one)")
    }

  def search(
      index: IndexData,
      query: String,
      analyzer: Analyzer = DefaultAnalyzer,
      embedder: Option[Embedder] = None,
      reranker: Option[Reranker] = None,
      opts: Options = Options()): DataFrame = {

    val spark = index.documents.sparkSession
    import spark.implicits._

    requireNearCoherent(opts)
    val terms = analyzer.tokenize(query)
    // phrase-/proximity-first retrieval: restrict the BM25 leg to the
    // corpus-wide matching docs BEFORE the top-k cut (both sides of the
    // semi join are df-proportional — the scores frame reads only the query
    // terms' posting lists, the phrase/near probe only their occurrence
    // lists)
    val phraseRanked = opts.phraseRank && terms.nonEmpty && index.positions.isDefined
    val nearRanked = opts.nearTerms.nonEmpty && index.positions.isDefined
    val scoresLeg = {
      val base = Bm25.scores(terms, index.postings, index.termdf, index.stats)
      if (phraseRanked)
        base.join(PhraseSearch.phraseMatches(index.positions.get, terms)
          .select("doc_id"), Seq("doc_id"), "left_semi")
      else if (nearRanked)
        base.join(PhraseSearch.sloppyPhraseMatches(
            index.positions.get, opts.nearTerms, opts.nearWindow)
          .select("doc_id"), Seq("doc_id"), "left_semi")
      else base
    }
    val fts = Bm25.topK(scoresLeg, opts.k)
      .withColumnRenamed("score", "fts_score")

    // J2 + A4: fuse the two top-k lists — fusion re-ranks the union of the
    // two top-k lists, NOT the corpus (reference `src/searcher.py:112-166`;
    // SURVEY.md §4.3 candidate-set semantics).
    // embed ONCE and branch on the result — the Embedder contract exists to
    // amortize model cost, and a guard that re-embeds would both double the
    // serving-path work and let a nondeterministic model disagree with the
    // vector actually scored
    val queryVec = embedder.map(e => e.embed(Seq(query)).head)
    // the ONE definition of "the vss leg is structurally absent" — shared
    // by the fused-branch guard below and the restriction-filter skip
    // further down, so the two can never drift (round-18 second review)
    val vssAbsent = queryVec.forall(q => !q.exists(_ != 0.0f))
    val fused = queryVec match {
      // Zero-norm query embedding (every query token OOV for the model —
      // TfIdf with all-idf-0 terms, Word2Vec with an unseen vocabulary):
      // cosine against the zero vector is 0/0 = NaN, and Spark orders NaN
      // ABOVE every real double, so NaN scores would pass the `> threshold`
      // gate and sort to the top. The vector leg carries no signal here by
      // definition — drop it and degrade to BM25-only, the same contract as
      // "vss leg found nothing".
      case Some(_) if vssAbsent =>
        fts.withColumn("vss_score", lit(null).cast("double"))
      case Some(qvec) =>
        val vss =
          if (opts.annPqShortlist > 0 && opts.annNprobe > 0) {
            val ann = index.ann.getOrElse(sys.error(
              "--ann ivf+pq requires an index built with --ann-clusters"))
            val pq = index.pq.getOrElse(sys.error(
              "--ann ivf+pq requires an index built with --pq-codes"))
            vssTopKIvfPq(ann, pq, index.documents, qvec, opts.k,
              opts.annNprobe, opts.annPqShortlist)
          } else if (opts.annPqShortlist > 0) {
            val pq = index.pq.getOrElse(sys.error(
              "--ann pq requires an index built with --pq-codes (no ann_pq_codebooks in artifact)"))
            vssTopKPq(pq, index.documents, qvec, opts.k, opts.annPqShortlist)
          } else if (opts.annNprobe > 0) {
            val ann = index.ann.getOrElse(sys.error(
              "--ann requires an index built with --ann-clusters (no ann_centroids in artifact)"))
            vssTopKIvf(ann, qvec, opts.k, opts.annNprobe)
          } else vssTopK(index.documents, qvec, opts.k)
        // zero-norm DOC embeddings (degenerate all-OOV docs) produce NaN
        // distances; they sort last in the asc leg but can still enter the
        // cut on a small corpus — null them here (post-join projection over
        // ≤2k rows; the leg plans, incl. the AnnTopKRewrite shape, stay
        // untouched) so fusion treats them as "missed the vss leg"
        fts.join(vss, Seq("doc_id"), "full_outer")
          .withColumn("vss_score",
            when(isnan(col("vss_score")), lit(null).cast("double"))
              .otherwise(col("vss_score")))
      case None =>
        fts.withColumn("vss_score", lit(null).cast("double"))
    }
    val candidates = opts.fusion match {
      case "rrf" =>
        // leg ranks over the fused frame: ≤ 2k rows by construction, so the
        // unpartitioned windows are the bounded O6 accepted-cost class.
        // nulls_last keeps absent-leg rows out of the real rank sequence.
        import org.apache.spark.sql.expressions.Window
        // both legs rank on the ROUNDED score (the engine-wide deterministic
        // cut-line convention, and exactly what the oracle-checked
        // q_fusion_rrf ranks on) so near-tie fts scores can't order
        // differently here than in the pinned cross-engine semantics
        val wF = Window.orderBy(round(col("fts_score"), 6).desc_nulls_last, col("doc_id").asc)
        val wV = Window.orderBy(round(col("vss_score"), 6).asc_nulls_last, col("doc_id").asc)
        fused
          .withColumn("_fr", when(col("fts_score").isNotNull, row_number().over(wF)))
          .withColumn("_vr", when(col("vss_score").isNotNull, row_number().over(wV)))
          .withColumn("score", rrfScore(col("_fr"), col("_vr")))
          .drop("_fr", "_vr")
      case "mean" =>
        fused.withColumn("score", hybridScore(col("fts_score"), col("vss_score")))
      case other => sys.error(s"unknown fusion '$other' (expected mean or rrf)")
    }

    // J1: candidate fetch — broadcast the ≤2k candidate ids into the
    // documents scan (reference IN-list fetch, `src/searcher.py:172-180`).
    val fetched = index.documents
      .join(broadcast(candidates), Seq("doc_id"))
      .withColumn("file_path",
        rewritePath(col("file_path"), opts.removePathPrefix, opts.addPathPrefix))
      .select("doc_id", "file_path", "header_path", "line_start", "line_end",
        "content", "tokens", "score", "fts_score", "vss_score")
    // the candidate phrase/near filter applies to BOTH restriction modes:
    // under phraseRank/nearRank the fts leg is restriction-pure by
    // construction, but the vss leg can still surface non-matching docs
    // into the fused set. When the vss leg is STRUCTURALLY absent (no
    // embedder, or a zero-norm query vector — the two cases above that
    // skip the join entirely), the fused set is the restricted fts leg
    // alone and the filter is a no-op: skip it (round-18; the serving
    // path skips on the runtime vss.isEmpty too — a no-op filter removed
    // on either side cannot break bit-parity). `vssAbsent` is the same
    // val the fused branch above switched on — one definition, no drift.
    val hits = (if ((opts.phraseOnly ||
        (opts.phraseRank && (!phraseRanked || !vssAbsent))) && terms.nonEmpty)
      fetched.filter(phrasePredicate(col("tokens"), terms))
    else if (opts.nearTerms.nonEmpty && (!nearRanked || !vssAbsent))
      fetched.filter(sloppyPredicate(col("tokens"), opts.nearTerms, opts.nearWindow))
    else fetched).drop("tokens")

    val reranked = reranker match {
      case Some(rr) if opts.rerank =>
        // Materialize the ≤2k-row candidate frame ONCE: it feeds BOTH
        // sides of the rerank join (the rrScores derivation and the
        // streamed side), and Spark does not share subtrees across join
        // sides — without this the whole candidate pipeline (corpus VSS
        // scan + BM25 postings join) executes twice per query.
        val hitsMat = hits.localCheckpoint(true)
        val batch = opts.rerankBatchSize
        val trunc = opts.rerankTruncate
        val q = query
        // T4: batched rerank, scores re-attached by doc_id (not position).
        // A failing reranker batch degrades to the pre-rerank hybrid score
        // instead of failing the query (reference `src/searcher.py:296-310`
        // restores original_score on any rerank exception; the distributed
        // failure domain is the batch, so an isolated bad batch degrades
        // only its own rows).
        val rrScores = hitsMat
          .select(col("doc_id"), substring(col("content"), 1, trunc).as("t"))
          .as[(String, String)]
          .mapPartitions { it =>
            it.grouped(batch).flatMap { g =>
              val ss =
                try rr.score(q, g.map(_._2)).map(Option(_))
                catch { case scala.util.control.NonFatal(_) => g.map(_ => Option.empty[Double]) }
              g.lazyZip(ss).map { (p, s) => (p._1, s) }
            }
          }
          .toDF("doc_id", "rerank_score")
        hitsMat.join(broadcast(rrScores), Seq("doc_id"))
          .withColumn("original_score", col("score"))
          .withColumn("score", coalesce(col("rerank_score"), col("original_score")))
          .drop("rerank_score")
      case _ => hits
    }

    reranked
      .filter(col("score") > lit(opts.scoreThreshold)) // P4
      .orderBy(col("score").desc, col("doc_id").asc) // O3/O4
      .limit(opts.k) // O5
  }
}
