package graft.search

import scala.concurrent.{Await, Future}
import scala.concurrent.duration.Duration
import scala.concurrent.ExecutionContext.Implicits.global

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.analyze.{Analyzer, DefaultAnalyzer}
import graft.embed.Embedder
import graft.index.{AnnIndex, IndexData}
import graft.rerank.Reranker

/** The low-latency serving formulation of [[HybridSearch.search]] — same
  * semantics, same results (bit-identical, pinned in ServeSearchSpec), built
  * for the per-request latency the interactive CLI / MCP server actually
  * feels.
  *
  * [[HybridSearch.search]] declares the WHOLE pipeline as one DataFrame DAG,
  * which is right for the batch/oracle surface but costs ~5-7 Spark jobs per
  * request (ServeProbe, round 12): the rerank materialization barrier, one
  * broadcast-exchange job per small join side, and the final collect each
  * pay local[n] job-scheduling latency, and the fused DAG re-enters Catalyst
  * per request. Only two pieces of a request touch corpus-sized data — the
  * two top-k legs. Everything downstream of them is ≤2k rows BY CONSTRUCTION
  * (SURVEY.md §4.2: fusion re-ranks the union of two top-k lists, never the
  * corpus).
  *
  * So a request is the driver tail over the legs of a [[ServeLegs]] seam
  * — `bm25TopK`, `vectorTopK`, `fetch` and `allowed`:
  *
  *   - a cache-pinned artifact ([[IndexData.cached]], what `graft serve`
  *     loads under the cache budget) answers the BM25 leg, the exact, IVF
  *     and PQ vector legs and the candidate fetch from its driver-resident
  *     [[ServedIndex]]: a warm request schedules ZERO Spark jobs. The BM25
  *     arrays build at start-up, the documents, IVF and PQ arrays on their
  *     first use;
  *   - a plain load (disk-backed serving above the budget, one-shot `graft
  *     search`, the 100 TB posture) runs the [[SparkLegs]]: the BM25 leg,
  *     the vector leg (PQ is two jobs: the ADC shortlist, then its exact
  *     rerank) and a pushed `doc_id IN (…)` candidate fetch, each a bounded
  *     collect, the two legs CONCURRENTLY.
  *
  * ServeJobsSpec pins the counts. A restriction over the positions
  * sidecar runs on Spark in both: its probe plus one broadcast job per
  * term join, +2 for a two-term `--phrase` filter and +4 for a two-term
  * `--near` request (the probe runs in the near-first BM25 leg and again
  * in the candidate restriction).
  *
  * Fusion, path rewrite, phrase filter, rerank, threshold, sort and limit
  * then run driver-locally over the collected ≤2k candidate rows,
  * replicating the DataFrame tail's arithmetic term for term (the round6 /
  * IEEE-double disciplines the engine already pins for its cut lines —
  * [[AnnIndex.round6]]). At 100 TB the shape is unchanged: the legs are the
  * corpus-sized work and stay distributed; the driver tail touches only the
  * candidate set, the same rows the reference materializes into Python per
  * query (`src/searcher.py:112-180`). The Spark fetch leg prunes at that
  * scale because the documents files are doc_id-range-clustered and sorted
  * at write ([[graft.index.IndexData.write]]): content-addressed ids are
  * uniform-random, so without that layout every file's min/max spanned the
  * full id space and the pushed IN read the whole corpus per request
  * (round-13 finding; DocFetchPruneSpec pins rows-read). The reference
  * relies on the same property via time-ordered ULIDs + DuckDB zonemaps
  * (`src/indexer.py:105-107`).
  *
  * The per-artifact serving state lives on the [[IndexData]] instance, not
  * here: the served arrays ([[IndexData.cached]] attaches them,
  * [[IndexData.uncacheAll]] releases them with every pin) and the Spark
  * legs' memoized stats row and term dfs. A reloaded artifact is a new
  * instance, so it starts with fresh state, and dropping an instance
  * drops its memos.
  *
  * Contract: the reranker must score each (query, text) pair independently
  * of its batch (every engine reranker does; the trait's scaladoc already
  * requires order-stable scores) — batch BOUNDARIES here follow the
  * collected candidate order rather than executor partition order.
  */
object ServeSearch {

  /** Drop-in equivalent of [[HybridSearch.search]] (same defaults), returning
    * a driver-local DataFrame (LocalRelation — collecting it schedules no
    * further job). */
  def search(
      index: IndexData,
      query: String,
      analyzer: Analyzer = DefaultAnalyzer,
      embedder: Option[Embedder] = None,
      reranker: Option[Reranker] = None,
      opts: HybridSearch.Options = HybridSearch.Options()): DataFrame = {
    val spark = index.documents.sparkSession

    HybridSearch.requireNearCoherent(opts)
    val terms = analyzer.tokenize(query)

    // phrase-first retrieval (round-16 directive #2): with the positional
    // sidecar present, the BM25 leg ranks exactly the corpus-wide
    // phrase-matching docs (semi join of two df-proportional frames)
    // instead of filtering whatever made the global top-k. Without the
    // sidecar the mode degrades to the `--phrase` candidate filter — warn,
    // because the caller asked for retrieval semantics the artifact layout
    // cannot serve (rebuild without `--positions off` to get them).
    val phraseRanked = opts.phraseRank && terms.nonEmpty && index.positions.isDefined
    if (opts.phraseRank && terms.nonEmpty && index.positions.isEmpty)
      System.err.println("[graft] --phrase-rank needs the positions sidecar; " +
        "degrading to the --phrase candidate filter (phrase docs outside the " +
        "top-k legs stay unreachable)")
    // proximity-first retrieval (round-17 directive #3): the sloppy-phrase
    // generalization — same restriction shape, the probe is the chained
    // bucketed sloppyPhraseMatches instead of exact adjacency
    val nearMode = opts.nearTerms.nonEmpty
    val nearRanked = nearMode && index.positions.isDefined
    if (nearMode && index.positions.isEmpty)
      System.err.println("[graft] --near needs the positions sidecar for " +
        "proximity-FIRST retrieval; degrading to the candidate near filter " +
        "(near docs outside the top-k legs stay unreachable)")

    // ---- the two corpus-sized legs, concurrently ----
    val legs = ServeLegs.of(index)
    val ftsF: Future[Seq[(String, Double)]] =
      if (terms.isEmpty) Future.successful(Seq.empty) // isin() over no terms matches nothing
      else Future {
        // phrase-/near-first: cut top-k over the matching docs only — the
        // same semi join the DAG path plans (ServeSearchSpec/NearRankSpec
        // pin bit-parity); the probe is probe-sized, never corpus-sized
        val restriction =
          if (phraseRanked)
            Some(PhraseSearch.phraseMatches(index.positions.get, terms).select("doc_id"))
          else if (nearRanked)
            Some(PhraseSearch.sloppyPhraseMatches(
              index.positions.get, opts.nearTerms, opts.nearWindow).select("doc_id"))
          else None
        legs.bm25TopK(terms, opts.k, restriction)
      }

    // embed ONCE and branch on the result (HybridSearch's amortization +
    // zero-norm degradation contract, replicated)
    val queryVec = embedder.map(e => e.embed(Seq(query)).head)
    val vssF: Future[Seq[(String, Double)]] = queryVec match {
      case Some(q) if !q.exists(_ != 0.0f) => Future.successful(Seq.empty)
      case Some(qvec) =>
        Future(legs.vectorTopK(qvec, opts.k, (opts.annNprobe, opts.annPqShortlist)))
      case None => Future.successful(Seq.empty)
    }
    val fts = Await.result(ftsF, Duration.Inf)
    val vss = Await.result(vssF, Duration.Inf)

    // ---- J2 + A4 fusion over the two ≤k lists, driver-local ----
    val ftsM = fts.toMap
    val vssM = vss.toMap
    val ids = (fts.map(_._1) ++ vss.map(_._1)).distinct
    final case class Cand(docId: String, fts: Option[Double], vss: Option[Double],
        var score: Double = 0.0)
    // NaN doc embeddings (zero-norm degenerate docs): the doc STAYS a
    // candidate — HybridSearch nulls the score after the full-outer join,
    // so it fuses as "missed the vss leg", it is not removed from the set
    val cands = ids.map(id => Cand(id, ftsM.get(id), vssM.get(id).filterNot(_.isNaN)))
    opts.fusion match {
      case "mean" =>
        cands.foreach { c =>
          c.score = (c.fts, c.vss) match {
            case (Some(f), Some(v)) => (f + v) / 2.0
            case (Some(f), None)    => f * 0.8
            case (None, Some(v))    => v * 0.8
            case (None, None)       => 0.0
          }
        }
      case "rrf" =>
        // leg ranks on the ROUNDED score + doc_id tiebreak — the same
        // windows q_fusion_rrf pins (nulls rank last and are then masked,
        // so ranking the present-leg subset is equivalent)
        val fr = cands.filter(_.fts.isDefined)
          .sortBy(c => (-AnnIndex.round6(c.fts.get), c.docId))
          .zipWithIndex.map { case (c, i) => c.docId -> (i + 1) }.toMap
        val vr = cands.filter(_.vss.isDefined)
          .sortBy(c => (AnnIndex.round6(c.vss.get), c.docId))
          .zipWithIndex.map { case (c, i) => c.docId -> (i + 1) }.toMap
        cands.foreach { c =>
          c.score = fr.get(c.docId).map(r => 1.0 / (HybridSearch.RrfK + r)).getOrElse(0.0) +
            vr.get(c.docId).map(r => 1.0 / (HybridSearch.RrfK + r)).getOrElse(0.0)
        }
      case other => sys.error(s"unknown fusion '$other' (expected mean or rrf)")
    }

    // ---- J1 candidate fetch: one `fetch` leg call ----
    // `tokens` rides along ONLY when the token-filter phrase fallback will
    // read it (phraseOnly on an artifact without the positions sidecar):
    // the column is content-sized per row — roughly doubling the fetch
    // bytes of every request — and nothing else in the tail consumes it
    // (round-16 self-hunt). Column pruning reaches the parquet scan on
    // disk-backed artifacts; the served arrays do not hold it at all.
    // the candidate restriction exists for docs the UNRESTRICTED legs can
    // surface: under phraseRank/nearRank the fts leg is restriction-pure
    // by construction, so when the vss leg contributed NOTHING (no
    // embedder, zero-norm query, or an empty leg) the filter is a no-op —
    // skip its per-request probe job instead of paying it (round-18; the
    // lane's phrase_rank/near_rank modes run embedder-less, so this is
    // one whole Spark job off each of those requests). phraseOnly and the
    // degraded no-sidecar fallbacks keep the filter unconditionally — the
    // fts leg is unrestricted there.
    val phraseFilter = (opts.phraseOnly ||
      (opts.phraseRank && (vss.nonEmpty || !phraseRanked))) && terms.nonEmpty
    val nearFilter = nearMode && (vss.nonEmpty || !nearRanked)
    val needTokens = (phraseFilter || nearFilter) && index.positions.isEmpty
    val fetchCols = ServedIndex.FetchCols ++ (if (needTokens) Seq("tokens") else Nil)
    val fetched: Map[String, Row] =
      if (ids.isEmpty) Map.empty else legs.fetch(ids, fetchCols)

    // ---- the ≤2k-row tail, driver-local ----
    final case class Hit(docId: String, filePath: String, headerPath: String,
        lineStart: Int, lineEnd: Int, content: String, tokens: Seq[String],
        fts: Option[Double], vss: Option[Double], var score: Double,
        var originalScore: Double = 0.0)
    var hits = cands.flatMap { c =>
      fetched.get(c.docId).map { r =>
        Hit(c.docId,
          rewritePathLocal(r.getString(1), opts.removePathPrefix, opts.addPathPrefix),
          r.getString(2), r.getInt(3), r.getInt(4), r.getString(5),
          if (needTokens) r.getSeq[String](6) else Nil,
          c.fts, c.vss, c.score)
      }
    }
    // under phraseRank/nearRank the fts leg is restriction-pure by
    // construction, but the vss leg can still surface non-matching docs
    // into the fused set — the candidate filter applies to both modes.
    // ONE restriction shape for both (round-18 review: the two blocks had
    // drifted into 12-line near-copies): with the sidecar, the probe runs
    // over the positional postings restricted to the ≤2k candidate ids —
    // each term leg a pruned probe of the term-clustered sidecar (pushed
    // equality + row-group stats), never a token-array scan, identical
    // results to the token filter (PhrasePostingsSpec/NearRankSpec pin
    // parity); without it, the driver-local candidate token scan.
    def restrictCandidates(cur: Seq[Hit],
        probe: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
        localMatch: Hit => Boolean): Seq[Hit] = index.positions match {
      case Some(_) if cur.nonEmpty =>
        val allowed = legs.allowed(cur.map(_.docId), probe)
        cur.filter(h => allowed.contains(h.docId))
      case _ => cur.filter(localMatch)
    }
    if (phraseFilter)
      hits = restrictCandidates(hits,
        PhraseSearch.phraseMatches(_, terms),
        h => phraseLocal(h.tokens, terms))
    if (nearFilter)
      hits = restrictCandidates(hits,
        PhraseSearch.sloppyPhraseMatches(_, opts.nearTerms, opts.nearWindow),
        h => sloppyLocal(h.tokens, opts.nearTerms, opts.nearWindow))

    val reranked = reranker match {
      case Some(rr) if opts.rerank =>
        hits.grouped(opts.rerankBatchSize).foreach { g =>
          val texts = g.map(h => truncateCodePoints(h.content, opts.rerankTruncate))
          val ss =
            try rr.score(query, texts).map(Option(_))
            catch { case scala.util.control.NonFatal(_) => g.map(_ => Option.empty[Double]) }
          g.lazyZip(ss).foreach { (h, s) =>
            h.originalScore = h.score
            h.score = s.getOrElse(h.score)
          }
        }
        hits.map { h =>
          Row(h.docId, h.filePath, h.headerPath, h.lineStart, h.lineEnd,
            h.content, h.score, h.fts.orNull, h.vss.orNull, h.originalScore)
        }
      case _ =>
        hits.map { h =>
          Row(h.docId, h.filePath, h.headerPath, h.lineStart, h.lineEnd,
            h.content, h.score, h.fts.orNull, h.vss.orNull)
        }
    }
    val withOriginal = reranker.isDefined && opts.rerank

    // P4/O3/O4/O5 with SPARK double semantics, not Scala primitive ones
    // (round-12 ADVICE): Spark orders NaN LARGER than any double (incl.
    // +Inf) and treats -0.0 == 0.0, so a NaN score from a custom Reranker
    // passes `score > t` and sorts FIRST under desc in the DAG path — the
    // primitive `>`/sortBy would silently drop it here and break the
    // bit-parity contract. (A NaN --threshold itself stays out of contract.)
    def norm(x: Double): Double = if (x == 0.0) 0.0 else x
    def sparkGt(a: Double, b: Double): Boolean =
      java.lang.Double.compare(norm(a), norm(b)) > 0
    val out = reranked
      .filter(r => sparkGt(r.getDouble(6), opts.scoreThreshold)) // P4
      .sortWith { (x, y) => // O3/O4: score desc (NaN first), doc_id asc
        val c = java.lang.Double.compare(norm(y.getDouble(6)), norm(x.getDouble(6)))
        if (c != 0) c < 0 else x.getString(0) < y.getString(0)
      }
      .take(opts.k) // O5

    val base = Seq(
      StructField("doc_id", StringType, nullable = false),
      StructField("file_path", StringType, nullable = false),
      StructField("header_path", StringType, nullable = true),
      StructField("line_start", IntegerType, nullable = false),
      StructField("line_end", IntegerType, nullable = false),
      StructField("content", StringType, nullable = false),
      StructField("score", DoubleType, nullable = false),
      StructField("fts_score", DoubleType, nullable = true),
      StructField("vss_score", DoubleType, nullable = true))
    val schema = StructType(
      if (withOriginal) base :+ StructField("original_score", DoubleType, nullable = false)
      else base)
    spark.createDataFrame(
      java.util.Arrays.asList(out: _*), schema)
  }

  /** Drop an index's served arrays ([[IndexData.served]]);
    * [[IndexData.uncacheAll]] drops them together with every cache pin.
    * Kept only because the benchmark's teardown calls it before
    * `uncacheAll` (`perfbench` IndexWorkload and ServeWorkload); it has no
    * other caller. `blocking` is unused: releasing driver arrays is
    * immediate. */
  private[graft] def releaseScored(index: IndexData, blocking: Boolean = false): Unit =
    index.served.foreach(_.release())

  /** Driver replica of [[HybridSearch.rewritePath]] (same Java regexes the
    * codegen'd expressions compile, incl. the os.path.join add semantics —
    * absolute/URI-schemed paths pass through, empty prefix is a no-op). */
  private val AbsoluteOrUriPattern =
    java.util.regex.Pattern.compile(HybridSearch.AbsoluteOrUriRe)

  private[search] def rewritePathLocal(path: String, remove: Option[String],
      add: Option[String]): String = {
    val removed = remove match {
      case Some(p) => path.replaceAll(
        "^(?:file:)?" + java.util.regex.Pattern.quote(HybridSearch.normPrefix(p)) + "/?", "")
      case None => path
    }
    add match {
      case Some(p) if p.nonEmpty =>
        if (AbsoluteOrUriPattern.matcher(removed).find()) removed
        else p.stripSuffix("/") + "/" + removed
      case _ => removed
    }
  }

  /** Driver replica of [[HybridSearch.phrasePredicate]]: `terms` appears in
    * `tokens` as an adjacent in-order run. */
  private[search] def phraseLocal(tokens: Seq[String], terms: Seq[String]): Boolean =
    tokens.sliding(terms.length).exists(_ == terms)

  /** Driver replica of [[HybridSearch.sloppyPredicate]] /
    * [[PhraseSearch.sloppyPhraseMatches]]: every term of `terms` appears IN
    * ORDER inside a span of at most `window` positions. Ordered-chain DFS
    * over the per-term occurrence lists — terms are 2-3 and the lists are
    * one candidate document's, so the search is trivially bounded. */
  private[search] def sloppyLocal(tokens: Seq[String], terms: Seq[String],
      window: Int): Boolean = {
    val occ = terms.map(t =>
      tokens.iterator.zipWithIndex.collect { case (`t`, i) => i }.toArray)
    if (occ.exists(_.isEmpty)) false
    else {
      def chain(j: Int, anchor: Int, prev: Int): Boolean =
        j == terms.length ||
          occ(j).exists(p => p > prev && p - anchor <= window &&
            chain(j + 1, anchor, p))
      occ(0).exists(a => chain(1, a, a))
    }
  }

  /** Driver replica of Spark's `substring(content, 1, n)` — UTF8String
    * substring counts CODE POINTS, not UTF-16 units (only differs on
    * astral-plane text, but a parity path replicates exactly). */
  private[search] def truncateCodePoints(s: String, n: Int): String =
    if (s.codePointCount(0, s.length) <= n) s
    else s.substring(0, s.offsetByCodePoints(0, n))
}
