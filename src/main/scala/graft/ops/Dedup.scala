package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines (BASELINE.json
  * north-star surface): exact, MinHash+LSH, SimHash, n-gram Jaccard.
  *
  * All signature math is integer arithmetic over a portable token hash, so a
  * SQL oracle reproduces it exactly (see the `*Sql` mirrors). Everything is
  * expression-level (array HOFs + hash aggregates, no UDF), so the whole
  * dedup pipeline stays inside WholeStageCodegen.
  *
  * 100 TB posture: signatures are computed per-row (map-only); the only
  * shuffles are (a) the exact-dup `groupBy(contentHash)` and (b) the LSH
  * `groupBy(band, bucket)` — both key-partitioned, skew-bounded because a
  * band bucket only collects near-identical documents. Candidate
  * verification joins by doc id pairs, never all-pairs.
  */
object Dedup {

  /** Modulus for MinHash permutations (prime). */
  val P = 1000003L
  /** MinHash signature width — the number of (a·x+b mod P) permutations.
    * With [[RowsPerBand]] this sets the LSH S-curve: 8 hashes / 4 rows per
    * band ⇒ 2 bands, collision probability s⁴·(2 − s⁴) at Jaccard s. */
  val NumHashes = 8
  val RowsPerBand = 4 // ⇒ 2 bands

  /** Default bucket-density cap for BATCH candidate formation — the
    * streaming `maxPerBucket` contract ([[graft.streaming.NearDupStream]])
    * brought to the batch LSH verify stages. In-bucket pair count grows as
    * Σ n_b², and boilerplate-heavy real corpora produce dense buckets
    * organically (license headers, templated pages), so an uncapped verify
    * stage goes superlinear exactly when the data gets realistic. Capping
    * MEMBERSHIP per bucket at C bounds pairs at C(C−1)/2 per bucket no
    * matter how dense the corpus gets.
    *
    * RECALL CONTRACT (explicit, not silent): members are kept in
    * deterministic id order; a document beyond the cap in an oversized
    * bucket forms no candidate pairs through THAT bucket (it can still pair
    * through its other band, and an oversized bucket is near-identical
    * boilerplate whose survivors still represent the cluster). Both engines
    * apply the identical cap — it is part of the operator's semantics, and
    * the oracle SQL reproduces it row-for-row. */
  val MaxPerBucket = 256

  /** Portable token hash: a few ascii probes + length. Weak as a hash, but
    * deterministic, collision-tolerant (both engines see identical values),
    * and expressible in ANSI-ish SQL — the property the oracle needs.
    * ascii('') = 0 in both Spark and DuckDB, so short tokens are safe.
    *
    * ORACLE-ONLY: its effective range (~first-3-chars × length) SATURATES
    * as the corpus grows — measured on the grow-mode scale fixtures, the
    * in-bucket candidate-pair count went 3.7k → 76k → 13.6M across
    * 5k → 50k → 500k docs (20× then 178× per 10× docs), because unrelated
    * documents start colliding on minhashes of the crowded hash space. The
    * oracle-checked queries keep it (cross-engine parity is their point
    * and the driver corpus is small); every PRODUCTION consumer (curate
    * chain) hashes with [[prodTokHash]] instead — see
    * [[graft.queries.PipelineQueries.minhashVerifiedPairsOf]]'s `portable`
    * knob and the round-11 PLANS.md audit. */
  def tokHash(c: Column): Column =
    (ascii(substring(c, 1, 1)) * 961 +
      ascii(substring(c, 2, 1)) * 31 +
      ascii(substring(c, 3, 1)) +
      length(c) * 7919).cast("long")

  /** Production shingle hash: uniform 64-bit xxhash64 folded into
    * [0, [[ProdP]]) — collision probability per doc pair ~|shingles|/2³¹
    * instead of the portable hash's saturating range. Not SQL-portable
    * (DuckDB has no xxhash64), so only non-oracle consumers use it. */
  val ProdP = 2147483647L // 2^31 − 1, Mersenne prime
  def prodTokHash(c: Column): Column = pmod(xxhash64(c), lit(ProdP))

  def tokHashSql(e: String): String =
    s"CAST(ascii(substr($e, 1, 1)) * 961 + ascii(substr($e, 2, 1)) * 31 + " +
      s"ascii(substr($e, 3, 1)) + length($e) * 7919 AS BIGINT)"

  /** Token n-gram shingles as strings (default 3 — the dedup/decontam
    * shingle width; q_dedup_repeated_ngrams uses 8). Requires
    * size(tokens) >= n. ONE kernel for every sliding-window-over-tokens
    * consumer, mirrored exactly in [[shinglesSql]] (round-20 self-review:
    * the 8-gram query had hand-rolled a second copy). */
  def shingles(tokens: Column, n: Int = 3): Column =
    transform(sequence(lit(1), size(tokens) - (n - 1)),
      i => concat_ws(" ", slice(tokens, i, lit(n))))

  def shinglesSql(toks: String, n: Int = 3): String =
    s"list_transform(generate_series(1, len($toks) - ${n - 1}), " +
      s"i -> array_to_string($toks[i : i + ${n - 1}], ' '))"

  /** MinHash permutation parameters (fixed literals, mirrored in SQL). */
  def hashParams(j: Int): (Int, Int) = (2 * j + 3, 97 * j + 11)

  /** j-th MinHash of an array of shingle hashes: min((a·h + b) mod P). */
  def minhash(shingleHashes: Column, j: Int): Column = {
    val (a, b) = hashParams(j)
    array_min(transform(shingleHashes, h => (h * a + b) % P))
  }

  /** [[minhash]] over the production hash domain: same permutation
    * family, modulus [[ProdP]], pmod for sign-safety. h < 2³¹ and
    * a ≤ 2·7+3 per [[hashParams]], so h·a + b < 2⁴² — no ANSI overflow. */
  def minhashProd(shingleHashes: Column, j: Int): Column = {
    val (a, b) = hashParams(j)
    array_min(transform(shingleHashes, h => pmod(h * a + b, lit(ProdP))))
  }

  def minhashSql(hashesExpr: String, j: Int): String = {
    val (a, b) = hashParams(j)
    s"list_min(list_transform($hashesExpr, h -> (h * $a + $b) % $P))"
  }

  /** LSH band bucket from 4 consecutive minhashes (band `b` of 2). */
  def bandBucket(mh: Seq[Column], band: Int): Column = {
    val ws = Seq(31L, 37L, 41L, 43L)
    (0 until RowsPerBand).map(r => mh(band * RowsPerBand + r) * ws(r)).reduce(_ + _)
  }

  def bandBucketSql(mhCols: Seq[String], band: Int): String = {
    val ws = Seq(31, 37, 41, 43)
    (0 until RowsPerBand).map(r => s"${mhCols(band * RowsPerBand + r)} * ${ws(r)}").mkString(" + ")
  }

  /** Containment-calibrated band layout — the band-layout swap of LSH
    * Ensemble (Zhu et al., VLDB'16: partition the domain and tune (b, r)
    * per partition so sets at the CONTAINMENT threshold collide, not sets
    * at the jaccard threshold). With a fixed budget of [[NumHashes]] = 8
    * minhashes, the containment-recall-optimal member of the b·r = 8
    * family is (b = 8, r = 1): a short doc A fully contained in a long
    * boilerplate B has P(mh_j(A) = mh_j(B)) = jaccard(A,B) ≈ |A|/|B| —
    * arbitrarily small even at containment 1.0 — so a 4-row band collides
    * with probability j⁴ (≈ 10⁻⁵ at j = 0.05, the 20× size-ratio shape)
    * while ≥1 single-minhash collision happens with probability
    * 1 − (1−j)⁸ (0.34 at j = 0.05, 0.57 at j = 0.1, 0.96 at j = 0.33).
    * This is exactly the low-jaccard-floor operating point Zhu et al.'s
    * per-size-partition optimizer converges to; the price is denser
    * buckets (a bucket = every doc sharing one minhash value), which the
    * same cap/sub-split density policies bound — candidate formation stays
    * strictly in-bucket, never all-pairs, at any corpus size.
    *
    * Output: one (doc_id, band = j, bucket = mh_j) row per hash — same
    * shape as the jaccard bands, so every downstream consumer (cap,
    * sub-split, pair join, verify) is reused unchanged. */
  def containmentBands(sig: DataFrame): DataFrame =
    sig.select(col("doc_id"), explode(array(
      (0 until NumHashes).map(j =>
        struct(lit(j).as("band"), col(s"mh$j").as("bucket"))): _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))

  /** The batch bucket-density guard: keep only the first `maxPerBucket`
    * members of each bucket, in deterministic ascending-id order (see
    * [[MaxPerBucket]] for the recall contract). One row_number window
    * partitioned on the bucket key — the downstream pair join shuffles on
    * the same key, so the exchange is reused, not added. */
  def capBuckets(df: DataFrame, idCol: String, bucketKeys: Seq[String],
      maxPerBucket: Int = MaxPerBucket): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(bucketKeys.map(col): _*).orderBy(col(idCol).asc)
    df.withColumn("_bn", row_number().over(w))
      .filter(col("_bn") <= maxPerBucket).drop("_bn")
  }

  /** The other oversized-bucket policy: SUB-SPLIT instead of cap. Members of
    * a (band, bucket) group are assigned to contiguous blocks of
    * `maxPerBucket` in deterministic ascending-id order (`_sub` =
    * ⌊(rank−1)/C⌋), and candidate pairs form only inside a (bucket, sub)
    * block — so pairs per original bucket are bounded at ⌈n/C⌉·C(C−1)/2
    * (LINEAR in n, vs the uncapped Σ n_b² quadratic) while EVERY member
    * keeps forming pairs through its block.
    *
    * Trade-off vs [[capBuckets]], stated so operators can choose: the cap
    * drops docs beyond C from the bucket entirely (bounded pairs, bounded
    * recall loss concentrated on cap overflow); the sub-split keeps every
    * doc but loses cross-block pairs, so one oversized near-dup family may
    * surface as ⌈n/C⌉ pair-cliques instead of one (downstream connected
    * components no longer bridge them through this band — they can still
    * bridge through the other band's buckets). Both policies are
    * deterministic operator semantics reproduced row-for-row by the oracle.
    * Same window shape as the cap: one row_number over the bucket key the
    * pair join already shuffles on. */
  def subSplitBuckets(df: DataFrame, idCol: String, bucketKeys: Seq[String],
      maxPerBucket: Int = MaxPerBucket): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(bucketKeys.map(col): _*).orderBy(col(idCol).asc)
    df.withColumn("_sub", floor((row_number().over(w) - 1) / maxPerBucket))
  }

  /** Ordered in-bucket candidate pairs (doc_a < doc_b) from an
    * already-capped bands frame — the round-21 single-pipeline shape of the
    * LSH candidate stage. The former formulation self-joined `bands` with
    * itself on the bucket key, and because Catalyst broadcasts the build
    * side at fixture scale there was no Exchange to reuse: the WHOLE
    * signature pipeline (scan → tokenize → shingles → 8 minhashes → cap
    * window) executed twice per query (measured 1.34 s/pass steady at
    * sf0.1). This version groups the capped rows by their bucket key —
    * which reuses the cap window's hash partitioning, so NO new exchange —
    * into a sorted member array (bounded by the cap, ≤256 elements, so
    * per-group state is bounded at any corpus size) and explodes the
    * C(n,2) ordered pairs map-side. Candidate SET is identical: same
    * bucket membership, all ordered pairs within a bucket, `distinct`
    * across buckets as before.
    *
    * `bands` must already be density-capped (or sub-split): the
    * collect_list state bound is the cap's promise. */
  def inBucketPairs(bands: DataFrame, idCol: String,
      bucketKeys: Seq[String]): DataFrame = {
    val members = bands.groupBy(bucketKeys.map(col): _*)
      .agg(sort_array(collect_list(col(idCol))).as("_ms"))
      .filter(size(col("_ms")) >= 2)
    members.select(explode(flatten(transform(col("_ms"), (a, i) =>
        transform(slice(col("_ms"), i + 2, size(col("_ms"))),
          b => struct(a.as("a"), b.as("b")))))).as("_p"))
      .select(col("_p.a").as("doc_a"), col("_p.b").as("doc_b"))
      .distinct()
  }

  /** Re-spread a candidate-pair frame before a CPU-dense verify kernel.
    *
    * AQE sizes shuffle partitions by BYTES, so a candidate-pair frame a few
    * MB wide coalesces to ONE partition — and the verify kernel that follows
    * (a 200-char Levenshtein is ~0.5 ms/pair, ~1000× the per-byte cost of a
    * scan; exact Jaccard over shingle sets is the same class) runs on one
    * core while 31 idle (measured: 20 s single-core vs 1.3 s spread for 74k
    * pairs). One explicit round-robin exchange over the skinny pair rows
    * restores full-width execution; verify output is keyed by the pair, so
    * row placement is semantically irrelevant. The rule generalizes to any
    * cluster: partition count for a kernel stage must track CPU, not bytes —
    * this is the batch twin of sizing `maxFilesPerTrigger`, and at 100 TB
    * the same call sites stay correct because `defaultParallelism` is the
    * cluster's core count there. */
  def spreadForKernel(pairs: DataFrame): DataFrame =
    pairs.repartition(pairs.sparkSession.sparkContext.defaultParallelism)

  /** Exact duplicate groups: hash-groupBy on content (map-side partial agg;
    * one shuffle on the content hash, never on raw text at scale — group by
    * md5 so the shuffle key is 32 bytes, not the document). */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count("*").cast("long").as("n_dups"))

  /** Per-document MinHash signature columns mh0..mh{n-1} + band buckets.
    * Input must have ≥3 tokens per row (filter first). `portable` selects
    * the oracle-parity [[tokHash]] (default — every oracle-checked query)
    * or the saturation-free [[prodTokHash]] (production consumers: the
    * curate chain; see the tokHash scaladoc for the measured difference).
    *
    * Round 21: the signature math runs through the fused native kernel
    * ([[graft.functions.ShingleMinhashes]] — one compiled pass per row, no
    * intermediate shingle/hash arrays) instead of the interpreted
    * shingles→hash→8×minhash HOF chain, which measured 1.34 s/pass at
    * sf0.1. Values are bit-identical (KernelExpressionsSpec pins native
    * vs [[withMinhashSignatureHof]] per corpus row). */
  def withMinhashSignature(df: DataFrame, tokensCol: String,
      portable: Boolean = true): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val withArr = df.withColumn("_mharr", ColumnBridge.column(
      graft.functions.ShingleMinhashes(
        ColumnBridge.expression(col(tokensCol)), portable)))
    val withMh = (0 until NumHashes).foldLeft(withArr) { (acc, j) =>
      acc.withColumn(s"mh$j", element_at(col("_mharr"), j + 1))
    }
    val mh = (0 until NumHashes).map(j => col(s"mh$j"))
    withMh
      .withColumn("band0", bandBucket(mh, 0))
      .withColumn("band1", bandBucket(mh, 1))
      .drop("_mharr")
  }

  /** The pre-round-21 pure-HOF formulation of [[withMinhashSignature]] —
    * kept as the executable specification the native kernel is pinned
    * against (the [[graft.functions.VectorOps]] native-vs-HOF pattern). */
  def withMinhashSignatureHof(df: DataFrame, tokensCol: String,
      portable: Boolean = true): DataFrame = {
    val sh = transform(shingles(col(tokensCol)),
      s => if (portable) tokHash(s) else prodTokHash(s))
    val withH = df.withColumn("_sh", sh)
    val withMh = (0 until NumHashes).foldLeft(withH) { (acc, j) =>
      acc.withColumn(s"mh$j",
        if (portable) minhash(col("_sh"), j) else minhashProd(col("_sh"), j))
    }
    val mh = (0 until NumHashes).map(j => col(s"mh$j"))
    withMh
      .withColumn("band0", bandBucket(mh, 0))
      .withColumn("band1", bandBucket(mh, 1))
      .drop("_sh")
  }

  /** 16-bit SimHash over token hashes: bit b set iff the ±1 majority vote of
    * ((h >> b) & 1) is non-negative. */
  val SimhashBits = 16
  def simhash(tokenHashes: Column): Column =
    (0 until SimhashBits).map { b =>
      val vote = aggregate(tokenHashes, lit(0L),
        (acc, h) => acc + (shiftright(h, b).bitwiseAND(lit(1L)) * 2L - 1L))
      when(vote >= 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)

  def simhashSql(hashesExpr: String): String =
    (0 until SimhashBits).map { b =>
      s"(CASE WHEN list_sum(list_transform($hashesExpr, h -> ((h >> $b) & 1) * 2 - 1)) >= 0 " +
        s"THEN CAST(${1L << b} AS BIGINT) ELSE 0 END)"
    }.mkString(" + ")

  /** Embedding near-dup at scale: per-bucket nearest neighbor (via
    * [[Similarity.nearDupInBuckets]]) flagged under a cosine-distance
    * threshold. `bucketed` must already carry a bucket column (sign-LSH or
    * IVF assignment) — candidates only form inside a bucket, so the corpus
    * is never broadcast or collected (contrast the global kNN shape, which
    * is only valid for bounded query sets). */
  def nearDupByLsh(
      bucketed: DataFrame, idCol: String, vecCol: String, bucketCol: String,
      threshold: Double, maxPerBucket: Int = MaxPerBucket): DataFrame =
    Similarity.nearDupInBuckets(bucketed, idCol, vecCol, bucketCol, maxPerBucket)
      .withColumn("near_dup", round(col("dist"), 6) < threshold)

  /** Sorted distinct 3-gram shingle set — the verify-kernel input: sorting
    * once per DOCUMENT (≤ ~dl·log dl compares) lets every candidate PAIR
    * intersect by linear merge ([[intersectSize]]) instead of building a
    * per-pair hash set over the strings; set semantics (and so every
    * jaccard/containment value) are unchanged by the order. */
  def distinctShingles(tokens: Column): Column =
    sort_array(array_distinct(shingles(tokens)))

  /** |A∩B| of two [[distinctShingles]] columns — the codegen'd linear
    * merge ([[graft.functions.SortedIntersectSize]]); equals
    * `size(array_intersect(a, b))` on distinct inputs. */
  def intersectSize(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.functions.SortedIntersectSize(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
  }

  /** [[intersectSize]] behind an [[graft.functions.EvalOnce]] barrier — for
    * the containment verdicts, where the shared `_i` column feeds two
    * quotient columns AND the ≥T gate: without the barrier CollapseProject
    * + filter pushdown inline the kernel into every consumer and it runs
    * ~2× per candidate pair (round-21 plan: 3 `sorted_intersect_size`
    * occurrences where 1 was intended). Values are identical — the barrier
    * only pins ONE evaluation per pair. Use it only in a Project, Filter,
    * Aggregate or Window: EvalOnce is nondeterministic, so a join
    * condition, sort key or grouping key fails analysis. */
  def intersectSizeOnce(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.functions.EvalOnce(graft.functions.SortedIntersectSize(
      ColumnBridge.expression(a), ColumnBridge.expression(b))))
  }

  /** Exact Jaccard over two [[distinctShingles]] columns — same quotient
    * structure as [[jaccard]] (bit-identical doubles), intersection via
    * the sorted-merge kernel. */
  def jaccardSorted(a: Column, b: Column): Column = {
    val inter = intersectSize(a, b).cast("double")
    inter / (size(a).cast("double") + size(b).cast("double") - inter)
  }

  /** Exact Jaccard similarity of two DISTINCT-element array columns. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    inter / (size(a).cast("double") + size(b).cast("double") - inter)
  }

  def jaccardSql(a: String, b: String): String = {
    val inter = s"CAST(len(list_filter($a, x -> list_contains($b, x))) AS DOUBLE)"
    s"$inter / (CAST(len($a) AS DOUBLE) + CAST(len($b) AS DOUBLE) - $inter)"
  }

  /** Asymmetric containment of DISTINCT-element set `a` in `b`: |a∩b|/|a|.
    * The sub-document-duplication measure Jaccard misses: a short doc fully
    * embedded in a long one has jaccard ≈ |a|/|b| (arbitrarily small) but
    * containment(a,b) = 1. Requires size(a) > 0. */
  def containment(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(a).cast("double")

  def containmentSql(a: String, b: String): String =
    s"CAST(len(list_filter($a, x -> list_contains($b, x))) AS DOUBLE) / " +
      s"CAST(len($a) AS DOUBLE)"
}
