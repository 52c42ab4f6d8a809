package graft.tools

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic 10× scale-up of the sf0.1 testdata into a local sf1-shape
  * dataset (for the AQE/plan-shape audit only — correctness stays gated on
  * the driver-provided sf0.01 tables, which are never modified).
  *
  * Each fact table is replicated `factor` times with primary keys shifted
  * by `i · (max_key + 1)` so referential joins stay consistent across
  * replicas; dimension tables (region/nation) keep their original keys.
  * Event user_ids shift so sessions scale in COUNT, not per-user depth.
  *
  * Two scale MODES, selected by `SPARK_GRAFT_SCALE_MODE`, differing in what
  * they do to the similarity-bearing columns (document text, embeddings):
  *
  *  - `replicate` (default): texts get a per-replica marker token and
  *    embeddings are copied verbatim. Replicas form genuine 10-way near-dup
  *    FAMILIES, so LSH bucket DENSITY (Σ n_b² in-bucket pair growth) scales
  *    quadratically — a worst-case boilerplate-corpus stress for the dedup
  *    verify stages and their maxPerBucket cap.
  *  - `grow`: every replica's tokens are REMAPPED (per-replica suffix on
  *    each word → entirely new shingle/minhash space) and its embeddings
  *    are circularly ROTATED by the replica index (a rotated near-uniform
  *    vector is ~orthogonal to its original). New content adds BUCKETS at
  *    ~constant density — how an organically grown corpus scales — so an
  *    audit under `grow` isolates plan defects from replication-density
  *    artifacts by construction (the round-6 audit's confound).
  *
  *   SPARK_GRAFT_SCALE_MODE=grow SPARK_GRAFT_SCALE_OUT=/tmp/sf1g \
  *     sbt "runMain graft.tools.ScaleTestData"
  */
object ScaleTestData {

  def main(args: Array[String]): Unit = {
    val in = sys.env.getOrElse("SPARK_GRAFT_SCALE_IN", "/root/testdata/sf0.1")
    val out = sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT", "/tmp/sf1")
    val factor = sys.env.getOrElse("SPARK_GRAFT_SCALE_FACTOR", "10").toInt
    val mode = sys.env.getOrElse("SPARK_GRAFT_SCALE_MODE", "replicate")
    require(mode == "replicate" || mode == "grow",
      s"SPARK_GRAFT_SCALE_MODE must be replicate|grow, got '$mode'")
    // grow-mode invariant: the replica marker must stay ONE char, because
    // the portable tokHash probes shingle chars 1–3 — a 2-digit marker
    // (factor > 10) puts digits at BOTH probed positions 2 and 3 of every
    // word, collapsing per-replica shingle-hash diversity to the
    // (first-char × length) histogram (the degenerate case the growText
    // scaladoc documents). Measured: a factor=100 corpus made the LSH
    // dedup audit read 76–119× at 10× data purely from fixture bucket
    // density. Build larger decades by NESTING: grow(sf0.1, 10) →
    // /tmp/sf1g, then grow(/tmp/sf1g, 10) → /tmp/sf10g — single-digit
    // insertions compose, (new digit, old digit) keeps ~100 hash classes
    // per word position and buckets grow in COUNT at ~constant density.
    require(mode != "grow" || factor <= 10,
      s"grow mode supports factor <= 10 (got $factor); nest two grow runs " +
        "for larger decades (see the scaladoc invariant)")
    val spark = graft.GraftSession.create()

    def t(name: String): DataFrame = spark.read.parquet(s"$in/$name.parquet")
    def save(df: DataFrame, name: String): Unit = {
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[scale] $name ($mode) -> ${spark.read.parquet(s"$out/$name.parquet").count()} rows")
    }

    /** replica i's text: `replicate` appends a marker token (near-dup
      * family); `grow` rewrites every word (new shingle space). The grow
      * marker placement matters because the portable token hash the LSH
      * queries share with their oracle ([[graft.ops.Dedup.tokHash]]) probes
      * only chars 1–3 + length of the SHINGLE STRING: a same-width suffix
      * leaves every replica's hash identical to its siblings' (collapses
      * into one 9-way family per doc — replicate-density again), and a
      * uniform prefix is far worse (every shingle in a replica shares its
      * probed chars, so hash diversity collapses to the length histogram —
      * both measured). Inserting the replica digit at char 2 of each word
      * keeps original text at probed positions 1 and 3 (per-replica
      * diversity ≈ the real corpus) while shifting every replica into a
      * disjoint hash space (31·digit term) — buckets grow in COUNT at
      * ~constant density, the organic-corpus shape this mode exists to
      * model. */
    def growText(c: Column, i: Int): Column =
      if (mode == "grow")
        array_join(transform(split(c, " "),
          w => concat(substring(w, 1, 1), lit(i.toString), substring(w, 2, 10000))), " ")
      else concat(c, lit(s" rep$i"))

    /** replica i's embedding under `grow`: circular rotation by `i mod dim`
      * dims (the mod keeps the slice lengths non-negative for factors
      * larger than the embedding dim — rotation is circular anyway). */
    def growVec(c: Column, i: Int): Column = {
      val dim = size(c)
      val rot = lit(i) % dim
      concat(slice(c, rot + lit(1), dim - rot), slice(c, lit(1), rot))
    }

    /** Replicate with the listed long key columns shifted per replica. */
    def rep(df: DataFrame, shiftCols: Seq[String], textCol: Option[String] = None,
        vecCol: Option[String] = None): DataFrame = {
      val spans = shiftCols.map { c => c -> (df.agg(max(col(c))).head().getLong(0) + 1L) }.toMap
      (0 until factor).map { i =>
        val shifted = spans.foldLeft(df) { case (d, (c, span)) =>
          d.withColumn(c, col(c) + lit(i * span))
        }
        val texted = textCol match {
          case Some(tc) if i > 0 => shifted.withColumn(tc, growText(col(tc), i))
          case _                 => shifted
        }
        vecCol match {
          case Some(vc) if i > 0 && mode == "grow" =>
            texted.withColumn(vc, growVec(col(vc), i))
          case _ => texted
        }
      }.reduce(_ unionByName _)
    }

    // dims: unchanged (their keys are referenced, never shifted)
    save(t("region"), "region")
    save(t("nation"), "nation")
    // facts: shift every key that participates in a join or a uniqueness rule
    save(rep(t("customer"), Seq("c_custkey")), "customer")
    save(rep(t("supplier"), Seq("s_suppkey")), "supplier")
    save(rep(t("part"), Seq("p_partkey")), "part")
    save(rep(t("orders"), Seq("o_orderkey", "o_custkey")), "orders")
    save(rep(t("lineitem"), Seq("l_orderkey", "l_partkey", "l_suppkey")), "lineitem")
    save(rep(t("events"), Seq("event_id", "user_id")), "events")
    save(rep(t("documents"), Seq("doc_id"), textCol = Some("text")), "documents")
    save(rep(t("embeddings"), Seq("vec_id"), vecCol = Some("embedding")), "embeddings")
    spark.stop()
  }
}
