package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Salted-join skew fixtures: the salted big×big join and its unsalted
  * sibling over a fixture with a genuinely HOT key — the scenario the
  * technique exists for. Bench's skew lane times the pair and SkewJoinSpec
  * pins the busiest task's record counts.
  *
  * Fixture: `lineitem` replicated `rep`× (row-explode, deterministic),
  * with `1/hotMod` of the probe rows remapped onto ONE hot orderkey — the
  * canonical power-user/boilerplate-document shape. Build side = `orders`
  * (contains the hot key once, like any dimension-ish fact).
  *
  * Explicit salting is the portable plan-level guarantee for KNOWN hot
  * keys: it also works on plans where AQE's runtime skew splitter can't —
  * e.g. under `spark.sql.adaptive.enabled=false` serving sessions.
  */
object SkewProbe {

  /** Salted shape (mirrors q_skew_salted_join): probe side gets a
    * deterministic salt from a non-key column; build side replicates S×;
    * join key becomes (key, salt). */
  def salted(li: DataFrame, o: DataFrame, s: Int): DataFrame = {
    val probe = li.withColumn("_salt",
      pmod(col("l_linenumber").cast("long") + col("_rep"), lit(s.toLong)))
    val build = o.withColumn("_salt", explode(sequence(lit(0L), lit(s.toLong - 1))))
    probe.join(build.hint("merge"),
        probe("l_orderkey") === build("o_orderkey") && probe("_salt") === build("_salt"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).cast("long").as("n_items"),
        sum((col("l_extendedprice").cast("decimal(18,2)") *
          (lit(BigDecimal(1)).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
          .cast("decimal(28,4)")).cast("double").as("revenue"))
      .orderBy("o_orderpriority")
  }

  def unsalted(li: DataFrame, o: DataFrame): DataFrame =
    li.join(o.hint("merge"), li("l_orderkey") === o("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).cast("long").as("n_items"),
        sum((col("l_extendedprice").cast("decimal(18,2)") *
          (lit(BigDecimal(1)).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
          .cast("decimal(28,4)")).cast("double").as("revenue"))
      .orderBy("o_orderpriority")

  /** `lineitem` × rep with `1/hotMod` of rows remapped to orderkey 1 —
    * the hot-key fixture. `_rep` rides along so the salt has entropy
    * beyond l_linenumber (≤7 distinct values). */
  def skewedProbeSide(li: DataFrame, rep: Int, hotMod: Int): DataFrame =
    li.withColumn("_rep", explode(sequence(lit(0L), lit(rep.toLong - 1))))
      .withColumn("l_orderkey",
        when(pmod(col("l_orderkey") + col("_rep"), lit(hotMod.toLong)) === 0, lit(1L))
          .otherwise(col("l_orderkey")))
}
