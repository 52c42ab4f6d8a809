package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the serving-session In-pushdown posture (round-11 ADVICE): Spark
  * silently converts a pushed `In(…)` parquet filter to a min/max RANGE
  * predicate once the value list exceeds
  * `spark.sql.parquet.pushdown.inFilterThreshold` (default 10) — on a
  * term-sorted postings layout a >10-distinct-term natural-language query
  * then spans the whole alphabet between its terms and loses row-group
  * pruning. The conversion is INVISIBLE in the plan string (`PushedFilters:
  * [In(term, …)]` prints either way — it is the parquet-level predicate
  * that changes), so this spec asserts the thing that actually matters:
  * ROWS READ, via task input metrics over a term-sorted multi-file fixture.
  * [[GraftSession]] raises the threshold for every session to
  * [[Cli.ServingInFilterThreshold]], so this spec sets each side of the
  * cliff itself; q_f4_bm25_longquery pins the >10-term SCORING semantics
  * cross-engine, and PLANS.md round-12 carries the at-scale evidence. */
class SessionConfSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // a 12-distinct-term query — deliberately past the default threshold
  private val twelve = Seq("alpha", "bravo", "charlie", "delta", "echo",
    "foxtrot", "golf", "hotel", "india", "juliet", "kilo", "lima")
  // filler terms lexically BETWEEN the query terms: a [alpha..lima] range
  // predicate cannot prune them, a true 12-value In predicate can
  private val fillers = Seq("amble", "bronze", "cipher", "dusk", "ember",
    "frost", "gorge", "hollow", "iris", "jumble", "kelp")

  private lazy val dir: String = {
    val d = java.nio.file.Files.createTempDirectory("inpush").toString
    val df = (twelve ++ fillers).toDF("term").withColumn("df", lit(1L))
    // one row per file: every file is one row group with tight min=max
    // term stats — the unit parquet row-group pruning operates on
    df.repartitionByRange(twelve.size + fillers.size, col("term"))
      .write.mode("overwrite").parquet(d)
    d
  }

  /** Rows actually read off parquet (post row-group pruning, pre filter)
    * for the 12-term query at the given threshold. */
  private def rowsRead(thr: String): Long = {
    val key = "spark.sql.parquet.pushdown.inFilterThreshold"
    val was = spark.conf.get(key)
    try {
      spark.conf.set(key, thr)
      // expectNonZero: the 12 matching rows are always read — a slow-bus 0
      // would fail the `servingRead == twelve.size` check spuriously
      val (n, read) = graft.util.InputMetrics.rowsRead(spark, expectNonZero = true) {
        spark.read.parquet(dir)
          .filter(col("term").isin(twelve: _*)).count()
      }
      assert(n == twelve.size) // both predicate shapes agree on the ANSWER
      read
    } finally spark.conf.set(key, was)
  }

  test("12-term In prunes row groups at the serving threshold — and loses " +
      "the pruning at Spark's default 10 (the cliff the config exists for)") {
    assert(Cli.ServingInFilterThreshold.toInt >= 1000) // room for any real query
    val servingRead = rowsRead(Cli.ServingInFilterThreshold)
    val defaultRead = rowsRead("10")
    // serving posture: only the 12 matching row groups are read; default
    // posture: the degraded [alpha..lima] range predicate also reads every
    // filler row group sitting between the query terms
    assert(servingRead == twelve.size,
      s"expected only the ${twelve.size} matching row groups read, got $servingRead")
    assert(defaultRead >= twelve.size + fillers.size,
      s"expected the degraded range predicate to read the ${fillers.size} " +
        s"filler row groups too, got $defaultRead (did the Spark default change?)")
  }
}
