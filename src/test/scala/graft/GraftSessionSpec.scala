package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the one session posture every entry point and spec runs under
  * ([[GraftSession]]), so Bench, the oracle gate and `graft serve` cannot
  * drift apart again. */
class GraftSessionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("factory posture: cpus-wide shuffles, UTC, serving In threshold, " +
      "8192-entry codegen cache, planner rules installed") {
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(spark.conf.get("spark.sql.parquet.pushdown.inFilterThreshold") ==
      Cli.ServingInFilterThreshold)
    assert(GraftSession.CodegenCacheEntries == 8192)
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "8192")
    assert(spark.experimental.extraStrategies.contains(graft.plans.CosineKnnStrategy))
    assert(spark.experimental.extraOptimizations.contains(graft.plans.AnnTopKRewrite))
  }

  test("cpus: explicit workers > SPARK_GRAFT_CPUS > available cores") {
    assert(GraftSession.cpus(Some(3)) == 3)
    assert(GraftSession.cpus() == sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors()))
    val e = intercept[IllegalArgumentException](GraftSession.cpus(Some(0)))
    assert(e.getMessage.contains("--workers must be >= 1"))
  }

  test("a thread count from outside the program must be a positive integer; " +
      "anything else is a named error giving its source and value") {
    // the parser alone: no session is created with these values
    assert(GraftSession.positiveInt("SPARK_GRAFT_CPUS", " 3 ") == 3)
    Seq("abc", "0", "-1").foreach { raw =>
      val e = intercept[GraftSession.InvalidCpus](
        GraftSession.positiveInt("SPARK_GRAFT_CPUS", raw))
      assert(e.getMessage == s"SPARK_GRAFT_CPUS must be a positive integer, got '$raw'")
    }
    val w = intercept[GraftSession.InvalidCpus](GraftSession.positiveInt("--workers", "abc"))
    assert(w.getMessage == "--workers must be a positive integer, got 'abc'")
  }
}
