package graft

/** Local smoke runner: executes the flagship `SparkEntry.entry` hybrid-search
  * query (what the driver's t1 smoke does) and prints the hits. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.create()
    val df = SparkEntry.entry(spark)
    val rows = df.collect()
    println(s"entry returned ${rows.length} rows:")
    df.show(20, 80, vertical = false)
    require(rows.nonEmpty, "entry must return rows")

    val rollup = graft.streaming.EventsStream.runOnce(spark, "/root/testdata/sf0.001")
    println(s"streaming hourly rollup: ${rollup.count()} buckets")
    rollup.orderBy("bucket_start", "event_type").show(5)
    spark.stop()
  }
}
