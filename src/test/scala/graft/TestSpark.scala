package graft

import org.apache.spark.sql.SparkSession

/** One SparkSession shared by every suite (sbt runs tests in one forked
  * JVM): the [[GraftSession]] posture at a fixed 4 threads. */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.create(workers = Some(4))
}
