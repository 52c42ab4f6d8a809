package graft.perfbench

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.SparkSession

import graft.analyze.Analyzer
import graft.embed.Embedder
import graft.index.IndexData
import graft.serve.ServingIndex

/** The `graft.Cli` members the benchmark calls that are private to it:
  * how `graft serve` loads an artifact serving-ready (`serveReady`,
  * `openServing`) and how `Cli.runSearch` resolves the analyzer and
  * embedder from the artifact settings. They are called by reflection — the
  * program's own code, not a copy that could drift from it. */
object CliAccess {
  private val cli = graft.Cli
  private def method(name: String, types: Class[_]*) = {
    val m = cli.getClass.getDeclaredMethod(name, types: _*)
    m.setAccessible(true)
    m
  }
  private val analyzerFor = method("analyzerFor", classOf[IndexData])
  private val embedderFor = method("embedderFor", classOf[IndexData], classOf[String])
  private val serveReadyM =
    method("serveReady", classOf[SparkSession], classOf[String], classOf[Option[_]])
  private val openServingM = method("openServing", classOf[SparkSession], classOf[String],
    classOf[Option[_]], classOf[Option[_]])

  def analyzer(index: IndexData): Analyzer =
    analyzerFor.invoke(cli, index).asInstanceOf[Analyzer]

  def embedder(index: IndexData, db: String): Embedder =
    embedderFor.invoke(cli, index, db).asInstanceOf[Embedder]

  /** The artifact loaded as `graft serve --cache` (true) or `--no-cache`
    * (false) loads it. */
  def serveReady(spark: SparkSession, db: String, cache: Boolean): IndexData =
    serveReadyM.invoke(cli, spark, db, Some(cache)).asInstanceOf[IndexData]

  /** The serving handle `graft serve` opens, with the ANN mode it resolves
    * for `annArg` (None = no `--ann` flag); it re-resolves on every reload.
    * The reload check interval is `spark.graft.serve.reloadCheckIntervalMs`. */
  def openServing(spark: SparkSession, db: String, cache: Boolean,
      annArg: Option[String]): (ServingIndex, AtomicReference[(Int, Int)]) =
    openServingM.invoke(cli, spark, db, Some(cache), annArg)
      .asInstanceOf[(ServingIndex, AtomicReference[(Int, Int)])]
}
