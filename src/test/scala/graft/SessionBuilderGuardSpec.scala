package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Keeps [[GraftSession]] the only code that builds a SparkSession: a
  * second builder call would bring back per-entry-point session settings that
  * drift from the factory's (the oracle gate without the serving In
  * threshold, `graft serve` without the planner rules). */
class SessionBuilderGuardSpec extends AnyFunSuite {
  // assembled so this file does not match itself
  private val builderCall = ("SparkSession" + """\s*\.\s*[bB]uilder""").r
  private val weakMap = ("Weak" + "HashMap").r
  private val layoutSniff =
    """columns\s*\.\s*contains\(\s*"(dl|assign_dist|err_sum)"\s*\)""".r

  private def scalaFiles(minFiles: Int, roots: String*): Seq[Path] = {
    val files = roots.flatMap { root =>
      val s = Files.walk(Paths.get(root))
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    }
    assert(files.size > minFiles, s"scanned only ${files.size} files — wrong working directory?")
    files
  }

  private def matches(files: Seq[Path], re: scala.util.matching.Regex): Seq[(Path, Int)] =
    files.map { f =>
      f -> re.findAllMatchIn(new String(Files.readAllBytes(f), "UTF-8")).size
    }.filter(_._2 > 0)

  test("only GraftSession.scala calls the SparkSession builder") {
    val calls = matches(scalaFiles(100, "src/main", "src/test"), builderCall)
    assert(calls.map { case (f, n) => f.getFileName.toString -> n } ==
      Seq("GraftSession.scala" -> 1), calls.mkString("\n"))
  }

  /** Per-artifact serving state lives on the loaded [[graft.index.IndexData]]
    * instance and goes with it; a process-global map keyed by DataFrame
    * identity would need a second teardown call next to `uncacheAll`. */
  test("no src/main file declares a weak-keyed map") {
    val decls = matches(scalaFiles(50, "src/main"), weakMap)
    assert(decls.isEmpty, decls.mkString("\n"))
  }

  /** The artifact format is one named decision
    * ([[graft.index.IndexData.FormatVersion]]), checked at load: a read path
    * that sniffs for a column the format guarantees would keep a second,
    * older layout alive. */
  test("no src/main file sniffs a column the artifact format guarantees") {
    val sniffs = matches(scalaFiles(50, "src/main"), layoutSniff)
    assert(sniffs.isEmpty, sniffs.mkString("\n"))
  }
}
