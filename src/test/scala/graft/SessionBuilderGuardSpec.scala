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

  test("only GraftSession.scala calls the SparkSession builder") {
    val files: Seq[Path] = Seq("src/main", "src/test").flatMap { root =>
      val s = Files.walk(Paths.get(root))
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    }
    assert(files.size > 100, s"scanned only ${files.size} files — wrong working directory?")
    val calls = files.map { f =>
      f -> builderCall.findAllMatchIn(new String(Files.readAllBytes(f), "UTF-8")).size
    }.filter(_._2 > 0)
    assert(calls.map { case (f, n) => f.getFileName.toString -> n } ==
      Seq("GraftSession.scala" -> 1), calls.mkString("\n"))
  }
}
