package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Keeps session config and listener code in one place each: a main that
  * builds its own `SparkSession` or adds its own `SparkListener` lets the
  * engine a probe measures drift from the one `graft.Bench` times.
  */
class SessionGuardSpec extends AnyFunSuite {

  /** (file name, source with comments removed) for every main source. */
  private lazy val sources: Seq[(String, String)] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"$root not found from ${Paths.get("").toAbsolutePath}")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    files.map { (p: Path) =>
      val code = Files.readString(p)
        .replaceAll("(?s)/\\*.*?\\*/", "")
        .replaceAll("//[^\n]*", "")
      p.getFileName.toString -> code
    }
  }

  private def filesMatching(re: String): Seq[String] =
    sources.collect { case (f, code) if re.r.findFirstIn(code).isDefined => f }.sorted

  test("only GraftSession.scala calls SparkSession.builder") {
    assert(sources.size > 50)
    assert(filesMatching("""SparkSession\s*\.\s*builder""") == Seq("GraftSession.scala"))
  }

  test("only QueryProfile.scala defines a SparkListener") {
    assert(
      filesMatching("""(extends|with|new)\s+(org\.apache\.spark\.scheduler\.)?SparkListener(Interface)?\b""") ==
        Seq("QueryProfile.scala"))
  }
}
