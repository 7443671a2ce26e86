package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Architecture check: [[GraftSession.local]] is the only place in the
  * library that builds a SparkSession, so session conf (and anything
  * later added to the recipe) cannot drift between entry points.
  */
class SessionRecipeSpec extends AnyFunSuite {

  test("only GraftSession.scala calls SparkSession.builder under src/main/scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: ${root.toAbsolutePath}")
    val call = """SparkSession\s*\.\s*builder\b""".r
    val files = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala")).toList
    assert(files.exists(_.getFileName.toString == "GraftSession.scala"))
    val offenders: List[Path] = files.filter { p =>
      p.getFileName.toString != "GraftSession.scala" &&
        call.findFirstIn(Files.readString(p)).isDefined
    }
    assert(offenders.isEmpty,
      s"build the session with GraftSession.local instead: ${offenders.mkString(", ")}")
  }
}
