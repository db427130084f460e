package graft.core

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

/** The engine's own session options are deployment settings, never
  * route switches: each operator runs one route, or picks one from its
  * own input. This pins the set of `spark.graft.*` keys the engine
  * source spells out, so a new option cannot land without this list
  * changing with it. The same pins hold the environment variables the
  * engine reads and its entry points (`def main`) to fixed sets.
  */
class SessionOptionSpec extends AnyFunSuite {

  private lazy val sources: Seq[(Path, String)] = {
    val files = Files.walk(Paths.get("src/main/scala")).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty, "no engine sources under src/main/scala")
    files.map(f => f -> Files.readString(f))
  }

  /** What `find` yields over every engine source must be exactly
    * `want`; a failure lists each finding with its file.
    */
  private def assertFound(want: Set[String])(find: String => Iterator[String]): Unit = {
    val found = sources.flatMap { case (f, text) => find(text).map(_ -> f) }
    assert(found.map(_._1).toSet == want,
      found.map { case (k, f) => s"$k ($f)" }.distinct.sorted.mkString("\n"))
  }

  private def quoted(pattern: String)(text: String): Iterator[String] =
    s""""($pattern)"""".r.findAllMatchIn(text).map(_.group(1))

  test("src/main reads no spark.graft option but the scratch directory") {
    assertFound(Set("spark.graft.scratchDir"))(quoted("""spark\.graft\.[^"]*"""))
  }

  test("src/main reads no SPARK_GRAFT variable but the core count and the Verify subset") {
    assertFound(Set("SPARK_GRAFT_CPUS", "SPARK_GRAFT_VERIFY_ONLY"))(quoted("""SPARK_GRAFT_[^"]*"""))
  }

  test("src/main has three entry points: Verify, FixtureGen and PlanDump") {
    // perfbench/ is the one timing harness: no main beside it times the engine
    val obj: Regex = """\bobject (\w+)""".r
    assertFound(Set("Verify", "FixtureGen", "PlanDump")) { text =>
      """\bdef main\(""".r.findAllMatchIn(text).map { m =>
        obj.findAllMatchIn(text.take(m.start)).map(_.group(1)).toSeq.lastOption
          .getOrElse("<no enclosing object>")
      }
    }
  }
}
