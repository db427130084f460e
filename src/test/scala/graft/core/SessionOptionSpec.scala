package graft.core

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The engine's own session options are deployment settings, never
  * route switches: each operator runs one route, or picks one from its
  * own input. This pins the set of `spark.graft.*` keys the engine
  * source spells out, so a new option cannot land without this list
  * changing with it.
  */
class SessionOptionSpec extends AnyFunSuite {

  test("src/main reads no spark.graft option but the scratch directory") {
    val key = "\"(spark\\.graft\\.[^\"]*)\"".r
    val files = Files.walk(Paths.get("src/main/scala")).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty, "no engine sources under src/main/scala")
    val keys = files.flatMap { f =>
      key.findAllMatchIn(Files.readString(f)).map(m => m.group(1) -> f)
    }
    assert(keys.map(_._1).toSet == Set("spark.graft.scratchDir"),
      keys.map { case (k, f) => s"$k ($f)" }.distinct.sorted.mkString("\n"))
  }
}
