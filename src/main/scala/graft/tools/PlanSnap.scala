package graft.tools

import java.nio.file.{Files, Paths}

import graft.SparkEntry

/** Per-query `.explain("formatted")` snapshots for the optimization
  * round's before/after plan evidence (plans/r18/<query>_<tag>.txt).
  *
  * Usage: runMain graft.tools.PlanSnap <sfDir> <outDir> <tag> q1,q2,...
  *
  * Streaming-drain queries are skipped with a stub file: their
  * registered DataFrame is the read-back of a drained stream, so the
  * batch explain carries no operator information (same rationale as
  * PlanDump's slowest-10 panel).
  */
object PlanSnap {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, tag, names) = args.take(4)
    // an unregistered name throws here, listing it, before any work
    val selected = SparkEntry.select(Some(names.split(',').map(_.trim).filter(_.nonEmpty).toSet))
    val spark = graft.core.GraftSession.get()
    graft.core.GraftSession.applyExtraConf(spark)
    Files.createDirectories(Paths.get(outDir))
    selected.foreach { d =>
      val out = Paths.get(outDir, s"${d.name}_$tag.txt")
      val txt =
        if (d.name.startsWith("q_stream_"))
          "(streaming drain harness: the registered DataFrame is the " +
            "drained result read back from parquet; batch explain " +
            "carries no operator information — see the stream builder " +
            "in streaming/StreamOps.scala and the bench state_rows " +
            "artifact for this query's regression signal)\n"
        else {
          val df = d.build(spark, sfDir)
          df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode) + "\n"
        }
      Files.write(out, txt.getBytes("UTF-8"))
      System.err.println(s"[plansnap] wrote $out")
    }
    spark.stop()
  }
}
