package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Physical-plan snapshot: `.explain("formatted")` for a panel of
  * flagship queries, written to one markdown file so the plan shapes
  * this engine argues for — scan pruning (PushedFilters/ReadSchema),
  * broadcast placement, partial aggregation, whole-stage-codegen
  * spans, the absence of shuffles under the bucketed join — are
  * reviewable as an artifact rather than only asserted in
  * PlanAuditSpec.
  *
  * Usage: runMain graft.tools.PlanDump <sfDir> <outFile> [wallsJson]
  *
  * With `wallsJson` (the BENCH_WALLS_LATEST.json artifact), the panel
  * additionally includes every BATCH query among the bench's slowest
  * 10, so each round's plan snapshot covers exactly the queries where
  * a plan regression costs the most. Streaming harnesses in the
  * slowest set are listed by name only: their registered DataFrame is
  * the DRAINED RESULT of a run-to-completion stream (a parquet
  * read-back), so the batch explain carries no operator information —
  * their regression signal is the bench artifact's `state_rows` +
  * batch counts.
  */
object PlanDump {

  /** Flagships: one per plan-shape claim the docs make. */
  val panel: Seq[String] = Seq(
    "q05_region_revenue",     // multi-join: broadcast dims, one fact scan
    "q21_waiting_supplier",   // exists/not-exists collapsed to aggregation
    "q19_disjunctive_revenue", // OR-of-ANDs residual after broadcast join
    "q_topk_per_group",       // windowed top-k, partial-ranked
    "q_dedup_minhash_pairs",  // banded LSH: no all-pairs anywhere
    "q_txt_decontaminate",    // broadcast benchmark set
    "q_evt_asof_native",      // AsOfJoinExec: one exchange per side, merge
    "q_evt_psi",              // sibling conditional sums, 1-row reference
    "q_sim_ann_ivf",          // partition-pruned probe of the cell store
    "q_layout_bucket_join",   // SMJ with zero exchanges (bucketed)
    "q_evt_range_join",       // native RangeJoinPlan -> bucket equi join
    "q_graph_triangles",      // checkpointed lineage + broadcast close
    "q_trk_table")            // link + track behind one fov exchange

  /** Slowest-10 query names from a Bench walls artifact (the first
    * JSON line of BENCH_WALLS_LATEST.json), parsed with a minimal
    * regex walk over the flat `"queries":{"name":sec,...}` object —
    * no JSON library on the classpath, and the shape is ours.
    */
  private[tools] def slowestFromWalls(wallsJson: String, n: Int = 10): Seq[String] = {
    val line = {
      val src = scala.io.Source.fromFile(wallsJson)
      try src.getLines().nextOption().getOrElse("") finally src.close()
    }
    val obj = """"queries"\s*:\s*\{([^}]*)\}""".r
      .findFirstMatchIn(line).map(_.group(1)).getOrElse("")
    """"([^"]+)"\s*:\s*([0-9.eE+-]+)""".r.findAllMatchIn(obj)
      .map(m => m.group(1) -> m.group(2).toDouble)
      .toSeq.sortBy(-_._2).take(n).map(_._1)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outFile = args(1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark: SparkSession = graft.core.GraftSession
      .builder(master = s"local[$cpus]", shufflePartitions = cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val slowest = args.drop(2).headOption.map(slowestFromWalls(_)).getOrElse(Nil)
    val (slowStream, slowBatch) = slowest.partition(_.startsWith("q_stream_"))
    // a walls artifact from a prior round may name queries since
    // renamed/removed — skip them rather than abort the whole snapshot
    val full = (panel ++ slowBatch.filterNot(panel.contains))
      .filter(SparkEntry.queries.contains)
    val sb = new StringBuilder
    sb.append("# Physical plans (generated by graft.tools.PlanDump)\n\n")
    sb.append(s"Source: `$sfDir`; Spark ${spark.version}; ")
    sb.append("plans are `explain(formatted)` of the registered queries.\n")
    if (slowest.nonEmpty) {
      sb.append(s"\nBench slowest-10 (from ${args(2)}): ")
      sb.append(slowest.mkString("`", "`, `", "`") + ".\n")
      if (slowStream.nonEmpty) {
        sb.append("Streaming harnesses in that set — ")
        sb.append(slowStream.mkString("`", "`, `", "`"))
        sb.append(" — are omitted below: their registered DataFrame is the ")
        sb.append("drained result of a run-to-completion stream (a parquet ")
        sb.append("read-back), so the batch explain carries no operator ")
        sb.append("information; regression signal for them is the bench ")
        sb.append("artifact's `state_rows` and batch counts.\n")
      }
    }
    full.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      sb.append(s"\n## $name\n\n```\n$plan```\n")
    }
    Files.writeString(Paths.get(outFile), sb.toString)
    println(s"wrote ${full.size} plans to $outFile")
    spark.stop()
  }
}
