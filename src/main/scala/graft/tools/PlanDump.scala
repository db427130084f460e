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
  * Usage: runMain graft.tools.PlanDump <sfDir> <outFile> [q1,q2,...]
  *
  * With the optional comma list, the file holds the plans of exactly
  * those registered queries instead of the panel; a name that is not
  * registered fails before any work.
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

  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outFile = args(1)
    val names = args.lift(2).map(SparkEntry.nameList)
      .fold(panel)(names => SparkEntry.select(Some(names)).map(_.name))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark: SparkSession = graft.core.GraftSession
      .builder(master = s"local[$cpus]", shufflePartitions = cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sb = new StringBuilder
    sb.append("# Physical plans (generated by graft.tools.PlanDump)\n\n")
    sb.append(s"Source: `$sfDir`; Spark ${spark.version}; ")
    sb.append("plans are `explain(formatted)` of the registered queries.\n")
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      sb.append(s"\n## $name\n\n```\n$plan```\n")
    }
    Files.writeString(Paths.get(outFile), sb.toString)
    println(s"wrote ${names.size} plans to $outFile")
    spark.stop()
  }
}
