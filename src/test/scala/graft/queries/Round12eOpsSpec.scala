package graft.queries

import java.sql.Timestamp

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

/** Round-12e operators: the plan-shape claims the scaladocs make
  * (exchange budgets, join strategies) asserted on real plans, plus
  * planted-fixture semantics the synthetic corpus can't exercise —
  * the half-open/day-split rules of the concurrency sweep and the
  * four CDC merge actions.
  */
class Round12eOpsSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  private def shuffles(df: org.apache.spark.sql.DataFrame): Seq[SparkPlan] = {
    df.collect()
    collect(df.queryExecution.executedPlan) { case e: ShuffleExchangeExec => e }
  }

  test("scd2: the whole dimension build is ONE hash shuffle plus the output sort") {
    val ex = shuffles(SparkEntry.queries("q_evt_scd2")(spark, sfDir))
    val hash = ex.count(_.outputPartitioning.toString.contains("hashpartitioning"))
    val range = ex.count(_.outputPartitioning.toString.contains("rangepartitioning"))
    assert(hash == 1, s"expected 1 hash exchange (user_id reused), got $hash:\n$ex")
    assert(range <= 1, s"only the ORDER BY may range-partition, got $range")
  }

  test("fuzzy dedup: the candidate join is a hash/merge EQUI-join on the variant, never nested-loop") {
    val df = SparkEntry.queries("q_dedup_fuzzy")(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"fuzzy join degenerated:\n$plan")
  }

  test("kmeans: corpus never shuffles into the centroid join (broadcast side is the 8-row relation)") {
    val df = SparkEntry.queries("q_emb_kmeans")(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"centroids not broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"corpus-side cartesian:\n$plan")
  }

  test("merge upsert: full-outer on user_id reuses the compaction partitioning (<=2 hash exchanges)") {
    val ex = shuffles(SparkEntry.queries("q_evt_merge_upsert")(spark, sfDir))
    val hash = ex.count(_.outputPartitioning.toString.contains("hashpartitioning"))
    assert(hash <= 2, s"merge should shuffle each side once on user_id, got $hash:\n$ex")
  }

  private def writeEvents(rows: Seq[(Long, String, Long, String, Double)]): String = {
    val dir = graft.TempDirs.create("r12e").toFile.getAbsolutePath
    rows.map { case (id, ts, uid, typ, v) =>
      (id, Timestamp.valueOf(ts), uid, typ, v, """{"k": 1}""")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    dir
  }

  test("concurrency sweep: half-open boundaries and midnight-crossing intervals, by hand") {
    // day 1: A[00:00,00:05) B[00:05,00:10) touch but never overlap (peak from C/D);
    //        C[00:06,00:11) D[00:08,00:13) overlap B,C,D -> peak 3 at 00:08
    // day 1->2: E[23:58,00:03) crosses midnight; day 2's only activity
    val dir = writeEvents(Seq(
      (1L, "2024-03-01 00:00:00", 1L, "click", 1.0),
      (2L, "2024-03-01 00:05:00", 1L, "click", 1.0),
      (3L, "2024-03-01 00:06:00", 2L, "click", 1.0),
      (4L, "2024-03-01 00:08:00", 3L, "click", 1.0),
      (5L, "2024-03-01 23:58:00", 4L, "click", 1.0)))
    val out = SparkEntry.queries("q_evt_concurrency")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val d0 = Timestamp.valueOf("2024-03-01 00:00:00").getTime / 86400000L
    val t = (s: String) => Timestamp.valueOf(s).getTime * 1000L
    assert(out.toSeq == Seq(
      (d0, 3L, t("2024-03-01 00:08:00")),
      (d0 + 1, 1L, t("2024-03-02 00:00:00"))), s"got ${out.toSeq}")
  }

  test("merge upsert: all four CDC actions on planted users") {
    // u1 snap-only, u2 same tier both sides, u3 tier change, u4 delta-only
    val dir = writeEvents(Seq(
      (1L, "2024-01-02 10:00:00", 1L, "purchase", 5.0),
      (2L, "2024-01-03 10:00:00", 2L, "purchase", 15.0),
      (3L, "2024-01-20 10:00:00", 2L, "purchase", 16.0), // still mid
      (4L, "2024-01-04 10:00:00", 3L, "purchase", 5.0),
      (5L, "2024-01-21 10:00:00", 3L, "purchase", 25.0), // low -> high
      (6L, "2024-01-22 10:00:00", 4L, "purchase", 5.0)))
    val out = SparkEntry.queries("q_evt_merge_upsert")(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getString(3))).toMap
    assert(out == Map(
      1L -> ("low", "carry"), 2L -> ("mid", "unchanged"),
      3L -> ("high", "update"), 4L -> ("low", "insert")), s"got $out")
  }
}
