package graft.queries

import java.sql.Timestamp

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

/** Round-12f operators: brute-force replays of the window-algebra
  * formulations (skyline dominance, attribution credits, compaction
  * bin math, association-rule ratios) on planted fixtures plus the
  * plan-shape claims their scaladocs make.
  */
class Round12fOpsSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  test("skyline: two-phase bucketed result equals the O(n^2) dominance definition") {
    val parts = Q.t(spark, sfDir, "part")
      .select(col("p_partkey"), col("p_size").cast("long"),
        round(col("p_retailprice") * 100).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val brute = parts.filter { case (_, sz, c) =>
      !parts.exists { case (_, sz2, c2) =>
        c2 <= c && sz2 >= sz && (c2 < c || sz2 > sz)
      }
    }.map(_._1).sorted.toSeq
    val got = SparkEntry.queries("q_part_skyline")(spark, sfDir)
      .collect().map(_.getLong(0)).toSeq
    assert(got == brute, s"skyline mismatch: got $got expected $brute")
  }

  test("skyline: phase-1 prune keeps the global window input tiny (survivors << n)") {
    // the declared-bounded global window rests on the union-of-bucket-
    // skylines theorem; measure the actual survivor count the phase-2
    // window sees on real data
    val n = Q.t(spark, sfDir, "part").count()
    val skyline = SparkEntry.queries("q_part_skyline")(spark, sfDir).count()
    assert(skyline <= 64 * (math.log(n.toDouble / 64 + 1) + 1),
      s"skyline $skyline rows vs bound for n=$n — prune not effective")
  }

  private def writeEvents(rows: Seq[(Long, String, Long, String, Double)]): String = {
    val dir = graft.TempDirs.create("r12f").toFile.getAbsolutePath
    rows.map { case (id, ts, uid, typ, v) =>
      (id, Timestamp.valueOf(ts), uid, typ, v, """{"k": 1}""")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    dir
  }

  test("attribution: last-touch and linear credits by hand") {
    // u1: click, view, purchase 10.00  -> lt=view,  linear 1/2 each
    // u2: view, click, click, purchase 20.00 -> lt=click, linear 2/3 click 1/3 view
    // u3: purchase with no touches -> excluded
    val dir = writeEvents(Seq(
      (1L, "2024-03-01 10:00:00", 1L, "click", 1.0),
      (2L, "2024-03-01 10:01:00", 1L, "view", 1.0),
      (3L, "2024-03-01 10:02:00", 1L, "purchase", 10.0),
      (4L, "2024-03-02 10:00:00", 2L, "view", 1.0),
      (5L, "2024-03-02 10:01:00", 2L, "click", 1.0),
      (6L, "2024-03-02 10:02:00", 2L, "click", 1.0),
      (7L, "2024-03-02 10:03:00", 2L, "purchase", 20.0),
      (8L, "2024-03-03 10:00:00", 3L, "purchase", 30.0)))
    val out = SparkEntry.queries("q_evt_attribution")(spark, dir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // click: lt on u2 (2000 cents); lin ppm 500000 + 666667;
    // lin cents-ppm round(1000*1e6/2) + round(2000*1e6*2/3)
    assert(out("click") == ((1L, 2000L, 1166667L, 1833333333L)), s"got ${out("click")}")
    // view: lt on u1 (1000 cents); lin ppm 500000 + 333333;
    // lin cents-ppm round(1000*1e6/2) + round(2000*1e6*1/3)
    assert(out("view") == ((1L, 1000L, 833333L, 1166666667L)), s"got ${out("view")}")
  }

  test("compaction: boundary-by-start-offset bin assignment by hand") {
    // srcA: sizes 3000,2000,3000,5000 -> start offsets 0,3000,5000,8000
    //   -> bins 0,0,1,1: bin0=5000 bin1=8000; fill = 13000/(2*4096)
    // srcB: one 9000-char file -> one bin, overshoot reported honestly
    val dir = graft.TempDirs.create("r12f").toFile.getAbsolutePath
    Seq((1L, "x", "en", "srcA", 3000L), (2L, "x", "en", "srcA", 2000L),
      (3L, "x", "en", "srcA", 3000L), (4L, "x", "en", "srcA", 5000L),
      (5L, "x", "en", "srcB", 9000L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("q_layout_compaction")(spark, dir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(out("srcA") == ((4L, 13000L, 2L, 8000L,
      math.round(1000000.0 * 13000 / (2 * 4096)))), s"got ${out("srcA")}")
    assert(out("srcB") == ((1L, 9000L, 1L, 9000L,
      math.round(1000000.0 * 9000 / 4096))), s"got ${out("srcB")}")
  }

  test("basket rules: support/confidence/lift by hand") {
    // orders: 1={A,B} 2={A,B} 3={A} -> supp A=3 B=2 pair=2 N=3
    val dir = graft.TempDirs.create("r12f").toFile.getAbsolutePath
    Seq((10L, "pA", "Brand#A", "t", 1, 1.0), (20L, "pB", "Brand#B", "t", 1, 1.0))
      .toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice")
      .write.parquet(s"$dir/part.parquet")
    Seq((1L, 10L), (1L, 20L), (2L, 10L), (2L, 20L), (3L, 10L),
      (2L, 10L)) // duplicate lineitem: brand sets must dedup
      .toDF("l_orderkey", "l_partkey")
      .write.parquet(s"$dir/lineitem.parquet")
    val out = SparkEntry.queries("q_basket_rules")(spark, dir).collect()
    assert(out.length == 1)
    val r = out.head
    assert((r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4),
      r.getLong(5), r.getLong(6), r.getLong(7)) ==
      (("Brand#A", "Brand#B", 2L, 3L, 2L, 666667L, 1000000L,
        math.round(1000000.0 * (2.0 / 3) * (3.0 / 2)))), s"got $r")
  }

  test("basket rules: candidate pass is an equi-join, marginals broadcast, no cartesian") {
    val df = SparkEntry.queries("q_basket_rules")(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian in basket plan:\n$plan")
    assert(plan.contains("BroadcastExchange"), s"marginals not broadcast:\n$plan")
  }
}
