package graft.queries

import java.sql.Timestamp

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.functions._

/** Round-12g operators (gap fill, ACF, column profiler): planted
  * fixtures with hand-computed expectations — a constructed gap to
  * fill, a perfectly periodic series whose autocorrelations are
  * exactly ±1 — plus profiler invariants on real data.
  */
class Round12gOpsSpec extends SparkSpec {
  import spark.implicits._

  private def writeEvents(rows: Seq[(Long, String, Long, String, Double)]): String = {
    val dir = graft.TempDirs.create("r12g").toFile.getAbsolutePath
    rows.map { case (id, ts, uid, typ, v) =>
      (id, Timestamp.valueOf(ts), uid, typ, v, """{"k": 1}""")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    dir
  }

  test("gap fill: zero-count gap hours, forward-filled revenue, honest filled flag") {
    // clicks at hour H and H+3 (gap at H+1, H+2); views at H only
    val dir = writeEvents(Seq(
      (1L, "2024-03-01 00:10:00", 1L, "click", 2.0),
      (2L, "2024-03-01 00:20:00", 2L, "click", 3.0),
      (3L, "2024-03-01 03:30:00", 1L, "click", 7.0),
      (4L, "2024-03-01 00:40:00", 3L, "view", 1.0)))
    val out = SparkEntry.queries("q_evt_gap_fill")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1) -
        Timestamp.valueOf("2024-03-01 00:00:00").getTime / 3600000,
        r.getLong(2), r.getLong(3), r.getBoolean(4)))
    val clicks = out.filter(_._1 == "click").map(t => (t._2, t._3, t._4, t._5))
    assert(clicks.toSeq == Seq(
      (0L, 2L, 500L, false), (1L, 0L, 500L, true),
      (2L, 0L, 500L, true), (3L, 1L, 700L, false)), s"got ${clicks.toSeq}")
    val views = out.filter(_._1 == "view").map(t => (t._2, t._3, t._4, t._5))
    assert(views.toSeq == Seq((0L, 1L, 100L, false)), s"got ${views.toSeq}")
  }

  test("acf: a period-2 series correlates exactly -1 at odd lags, +1 at even") {
    // hourly counts 1,3,1,3,1,3,1,3 over 8 hours: every power sum is a
    // small exact integer, so r is EXACTLY +-1 and the ppm rounding has
    // nothing to hide
    val base = "2024-03-01 %02d:15:00"
    var id = 0L
    val rows = (0 until 8).flatMap { h =>
      val n = if (h % 2 == 0) 1 else 3
      (0 until n).map { _ => id += 1
        (id, base.format(h), id, "click", 1.0) }
    }
    val out = SparkEntry.queries("q_evt_acf")(spark, writeEvents(rows))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out == Seq((1, 7L, -1000000L), (2, 6L, 1000000L),
      (3, 5L, -1000000L), (6, 2L, 1000000L)), s"got $out")
  }

  test("kcore: the distributed peel equals a plain-Scala peel, and every k converges") {
    val sfDir = "/root/testdata/sf0.001"
    val li = Q.t(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val byOrder = li.groupBy(_._1).values
    val edges0 = byOrder.flatMap { lines =>
      val pks = lines.map(_._2).distinct.sorted
      for (i <- pks.indices; j <- i + 1 until pks.length) yield (pks(i), pks(j))
    }.toSet
    def peel(k: Int): (Long, Long) = {
      var e = edges0
      var n = -1
      while (e.size != n) {
        n = e.size
        val deg = e.toSeq.flatMap(p => Seq(p._1, p._2))
          .groupBy(identity).view.mapValues(_.size)
        val keep = deg.filter(_._2 >= k).keySet
        e = e.filter(p => keep(p._1) && keep(p._2))
      }
      val nodes = e.flatMap(p => Seq(p._1, p._2))
      (nodes.size.toLong, e.size.toLong)
    }
    val got = graft.SparkEntry.queries("q_graph_kcore")(spark, sfDir)
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    for (k <- graft.queries.GraphQueries.kcoreKs) {
      val (nn, ne) = peel(k)
      assert(got(k) == ((nn, ne, true)), s"k=$k: got ${got(k)}, brute ($nn, $ne)")
    }
  }

  test("approx sum: Horvitz-Thompson scale-up and realized error by hand") {
    // 2654435761 ≡ 1 (mod 8), so sample membership here is exactly
    // id % 8 == 0: event 8 is the one sampled purchase
    val dir = writeEvents(Seq(
      (8L, "2024-03-01 10:00:00", 1L, "purchase", 10.0),
      (1L, "2024-03-01 11:00:00", 1L, "purchase", 30.0),
      (2L, "2024-03-01 12:00:00", 2L, "purchase", 50.0)))
    val r = SparkEntry.queries("q_approx_sum")(spark, dir).collect().head
    // exact = 9000 cents; sample = {id 8}: 1000 cents -> est 8000
    assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)) ==
      ((3L, 9000L, 1L, 8000L, math.round(1000000.0 * 1000 / 9000))), s"got $r")
  }

  test("k-anonymity: class census at both generalization levels by hand") {
    // nation 1 / seg A: balances 500, 700 (bucket 0) and -500 (bucket -1)
    // nation 2 / seg A: balance 1500 (bucket 1)
    val dir = graft.TempDirs.create("r12g").toFile.getAbsolutePath
    Seq((1L, "c1", 1L, 5.0, "A"), (2L, "c2", 1L, 7.0, "A"),
      (3L, "c3", 1L, -5.0, "A"), (4L, "c4", 2L, 1500.0, "A"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .write.parquet(s"$dir/customer.parquet")
    val out = SparkEntry.queries("q_priv_kanon")(spark, dir)
      .collect().map(r => (r.getString(0), r.getInt(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // full QI: classes {n1,A,0}=2 {n1,A,-1}=1 {n2,A,1}=1 -> 3 classes
    assert(out(("nation_segment_balance", 2)) == ((3L, 2L, 2L)))
    assert(out(("nation_segment_balance", 5)) == ((3L, 3L, 4L)))
    // generalized: {n1,A}=3 {n2,A}=1 -> 2 classes; only n2 below k=2
    assert(out(("nation_segment", 2)) == ((2L, 1L, 1L)))
    assert(out(("nation_segment", 5)) == ((2L, 2L, 4L)))
  }

  test("profiler: exact stats agree with directly-computed ground truth on real data") {
    val sfDir = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("q_dq_profile")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5),
          r.getString(6), r.getString(7))).toMap
    assert(out.size == 6)
    val ev = Q.t(spark, sfDir, "events")
    val truth = ev.agg(count(lit(1)), countDistinct(col("user_id")),
      min("user_id").cast("string"), max("user_id").cast("string")).head()
    val (n, nNull, ndv, hllOk, minS, maxS) = out(("events", "user_id"))
    assert(n == truth.getLong(0) && nNull == 0L && ndv == truth.getLong(1))
    assert(hllOk, "HLL estimate outside 3-sigma of exact NDV")
    assert(minS == truth.getString(2) && maxS == truth.getString(3))
    assert(out.values.forall(_._4), "every audited column's HLL verdict must hold")
  }
}
