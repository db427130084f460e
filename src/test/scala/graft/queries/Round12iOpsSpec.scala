package graft.queries

import java.sql.Timestamp

import graft.{SparkEntry, SparkSpec}

/** Planted-fixture specs for the late round-12h censuses
  * (assortativity, Gini, Benford, ABC, stickiness): constructed inputs
  * whose expected outputs are closed-form — a star graph is exactly
  * disassortative, a uniform count vector has zero Gini, a 70/20/10
  * revenue split cuts exactly one part per ABC class.
  */
class Round12iOpsSpec extends SparkSpec {
  import spark.implicits._

  private def dir(): String =
    graft.TempDirs.create("r12i").toFile.getAbsolutePath

  test("assortativity: a star co-purchase graph is exactly disassortative (r = -1)") {
    val d = dir()
    // customer 0 orders from suppliers 1..6, one order per supplier
    val k = 6
    (1 to k).map(i => (i.toLong, 0L)).toDF("o_orderkey", "o_custkey")
      .write.parquet(s"$d/orders.parquet")
    (1 to k).map(i => (i.toLong, i.toLong)).toDF("l_orderkey", "l_suppkey")
      .write.parquet(s"$d/lineitem.parquet")
    val r = SparkEntry.queries("q_graph_assortativity")(spark, d).head()
    assert(r.getLong(0) == 2L * k, "directed edge count")
    assert(r.getLong(1) == -1000000L, s"star graph must give r = -1, got ${r.getLong(1)}")
  }

  private def writeEvents(d: String,
      rows: Seq[(Long, String, Long, String, Double)]): Unit =
    rows.map { case (id, ts, uid, typ, v) =>
      (id, Timestamp.valueOf(ts), uid, typ, v, """{"k": 1}""")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$d/events.parquet")

  test("gini: uniform counts give 0; concentration raises it toward (n-1)/n") {
    val d = dir()
    // 4 users x 3 events each: perfectly equal
    writeEvents(d, (0 until 12).map(i =>
      (i.toLong, "2024-03-01 00:01:00", (i % 4).toLong, "click", 1.0)))
    val eq = SparkEntry.queries("q_evt_gini")(spark, d).head()
    assert(eq.getLong(2) == 0L, s"uniform counts must give Gini 0, got ${eq.getLong(2)}")
    val d2 = dir()
    // user 0 has 9 events, users 1..3 one each: G = (2*33 - 5*12)/(4*12)
    writeEvents(d2, ((0 until 9).map(i => (i.toLong, "2024-03-01 00:01:00", 0L, "click", 1.0)) ++
      (1 to 3).map(u => ((8 + u).toLong, "2024-03-01 00:01:00", u.toLong, "click", 1.0))))
    val sk = SparkEntry.queries("q_evt_gini")(spark, d2).head()
    // ranked asc: 1,1,1,9 -> six = 1+2+3+36 = 42; G = (84 - 60)/48 = 0.5
    assert(sk.getLong(2) == 500000L, s"planted Gini must be 0.5, got ${sk.getLong(2)}")
    assert(sk.getLong(3) == 9L, "top decile (user 0 at rank 4 of 4) holds 9 events")
  }

  test("benford: planted digit census and literal expectations") {
    val d = dir()
    // cents: 199, 23, 25, 310 -> digits 1, 2, 2, 3
    writeEvents(d, Seq((1L, "2024-03-01 00:01:00", 1L, "x", 1.99),
      (2L, "2024-03-01 00:02:00", 1L, "x", 0.23),
      (3L, "2024-03-01 00:03:00", 1L, "x", 0.25),
      (4L, "2024-03-01 00:04:00", 1L, "x", 3.10)))
    val out = SparkEntry.queries("q_evt_benford")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq((1L, 1L, 250000L, 301030L),
      (2L, 2L, 500000L, 176091L), (3L, 1L, 250000L, 124939L)), s"got ${out.toSeq}")
  }

  test("abc: a 70/20/10 revenue split cuts exactly one part per class") {
    val d = dir()
    // undiscounted: r = cents*100; revenues 70, 20, 10 currency units
    Seq((1L, 70.0, 0.0, 1L), (2L, 20.0, 0.0, 2L), (3L, 10.0, 0.0, 3L))
      .map { case (ok, price, disc, pk) => (ok, price, disc, pk) }
      .toDF("l_orderkey", "l_extendedprice", "l_discount", "l_partkey")
      .write.parquet(s"$d/lineitem.parquet")
    val out = SparkEntry.queries("q_part_abc")(spark, d)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq(("A", 1L, 700000L), ("B", 1L, 200000L), ("C", 1L, 100000L)),
      s"got ${out.toSeq}")
  }

  test("stickiness: hand-computed DAU/MAU ratio") {
    val d = dir()
    // March: day 1 has users {1,2}, day 2 has {1}; MAU = 2, n_days = 2
    writeEvents(d, Seq((1L, "2024-03-01 10:00:00", 1L, "x", 1.0),
      (2L, "2024-03-01 11:00:00", 2L, "x", 1.0),
      (3L, "2024-03-02 10:00:00", 1L, "x", 1.0)))
    val r = SparkEntry.queries("q_evt_stickiness")(spark, d).head()
    assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)) == ((2L, 3L, 2L, 2L)))
    // floor(1e6 * 3 / (2*2)) = 750000
    assert(r.getLong(5) == 750000L, s"got ${r.getLong(5)}")
  }
}
