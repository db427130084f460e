package graft.queries

import java.sql.Timestamp

import graft.{SparkEntry, SparkSpec}

/** Planted-fixture specs for the round-12 late additions (TPC-H Q4
  * exists-join, l-diversity ladder, Kaplan–Meier survival, centroid
  * silhouette): constructed inputs whose expected outputs are
  * closed-form — one late line flips an order's EXISTS verdict, a
  * 5-bucket class clears l=5 while a 2-bucket one fails it, two
  * deaths out of four at-risk users give S = 0.75 then 0.5, and a
  * {0,0,0,8} vs {8,8} split yields exact integer silhouettes.
  */
class Round12jOpsSpec extends SparkSpec {
  import spark.implicits._

  private def dir(): String =
    graft.TempDirs.create("r12j").toFile.getAbsolutePath

  test("q04: one late line flips EXISTS; window excludes 1995 orders") {
    val d = dir()
    Seq(
      (1L, Timestamp.valueOf("1996-02-01 00:00:00"), "1-URGENT"),
      (2L, Timestamp.valueOf("1996-03-01 00:00:00"), "1-URGENT"),
      (3L, Timestamp.valueOf("1995-06-01 00:00:00"), "5-LOW"),
      (4L, Timestamp.valueOf("1996-07-01 00:00:00"), "5-LOW"))
      .toDF("o_orderkey", "o_orderdate", "o_orderpriority")
      .write.parquet(s"$d/orders.parquet")
    Seq(
      (1L, Timestamp.valueOf("1996-02-15 00:00:00")), // on time
      (1L, Timestamp.valueOf("1996-05-01 00:00:00")), // late -> counts once
      (2L, Timestamp.valueOf("1996-03-10 00:00:00")), // on time only
      (3L, Timestamp.valueOf("1995-12-01 00:00:00")), // late, but 1995 order
      (4L, Timestamp.valueOf("1996-09-15 00:00:00"))) // 76 days -> late
      .toDF("l_orderkey", "l_shipdate")
      .write.parquet(s"$d/lineitem.parquet")
    val out = SparkEntry.queries("q04_order_priority")(spark, d)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(out.toSeq == Seq(("1-URGENT", 1L), ("5-LOW", 1L)), s"got ${out.toSeq}")
  }

  test("tclose: uniform vs concentrated class both sit at EMD 0.25; merged rung at 0") {
    val d = dir()
    // seg A uniform over 4 buckets, seg B all in bucket 0: both ECDFs
    // deviate from the pooled global by sum 24 -> t = 24/(4·8·3) = 0.25;
    // the nation rung pools them into the global itself -> t = 0
    (Seq(0.0, 1000.0, 2000.0, 3000.0).map(b => (0, "A", b)) ++
      Seq.fill(4)((0, "B", 0.0)))
      .toDF("c_nationkey", "c_mktsegment", "c_acctbal")
      .write.parquet(s"$d/customer.parquet")
    val out = SparkEntry.queries("q_priv_tclose")(spark, d)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(out.toSeq == Seq(
      ("nation", 1L, 0L, 0L, 0L),
      ("nation_segment", 2L, 250000L, 2L, 8L)), s"got ${out.toSeq}")
  }

  test("ldiv: a 5-bucket class clears l=5, a 2-bucket one fails; nation rung merges them") {
    val d = dir()
    // nation 0 / seg A: balances land in buckets 0..4 (l=5, sz=5);
    // nation 0 / seg B: buckets {0,1} (l=2, sz=2)
    (Seq(0.0, 1000.0, 2000.0, 3000.0, 4000.0).map(b => (0, "A", b)) ++
      Seq(0.0, 1000.0).map(b => (0, "B", b)))
      .toDF("c_nationkey", "c_mktsegment", "c_acctbal")
      .write.parquet(s"$d/customer.parquet")
    val out = SparkEntry.queries("q_priv_ldiv")(spark, d)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out.toSeq == Seq(
      ("nation", 5, 1L, 0L, 0L),
      ("nation", 8, 1L, 1L, 7L),
      ("nation", 11, 1L, 1L, 7L),
      ("nation_segment", 5, 2L, 1L, 2L),
      ("nation_segment", 8, 2L, 2L, 7L),
      ("nation_segment", 11, 2L, 2L, 7L)), s"got ${out.toSeq}")
  }

  private def writeEvents(d: String,
      rows: Seq[(Long, String, Long, String, Double)]): Unit =
    rows.map { case (id, ts, uid, typ, v) =>
      (id, Timestamp.valueOf(ts), uid, typ, v, """{"k": 1}""")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$d/events.parquet")

  test("survival: two deaths among four at-risk give S = 0.75 then 0.5") {
    val d = dir()
    writeEvents(d, Seq(
      // u1: converts 30 min in -> death at t=0
      (1L, "2024-03-01 00:00:00", 1L, "view", 0.0),
      (2L, "2024-03-01 00:30:00", 1L, "purchase", 1.0),
      // u2: converts 90 min in -> death at t=1
      (3L, "2024-03-01 00:00:00", 2L, "view", 0.0),
      (4L, "2024-03-01 01:30:00", 2L, "purchase", 1.0),
      // u3: converts 100 h in -> outside the 72 h window -> censored
      (5L, "2024-03-01 00:00:00", 3L, "view", 0.0),
      (6L, "2024-03-05 04:00:00", 3L, "purchase", 1.0),
      // u4: never converts -> censored
      (7L, "2024-03-01 00:00:00", 4L, "view", 0.0)))
    val out = SparkEntry.queries("q_evt_survival")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // n_risk(0) = 4 (2 censored + deaths at 0 and 1): S = 1 - 1/4 = 0.75
    // n_risk(1) = 3: S = 0.75 * (1 - 1/3) = 0.5
    assert(out.toSeq == Seq((0L, 4L, 1L, 0.75), (1L, 3L, 1L, 0.5)), s"got ${out.toSeq}")
  }

  test("silhouette: {0,0,0,8} vs {8,8} in dim 0 gives exact integer scores") {
    val d = dir()
    def vec(x: Float): Array[Float] = Array.fill(64)(0f).updated(0, x)
    // label 0 centroid = 2.0 exactly (mean of 0,0,0,8); label 1 centroid = 8.0
    (Seq((1L, vec(0f), 0), (2L, vec(0f), 0), (3L, vec(0f), 0), (4L, vec(8f), 0),
      (5L, vec(8f), 1), (6L, vec(8f), 1)))
      .toDF("vec_id", "embedding", "label")
      .write.parquet(s"$d/embeddings.parquet")
    val out = SparkEntry.queries("q_emb_silhouette")(spark, d)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // label 0: three points at 0 -> a=4, b=64, s=60/64=0.9375; the point
    // at 8 -> a=36, b=0, s=-1 (misassigned). mean = (3*937500 - 1000000)/4e6
    // label 1: a=0, b=36 -> s=1 for both
    assert(out.toSeq == Seq((0, 4L, 1L, 0.453125), (1, 2L, 0L, 1.0)), s"got ${out.toSeq}")
  }
}
