package graft.queries

import java.sql.Timestamp

import graft.{SparkEntry, SparkSpec}

/** Closed-form fixtures for the feature-engineering / agreement /
  * gains censuses: LOO target encoding with both per-category values
  * hand-computed, WoE/IV asserted against the scalar closed form,
  * Cohen's kappa on a 5-doc confusion whose one-vs-rest tables are
  * worked by hand, and a 4-user gains table with exact lift rungs.
  */
class FeatureEvalSpec extends SparkSpec {
  import spark.implicits._

  private def dir(): String =
    graft.TempDirs.create("featev").toFile.getAbsolutePath

  private def ts(s: String) = Timestamp.valueOf(s"$s 00:00:00")

  private def writeOrders(d: String): Unit = {
    // priority A: 3 orders, 2 late; priority B: 2 orders, 0 late
    Seq((1L, ts("1996-01-01"), "A"), (2L, ts("1996-01-01"), "A"),
      (3L, ts("1996-01-01"), "A"), (4L, ts("1996-01-01"), "B"),
      (5L, ts("1996-01-01"), "B"))
      .toDF("o_orderkey", "o_orderdate", "o_orderpriority")
      .write.parquet(s"$d/orders.parquet")
    Seq((1L, ts("1996-04-01")), (2L, ts("1996-04-01")), (3L, ts("1996-01-15")),
      (4L, ts("1996-01-15")), (5L, ts("1996-01-15")))
      .toDF("l_orderkey", "l_shipdate")
      .write.parquet(s"$d/lineitem.parquet")
  }

  test("target encoding: both LOO values and the m-estimate in closed form") {
    val d = dir()
    writeOrders(d)
    val out = SparkEntry.queries("q_feat_target_enc")(spark, d)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    // A: loo_pos = 1/2, loo_neg = 2/2, smoothed = (2 + 10*0.4)/13 = 6/13
    // B: loo_pos = -1/1 (vacuous: no positive rows), loo_neg = 0,
    //    smoothed = 4/12
    assert(out.toSeq == Seq(
      ("A", 3L, 2L, 500000L, 1000000L, math.round(1e6 * 6.0 / 13.0)),
      ("B", 2L, 0L, -1000000L, 0L, math.round(1e6 * 4.0 / 12.0))),
      s"got ${out.toSeq}")
  }

  test("woe/iv: continuity-corrected WoE equals the scalar closed form") {
    val d = dir()
    writeOrders(d)
    val out = SparkEntry.queries("q_feat_woe")(spark, d)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    // P = 2, Q = 3; A: pos 2 / neg 1, B: pos 0 / neg 2
    val woeA = math.round(1e9 * math.log((2.5 * 3) / (1.5 * 2)))
    val ivA = math.round((2.0 / 2 - 1.0 / 3) * woeA)
    val woeB = math.round(1e9 * math.log((0.5 * 3) / (2.5 * 2)))
    val ivB = math.round((0.0 / 2 - 2.0 / 3) * woeB)
    val ivT = ivA + ivB
    assert(out.toSeq == Seq(
      ("A", 2L, 1L, woeA, ivA, ivT),
      ("B", 0L, 2L, woeB, ivB, ivT)), s"got ${out.toSeq}")
  }

  test("kappa: hand-worked 5-doc confusion incl. a never-true guess class") {
    val d = dir()
    // en->en x2, fr->en x1, fr->fr x1, de->und x1
    Seq((1L, "the a", "en"), (2L, "the a", "en"), (3L, "the the", "fr"),
      (4L, "le et", "fr"), (5L, "zzz", "de"))
      .toDF("doc_id", "text", "lang").write.parquet(s"$d/documents.parquet")
    val out = SparkEntry.queries("q_txt_kappa")(spark, d)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // overall: po = 3/5, pe = (2*3 + 2*1)/25 = 0.32 -> k = 0.28/0.68
    // en: po 4/5, pe (2/5)(3/5)+(3/5)(2/5) = 0.48 -> 0.32/0.52
    // fr: po 4/5, pe (2/5)(1/5)+(3/5)(4/5) = 0.56 -> 0.24/0.44
    // de (never guessed) and und (never true): po = pe = 0.8 -> 0
    assert(out.toSeq == Seq(
      ("__ALL__", 3L, math.round(1e6 * 0.28 / 0.68)),
      ("de", 0L, 0L),
      ("en", 2L, math.round(1e6 * 0.32 / 0.52)),
      ("fr", 1L, math.round(1e6 * 0.24 / 0.44)),
      ("und", 0L, 0L)), s"got ${out.toSeq}")
  }

  test("lift: 4-user gains table — 2x lift in the top bucket, 1x at the bottom") {
    val d = dir()
    val rows = Seq(
      (1L, "purchase", 250.0), (1L, "view", 1.0), (1L, "view", 1.0), (1L, "view", 1.0),
      (2L, "view", 1.0), (2L, "view", 1.0), (2L, "view", 1.0),
      (3L, "view", 1.0), (3L, "view", 1.0),
      (4L, "purchase", 250.0))
    rows.toDF("user_id", "event_type", "value")
      .withColumn("ts", org.apache.spark.sql.functions.lit(ts("2024-01-01")))
      .write.parquet(s"$d/events.parquet")
    val out = SparkEntry.queries("q_eval_lift")(spark, d)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(out.toSeq == Seq(
      (1, 1L, 1L, 500000L, 2000000L),
      (2, 1L, 0L, 500000L, 1000000L),
      (3, 1L, 0L, 500000L, 666667L),
      (4, 1L, 1L, 1000000L, 1000000L)), s"got ${out.toSeq}")
  }
}
