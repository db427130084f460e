package graft.queries

import java.sql.Timestamp

import graft.{SparkEntry, SparkSpec}

/** Closed-form fixtures for the correlation / entropy-rate / JSD-drift
  * trio: a 4-user anti-monotone pair with a deliberate x-tie, a
  * two-user Markov chain whose branch entropies are 0 and ln 2, and a
  * 3-token two-half corpus whose per-token JSD contributions are
  * replayed with plain scalar math.
  */
class StatsDriftSpec extends SparkSpec {
  import spark.implicits._

  private def dir(): String =
    graft.TempDirs.create("statsdrift").toFile.getAbsolutePath

  private def ts(s: String) = Timestamp.valueOf(s)

  private def pearsonPpm(xs: Seq[Long], ys: Seq[Long]): Long = {
    val n = xs.size.toDouble
    val (sx, sy) = (xs.sum.toDouble, ys.sum.toDouble)
    val sxy = xs.zip(ys).map { case (a, b) => a * b }.sum.toDouble
    val sxx = xs.map(a => a * a).sum.toDouble
    val syy = ys.map(a => a * a).sum.toDouble
    math.round(1e6 * (n * sxy - sx * sy) /
      math.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)))
  }

  test("spearman/pearson: anti-monotone 4-user fixture with an x tie") {
    val d = dir()
    // x (events) / y (cents): u1 (1,300) u2 (2,200) u3 (3,150) u4 (2,400)
    val rows = Seq(
      (1L, 300.0 / 100), // one event worth $3.00
      (2L, 1.0), (2L, 1.0),
      (3L, 0.5), (3L, 0.5), (3L, 0.5),
      (4L, 2.0), (4L, 2.0))
      .map { case (u, v) => (u, "view", v) }
    rows.toDF("user_id", "event_type", "value")
      .withColumn("ts", org.apache.spark.sql.functions.lit(ts("2024-01-01 00:00:00")))
      .write.parquet(s"$d/events.parquet")
    val out = SparkEntry.queries("q_evt_spearman")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).head
    // doubled average ranks: x {1,2,2,3} -> {2,5,5,8}; y all distinct
    val exp = (4L,
      pearsonPpm(Seq(1, 2, 3, 2), Seq(300, 200, 150, 400)),
      pearsonPpm(Seq(2, 5, 8, 5), Seq(6, 4, 2, 8)))
    assert(out == exp, s"got $out want $exp")
  }

  test("entropy rate: branch entropies 0 and ln 2, rate = 2/3 · ln 2") {
    val d = dir()
    // user 1: A A B  -> A->A, A->B (H_A = ln 2); user 2: B B -> B->B (0)
    val rows = Seq(
      (1L, 1L, ts("2024-01-01 00:00:00"), "A"),
      (1L, 2L, ts("2024-01-01 01:00:00"), "A"),
      (1L, 3L, ts("2024-01-01 02:00:00"), "B"),
      (2L, 4L, ts("2024-01-01 00:00:00"), "B"),
      (2L, 5L, ts("2024-01-01 01:00:00"), "B"))
    rows.toDF("user_id", "event_id", "ts", "event_type")
      .write.parquet(s"$d/events.parquet")
    val out = SparkEntry.queries("q_evt_entropy_rate")(spark, d)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val hA = 2 * math.round(-1e9 * 0.5 * math.log(0.5)) // two half-cells
    val rate = math.round((2.0 * hA + 1.0 * 0) / 3.0)
    assert(out.toSeq == Seq(("A", 2L, hA), ("B", 1L, 0L), ("__RATE__", 3L, rate)),
      s"got ${out.toSeq}")
  }

  test("js drift: 3-token corpus replayed with scalar math; top token named") {
    val d = dir()
    Seq((0L, "a a b"), (1L, "a c"))
      .toDF("doc_id", "text").write.parquet(s"$d/documents.parquet")
    val out = SparkEntry.queries("q_txt_js_drift")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4), r.getLong(5))).head
    def term(c1: Long, t1: Long, c2: Long, t2: Long): Long = {
      val p = c1.toDouble / t1; val q = c2.toDouble / t2; val m = (p + q) / 2
      math.round(1e9 * ((if (c1 == 0) 0.0 else 0.5 * p * math.log(p / m)) +
        (if (c2 == 0) 0.0 else 0.5 * q * math.log(q / m))))
    }
    val (ta, tb, tc) = (term(2, 3, 1, 2), term(1, 3, 0, 2), term(0, 3, 1, 2))
    val exp = (3L, 3L, 2L, ta + tb + tc, "c", tc)
    assert(tc > tb && tb > ta, "fixture must make c the top contributor")
    assert(out == exp, s"got $out want $exp")
  }
}
