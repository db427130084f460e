package graft.queries

import java.sql.Timestamp

import graft.{SparkEntry, SparkSpec}

/** Closed-form fixtures for the eval/statistics trio (exact AUC,
  * MI + χ² independence, two-sample KS): hand-computed rank sums, a
  * perfectly-independent and a perfectly-dependent contingency table,
  * and a 3-point ECDF whose max gap is known exactly.
  */
class EvalStatsSpec extends SparkSpec {
  import spark.implicits._

  private def dir(): String =
    graft.TempDirs.create("evalstats").toFile.getAbsolutePath

  private def ts(s: String) = Timestamp.valueOf(s)

  test("auc: hand-computed rank sums — 0.5 on n_events, 0.75 on active_days") {
    val d = dir()
    // u1: 1 event, big purchase -> pos, score(n_events)=1, active_days=1
    // u2: 2 views same day      -> neg, scores 2 / 1
    // u3: 3 views same day      -> neg, scores 3 / 1
    // u4: 4 events over 4 days incl big purchase -> pos, scores 4 / 4
    // n_events: pos scores {1,4} vs neg {2,3}: U = 0 + 2 = 2 -> AUC 0.5
    // active_days: pos {1,4} vs neg {1,1}: U = (0.5+0.5) + 2 = 3 -> 0.75
    val rows = Seq(
      (1L, ts("2024-01-01 10:00:00"), "purchase", 250.0),
      (2L, ts("2024-01-01 10:00:00"), "view", 1.0),
      (2L, ts("2024-01-01 11:00:00"), "view", 1.0),
      (3L, ts("2024-01-01 10:00:00"), "view", 1.0),
      (3L, ts("2024-01-01 11:00:00"), "view", 1.0),
      (3L, ts("2024-01-01 12:00:00"), "view", 1.0),
      (4L, ts("2024-01-01 10:00:00"), "view", 1.0),
      (4L, ts("2024-01-02 10:00:00"), "view", 1.0),
      (4L, ts("2024-01-03 10:00:00"), "view", 1.0),
      (4L, ts("2024-01-04 10:00:00"), "purchase", 300.0))
    rows.toDF("user_id", "ts", "event_type", "value")
      .write.parquet(s"$d/events.parquet")
    val out = SparkEntry.queries("q_eval_auc")(spark, d)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      ("active_days", 2L, 2L, 750000L),
      ("n_events", 2L, 2L, 500000L)), s"got ${out.toSeq}")
  }

  test("mi/chi2: zero on an independent table, N·ln2/2 and N on a dependent one") {
    val dIndep = dir()
    // independent: A is 2/3 of traffic at BOTH hours -> every cell term 0
    (Seq.fill(2)(("A", ts("2024-01-01 00:30:00"))) ++
      Seq.fill(2)(("A", ts("2024-01-01 01:30:00"))) ++
      Seq(("B", ts("2024-01-01 00:30:00")), ("B", ts("2024-01-01 01:30:00"))))
      .toDF("event_type", "ts").write.parquet(s"$dIndep/events.parquet")
    val indep = SparkEntry.queries("q_evt_mi")(spark, dIndep)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(indep.toSeq == Seq(("A", 4L, 2L, 0L, 0L), ("B", 2L, 2L, 0L, 0L)),
      s"got ${indep.toSeq}")

    val dDep = dir()
    // dependent: A only at hour 0, B only at hour 1 (3 events each).
    // MI per type: (3/6)·ln((3·6)/(3·3)) = 0.5·ln2 -> 346573590 nnat.
    // chi2 per type over the FULL grid: observed cell (3-1.5)²/1.5 = 1.5
    // plus the zero cell's full expectation 1.5 -> 3.0 -> 3000000 micro.
    (Seq.fill(3)(("A", ts("2024-01-01 00:30:00"))) ++
      Seq.fill(3)(("B", ts("2024-01-01 01:30:00"))))
      .toDF("event_type", "ts").write.parquet(s"$dDep/events.parquet")
    val dep = SparkEntry.queries("q_evt_mi")(spark, dDep)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(dep.toSeq == Seq(
      ("A", 3L, 2L, 346573590L, 3000000L),
      ("B", 3L, 2L, 346573590L, 3000000L)), s"got ${dep.toSeq}")
  }

  test("anova: two 2-element groups give F = 8 and eta-squared = 0.8 exactly") {
    val d = dir()
    // A {100, 300} cents, B {500, 700}: SSB = 160000, SSW = 40000 ->
    // F = (160000/1)/(40000/2) = 8; eta2 = 160000/200000 = 0.8
    Seq(("A", 1.0), ("A", 3.0), ("B", 5.0), ("B", 7.0))
      .toDF("event_type", "value")
      .withColumn("ts", org.apache.spark.sql.functions.lit(ts("2024-01-01 00:00:00")))
      .write.parquet(s"$d/events.parquet")
    val out = SparkEntry.queries("q_evt_anova")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).head
    assert(out == (2L, 4L, 160000L, 40000L, 8000L, 800000L), s"got $out")
  }

  test("kruskal-wallis: textbook separated groups give H = 32/7; all-tied gives NULL correction") {
    val d = dir()
    // A {1,2} B {3,4} C {5,6} dollars: ranks 1..6, no ties ->
    // H = 12/(6·7)·(9+49+121)/2 − 3·7 = 32/7 ≈ 4.5714
    Seq(("A", 1.0), ("A", 2.0), ("B", 3.0), ("B", 4.0), ("C", 5.0), ("C", 6.0))
      .toDF("event_type", "value")
      .withColumn("ts", org.apache.spark.sql.functions.lit(ts("2024-01-01 00:00:00")))
      .write.parquet(s"$d/events.parquet")
    val out = SparkEntry.queries("q_evt_kruskal")(spark, d)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    val h = math.round(1000.0 * 32.0 / 7.0)
    assert(out.toSeq == Seq(
      ("A", 2L, 1500L, h, h), ("B", 2L, 3500L, h, h), ("C", 2L, 5500L, h, h)),
      s"got ${out.toSeq}")

    val d2 = dir()
    Seq(("A", 1.0), ("A", 1.0), ("B", 1.0), ("B", 1.0))
      .toDF("event_type", "value")
      .withColumn("ts", org.apache.spark.sql.functions.lit(ts("2024-01-01 00:00:00")))
      .write.parquet(s"$d2/events.parquet")
    val tied = SparkEntry.queries("q_evt_kruskal")(spark, d2).collect()
    assert(tied.forall(r => r.getLong(3) == 0L && r.isNullAt(4)),
      s"all-tied corpus must give H = 0 with NULL correction: ${tied.toSeq}")
  }

  test("wasserstein: moving {1,2} onto {2,4} costs exactly $1.50 per unit") {
    val d = dir()
    // optimal transport: 1.00->2.00 and 2.00->4.00, avg (100+200)/2 cents
    val rows = Seq(
      ("view", 1.0), ("view", 2.0), ("click", 2.0), ("click", 4.0),
      ("purchase", 1.0), ("error", 1.0))
    rows.toDF("event_type", "value")
      .withColumn("ts", org.apache.spark.sql.functions.lit(ts("2024-01-01 00:00:00")))
      .write.parquet(s"$d/events.parquet")
    val out = SparkEntry.queries("q_evt_wasserstein")(spark, d)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(out.toSeq == Seq(
      ("purchase", "error", 1L, 1L, 0L),
      ("view", "click", 2L, 2L, 150000L)), s"got ${out.toSeq}")
  }

  test("ks: 3-point ECDF with max gap 0.5 first attained at the lowest cent") {
    val d = dir()
    // view {1.00, 2.00} vs click {2.00, 4.00}: at cent 100 the gap is
    // |1·2 − 0·2| = 2 = max -> D = 2/(2·2) = 0.5, first at 100.
    // purchase {1.00} vs error {1.00}: identical ECDFs -> D = 0 at 100.
    val rows = Seq(
      ("view", 1.0), ("view", 2.0), ("click", 2.0), ("click", 4.0),
      ("purchase", 1.0), ("error", 1.0))
    rows.toDF("event_type", "value")
      .withColumn("ts", org.apache.spark.sql.functions.lit(ts("2024-01-01 00:00:00")))
      .write.parquet(s"$d/events.parquet")
    val out = SparkEntry.queries("q_evt_ks")(spark, d)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(out.toSeq == Seq(
      ("purchase", "error", 1L, 1L, 0L, 100L),
      ("view", "click", 2L, 2L, 500000L, 100L)), s"got ${out.toSeq}")
  }
}
