package graft.queries

import java.sql.Timestamp

import graft.{SparkEntry, SparkSpec}

/** Closed-form fixtures for the DiD estimator and the winsorized-mean
  * census: a 2×2 whose interaction is exactly $3.00 (treatment gains
  * $4 while control gains $1), and a 200-event cohort where both tail
  * outliers clamp to the same cent so the winsorized mean collapses to
  * it while the raw mean is pulled 49% high.
  */
class RobustMetricsSpec extends SparkSpec {
  import spark.implicits._

  private def dir(): String =
    graft.TempDirs.create("robust").toFile.getAbsolutePath

  private def ts(s: String) = Timestamp.valueOf(s"$s 12:00:00")

  test("did: treatment +$4, control +$1 -> interaction exactly $3.00") {
    val d = dir()
    // Knuth-hash assignment: users 1,3 -> treatment; 2,4 -> control
    val rows = Seq(
      (2L, ts("2024-01-10"), 1.00), (4L, ts("2024-01-10"), 2.00), // pre ctl: mean 150c
      (1L, ts("2024-01-10"), 1.00), (3L, ts("2024-01-10"), 3.00), // pre trt: mean 200c
      (2L, ts("2024-01-20"), 2.00), (4L, ts("2024-01-20"), 3.00), // post ctl: 250c
      (1L, ts("2024-01-20"), 5.00), (3L, ts("2024-01-20"), 7.00)) // post trt: 600c
    rows.toDF("user_id", "ts", "value").write.parquet(s"$d/events.parquet")
    val out = SparkEntry.queries("q_evt_did")(spark, d)
      .collect().map(r => (0 until 9).map(r.getLong)).head
    assert(out == Seq(2L, 2L, 2L, 2L,
      150000L, 250000L, 200000L, 600000L, 300000L), s"got $out")
  }

  test("winsor: both tail outliers clamp; an outlier-free type is the identity") {
    val d = dir()
    val rows =
      Seq.fill(198)(("view", 1.00)) ++ Seq(("view", 0.01), ("view", 100.00)) ++
        Seq.fill(3)(("click", 2.00))
    rows.toDF("event_type", "value")
      .withColumn("ts", org.apache.spark.sql.functions.lit(ts("2024-01-10")))
      .write.parquet(s"$d/events.parquet")
    val out = SparkEntry.queries("q_evt_winsor")(spark, d)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    // view: raw mean (1 + 198·100 + 10000)/200 = 149.005c; p1 = p99 = 100c
    assert(out.toSeq == Seq(
      ("click", 3L, 200L, 200L, 200000L, 200000L),
      ("view", 200L, 100L, 100L, 149005L, 100000L)), s"got ${out.toSeq}")
  }
}
