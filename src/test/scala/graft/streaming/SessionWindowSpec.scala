package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import graft.{SparkEntry, SparkSpec}

/** Native session_window contract: the gap boundary is INCLUSIVE — an
  * exactly-gap event MERGES, the same strict-> split rule as the
  * lag-based sessionizer (this spec is the empirical pin the oracle's
  * comment cites) — the watermark holds back the unfinalized tail, and
  * state stays bounded.
  */
class SessionWindowSpec extends SparkSpec {
  import spark.implicits._

  test("exact-gap event merges natively (inclusive boundary); tail held") {
    val d = graft.TempDirs.create("sesswin").toFile.getAbsolutePath
    val rows = Seq(
      (1L, 1L, Timestamp.valueOf("2024-01-01 00:00:00")),
      (1L, 2L, Timestamp.valueOf("2024-01-01 00:30:00")), // exactly the gap
      (2L, 3L, Timestamp.valueOf("2024-01-01 02:00:00"))) // watermark pusher
    // the streaming source needs a literal file named events.parquet
    // (pathGlobFilter matches leaf files, not directories)
    val tmp = graft.TempDirs.create("sesswin_tmp").toFile.getAbsolutePath
    rows.toDF("user_id", "event_id", "ts")
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath,
      java.nio.file.Paths.get(d, "events.parquet"))

    // custom lag-based rule (> gap): user 1 has ONE session
    val custom = SparkEntry.queries("q_evt_sessionize")(spark, d)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(custom(1L) == 1L, s"custom rule must merge the exact-gap pair: $custom")

    // native rule agrees: ONE merged session (inclusive gap boundary),
    // finalized (wm = 02:00 - 10 min); user 2's session is held
    val run = StreamOps.sessionWindowAppend(spark, d)
    val out = run.result.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val t0 = 1704067200000000L // 2024-01-01 00:00:00 UTC in micros
    assert(out.toSeq == Seq((1L, t0, t0 + 1800000000L, 2L)), s"got ${out.toSeq}")
    assert(run.maxStateRows <= 3,
      s"state ${run.maxStateRows} exceeds the session-count bound")
  }
}
