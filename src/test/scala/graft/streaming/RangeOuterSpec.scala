package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import graft.{SparkEntry, SparkSpec}

/** Planted contract for the left-outer stream-stream interval join: a
  * purchase WITH a click in its preceding hour emits the pair, a
  * purchase WITHOUT one NULL-emits once its state expires, and the
  * unstable tail (inside the 2 h cutoff) is excluded from the
  * registered contract on both sides.
  */
class RangeOuterSpec extends SparkSpec {
  import spark.implicits._

  test("matched pair + NULL emission + tail exclusion") {
    val d = graft.TempDirs.create("rangeouter").toFile.getAbsolutePath
    def ts(s: String) = Timestamp.valueOf(s)
    val rows = Seq(
      (1L, 10L, "click", ts("2024-01-01 00:30:00")),
      (2L, 10L, "purchase", ts("2024-01-01 01:00:00")), // matches the click
      (3L, 20L, "purchase", ts("2024-01-01 00:00:00")), // no click -> NULL
      (4L, 90L, "purchase", ts("2024-01-01 06:00:00")), // tail: past cutoff
      (5L, 90L, "click", ts("2024-01-01 06:00:00")))    // watermark pusher
    // literal events.parquet FILE (glob matches leaf files)
    val tmp = graft.TempDirs.create("rangeouter_tmp").toFile.getAbsolutePath
    rows.toDF("event_id", "user_id", "event_type", "ts")
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(d, "events.parquet"))

    val out = SparkEntry.queries("q_stream_range_outer")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3)))
    val t0 = 1704067200000000L // 2024-01-01 00:00:00 UTC
    assert(out.toSeq == Seq(
      (2L, 10L, t0 + 3600000000L, t0 + 1800000000L),
      (3L, 20L, t0, -1L)), s"got ${out.toSeq}")
  }
}
