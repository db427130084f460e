package graft.core

import graft.SparkSpec
import graft.queries.Q
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

/** Pins the event-time ingestion CONTRACT: whatever encoding the driver
  * regenerates `events.ts` with next, `Q.t` (and the streaming readers,
  * which share [[EventTime.normalize]]) must hand operators microsecond
  * TimestampType with the same wall-clock instants. Round 11's silent
  * testdata regen (nanos-as-Long → TIMESTAMP_NTZ) crashed 14 registered
  * queries and 10 scattered specs; this spec makes the next regen break
  * ONE named test instead.
  */
class EventTimeSpec extends SparkSpec {

  test("Q.t yields TimestampType for events on every testdata dir, whatever the file encodes") {
    Seq("sf0.001", "sf0.01", "sf0.1").foreach { sf =>
      val dir = s"/root/testdata/$sf"
      Q.invalidate(dir) // contract test must see the files, not the memo
      val events = Q.t(spark, dir, "events")
      assert(events.schema("ts").dataType == TimestampType,
        s"$sf: ts must normalize to TimestampType, got ${events.schema("ts").dataType}")
      // and the column is actually usable as event time
      val r = events.agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).head()
      assert(r.getLong(0) > 0L && r.getLong(1) >= r.getLong(0), s"$sf: degenerate ts range")
    }
  }

  test("all three known encodings normalize to identical microsecond instants") {
    import java.nio.file.Files
    val base = spark.range(5).select(
      (lit(1700000000000000L) + col("id") * 61000000L).as("us"))
    val tmp = graft.TempDirs.create("evt_enc").toFile.getAbsolutePath
    // legacy nanos-as-Long (what nanosAsLong used to surface)
    base.select((col("us") * 1000L).as("ts"), col("us"))
      .write.mode("overwrite").parquet(s"$tmp/nanos/events.parquet")
    // TIMESTAMP_NTZ (isAdjustedToUTC=false — the current driver regen);
    // the session is pinned UTC so the NTZ wall clock IS the instant
    base.select(timestamp_micros(col("us")).cast(TimestampNTZType).as("ts"), col("us"))
      .write.mode("overwrite").parquet(s"$tmp/ntz/events.parquet")
    // plain UTC-adjusted TIMESTAMP — the already-canonical no-op case
    base.select(timestamp_micros(col("us")).as("ts"), col("us"))
      .write.mode("overwrite").parquet(s"$tmp/utc/events.parquet")
    Seq("nanos", "ntz", "utc").foreach { enc =>
      val df = Q.t(spark, s"$tmp/$enc", "events")
      assert(df.schema("ts").dataType == TimestampType, s"$enc: wrong type")
      val bad = df.filter(unix_micros(col("ts")) =!= col("us")).count()
      assert(bad == 0L, s"$enc: $bad rows with instant drift after normalize")
    }
  }

  test("an unknown encoding fails loudly at the boundary, not deep in a plan") {
    val df = spark.range(3).select(col("id").cast("string").as("ts"))
    val e = intercept[IllegalArgumentException](EventTime.normalize(df))
    assert(e.getMessage.contains("unsupported event-time encoding"))
  }
}
