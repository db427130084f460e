package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Exactly-once restart semantics — the property a production stream
  * actually relies on: a query that dies and restarts from its
  * CHECKPOINT must neither reprocess nor drop data. The harness runs
  * a per-user running-count stream over half the time-sliced files,
  * stops it, drops the remaining files into the source directory, and
  * restarts the SAME query (same checkpoint, same sink table):
  *   1. the second run's input rows == the new files' rows only
  *      (checkpointed file-source offsets — no reprocessing);
  *   2. the final per-user totals equal the one-shot batch aggregate
  *      (no loss);
  *   3. state survives the restart (counts continue, not reset).
  */
class CheckpointRecoverySpec extends SparkSpec {

  test("restart from checkpoint: no reprocess, no loss, state carries over") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val ev = graft.queries.Q.t(spark, dir, "events")
    val n = ev.count()
    val root = graft.TempDirs.create("ckpt_recovery")
    val srcDir = root.resolve("src"); java.nio.file.Files.createDirectory(srcDir)
    val ckpt = root.resolve("ckpt").toString

    val cut = ev.select(unix_micros(col("ts")).as("us")).orderBy("us")
      .collect()(n.toInt / 2).getLong(0)
    def writeSlice(slice: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = root.resolve(s"stage_$name")
      slice.coalesce(1).write.parquet(stage.toString)
      val part = java.nio.file.Files.list(stage)
        .filter(_.toString.endsWith(".parquet")).findFirst().get()
      java.nio.file.Files.move(part, srcDir.resolve(name))
    }
    writeSlice(ev.filter(unix_micros(col("ts")) < cut), "evt_000.parquet")
    val schema = spark.read.parquet(srcDir.toString).schema

    def runOnce(): (Long, Long) = {
      val counts = spark.readStream.schema(schema).parquet(srcDir.toString)
        .groupBy("user_id").agg(count(lit(1)).as("n_events"))
      val q = counts.writeStream
        .outputMode("complete")
        .format("memory").queryName("ckpt_counts")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.processAllAvailable()
      val in = q.recentProgress.map(_.numInputRows).sum
      q.stop()
      (in, spark.table("ckpt_counts").agg(sum("n_events")).head().getLong(0))
    }

    val (in1, total1) = runOnce()
    val firstRows = ev.filter(unix_micros(col("ts")) < cut).count()
    assert(in1 == firstRows && total1 == firstRows)

    // stream is stopped; new data lands, the query restarts from ckpt
    writeSlice(ev.filter(unix_micros(col("ts")) >= cut), "evt_001.parquet")
    val (in2, total2) = runOnce()
    assert(in2 == n - firstRows,
      s"restart must read ONLY the new file ($in2 vs ${n - firstRows}) — offsets come from the checkpoint")
    assert(total2 == n, "carried state + new slice must equal the full corpus")

    // no loss, no duplication: final table == batch aggregate
    val got = spark.table("ckpt_counts")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expect = ev.groupBy("user_id").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expect)
  }
}
