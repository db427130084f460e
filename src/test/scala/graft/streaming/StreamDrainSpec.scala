package graft.streaming

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.spark.GraftTestAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, StreamingQueryException,
  StreamingQueryListener, StreamingQueryProgress}

/** The contract of [[StreamOps.drain]]: its batch count and state
  * high-water cover every micro-batch, and it leaves the session as it
  * found it, also when the stream fails.
  */
class StreamDrainSpec extends SparkSpec {

  /** A directory holding a synthetic 12-hour `events.parquet` file. */
  private lazy val sf: String = {
    import spark.implicits._
    val dir = graft.TempDirs.create("drain_spec").toFile.getAbsolutePath
    val tmp = graft.TempDirs.create("drain_spec_events").toFile.getAbsolutePath
    (0 until 2000).map { i =>
      (i.toLong, new Timestamp(1704067200000L + i * 21600L), (i % 37).toLong,
        Seq("click", "view", "purchase")(i % 3), (i % 97) * 1.25)
    }.toDF("event_id", "ts", "user_id", "event_type", "value")
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    Files.move(part.toPath, Paths.get(dir, "events.parquet"))
    dir
  }
  private val providerKey = "spark.sql.streaming.stateStore.providerClass"
  private val shuffleKey = "spark.sql.shuffle.partitions"

  /** Every progress event and every micro-batch id that ran a job,
    * while `body` runs. */
  private def observed[T](body: => T): (T, Seq[StreamingQueryProgress], Set[(String, String)]) = {
    val progress = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()
    val batches = java.util.concurrent.ConcurrentHashMap.newKeySet[(String, String)]()
    val streams = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.add(e.progress)
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    val jobs = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        for (p <- Option(e.properties);
             q <- Option(p.getProperty("sql.streaming.queryId"));
             b <- Option(p.getProperty("streaming.sql.batchId")))
          batches.add(q -> b)
    }
    spark.streams.addListener(streams)
    spark.sparkContext.addSparkListener(jobs)
    try {
      val r = body
      GraftTestAccess.drainListenerBus(spark.sparkContext)
      (r, progress.asScala.toSeq, batches.asScala.toSet)
    } finally {
      spark.streams.removeListener(streams)
      spark.sparkContext.removeSparkListener(jobs)
    }
  }

  test("numBatches and maxStateRows cover every micro-batch, not the last few") {
    val key = "spark.sql.streaming.numRecentProgressUpdates"
    val events = graft.core.EventTime.normalize(spark.read.parquet(s"$sf/events.parquet"))
    val dir = StreamOps.timeSliceParquet(events, col("ts"), 8, "drain_spec")
    val prev = spark.conf.getAll.get(key)
    spark.conf.set(key, "2")
    val (run, progress, batches) =
      try observed(StreamOps.hourlyCountsAppend(spark, dir))
      finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(run.numBatches >= 6, s"expected >= 6 micro-batches, got ${run.numBatches}")
    assert(run.numBatches == batches.size,
      s"drain reports ${run.numBatches} batches, foreachBatch ran ${batches.size}")
    assert(run.numBatches == progress.size)
    val highWater = progress.flatMap(_.stateOperators.map(_.numRowsTotal)).max
    assert(run.maxStateRows == highWater)
  }

  test("a drain restores the session, also when its stream fails") {
    import spark.implicits._
    spark.conf.unset(providerKey)
    val shuffleBefore = spark.conf.getAll.get(shuffleKey)
    // a value no drain sets: a conf leaked by an earlier drain cannot
    // pass for the restored one
    spark.conf.set(shuffleKey, "3")
    val viewsBefore = spark.catalog.listTables().collect().map(_.name).toSet
    def assertRestored(): Unit = {
      assert(spark.conf.getAll.get(shuffleKey) == Some("3"))
      assert(!spark.conf.getAll.contains(providerKey), "an unset provider must stay unset")
      assert(spark.streams.active.isEmpty)
      assert(spark.catalog.listTables().collect().map(_.name).toSet == viewsBefore)
    }
    try {
      StreamOps.ewmaState(spark, sf).result.collect()
      assertRestored()
      StreamOps.hourlyCounts(spark, sf).result.collect()
      assertRestored()
      val failing = StreamOps.fileStream(spark, sf, Some("events.parquet"))
        .select(col("user_id")).as[Long]
        .groupByKey(identity)
        .flatMapGroupsWithState[Long, Long](OutputMode.Update(), GroupStateTimeout.NoTimeout) {
          (_, _, _) => throw new IllegalStateException("planted state failure")
        }
      val e = intercept[StreamingQueryException] {
        StreamOps.drain(failing, OutputMode.Update())
      }
      assert(e.getMessage.contains("planted state failure"), e.getMessage)
      assertRestored()
    } finally shuffleBefore.fold(spark.conf.unset(shuffleKey))(spark.conf.set(shuffleKey, _))
  }
}
