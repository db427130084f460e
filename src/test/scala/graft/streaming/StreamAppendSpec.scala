package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The 100 TB streaming contract: append output mode + watermark
  * EVICTION. The complete-mode harnesses (StreamOpsSpec) prove oracle
  * parity on a drained stream; these specs prove the state store stays
  * BOUNDED while data streams through in many micro-batches — the
  * property that separates "runs forever on a live source" from
  * "accumulates the whole result table on the driver".
  *
  * Input is replayed as genuinely incremental arrival: the batch
  * table is sliced into time-ordered part files with ascending
  * modification times, and `maxFilesPerTrigger = 1` makes each file
  * its own micro-batch, so the watermark advances batch by batch and
  * eviction actually has to happen for the bounds below to hold.
  */
class StreamAppendSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  /** Write `df` as `nSlices` single-file slices (ordered by `orderCol`)
    * into one directory with strictly ascending file mtimes, so the
    * streaming file source replays them oldest-first.
    */
  private def sliceToDir(df: DataFrame, orderCol: String, nSlices: Int,
                         tag: String): String = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val streamDir = graft.core.Scratch.local(spark, s"append_$tag")
    val ranked = df.withColumn("__slice",
      ntile(nSlices).over(org.apache.spark.sql.expressions.Window.orderBy(orderCol)))
    (1 to nSlices).foreach { i =>
      val tmp = graft.core.Scratch.local(spark, s"slice_$tag$i")
      ranked.filter(col("__slice") === i).drop("__slice")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      val dest = Paths.get(streamDir, f"slice_$i%03d.parquet")
      Files.move(part.toPath, dest, StandardCopyOption.REPLACE_EXISTING)
      dest.toFile.setLastModified(1700000000000L + i * 10000L)
    }
    streamDir
  }

  test("append-mode hourly agg: emitted rows match batch, state stays bounded (watermark evicts)") {
    val events = spark.read.parquet(s"$sfDir/events.parquet")
    val dir = sliceToDir(events, "ts", 10, "hourly")
    val run = StreamOps.hourlyCountsAppend(spark, dir)
    val emitted = run.result.collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    val batch = graft.SparkEntry.queries("q_evt_hourly")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    // every emitted window is final: exact value match against batch
    emitted.foreach { case (k, v) =>
      assert(batch.get(k).contains(v), s"window $k: emitted $v != batch ${batch.get(k)}")
    }
    // only windows inside the final watermark horizon may be unemitted
    // (they are still open state — the append contract)
    assert(batch.size - emitted.size <= 25,
      s"unemitted tail too large: ${batch.size - emitted.size} of ${batch.size}")
    assert(emitted.size > batch.size / 2, "append run emitted the finalized majority")
    // THE scale assertion: state never approaches the full result set.
    // Without eviction the high-water mark would reach batch.size
    // (every window ever opened); with the 2 h watermark it holds one
    // slice's open windows plus the horizon.
    assert(run.numBatches >= 10, s"expected >=10 micro-batches, got ${run.numBatches}")
    assert(run.maxStateRows > 0, "windowed agg must hold some open state")
    assert(run.maxStateRows < batch.size / 2,
      s"state high-water ${run.maxStateRows} not bounded vs ${batch.size} total windows — watermark not evicting")
  }

  test("append-mode incremental dedup: fingerprint set matches batch, dedup state evicts") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val dir = sliceToDir(docs, "doc_id", 5, "incdedup")
    val run = StreamOps.incrementalDedupAppend(spark, dir, sfDir)
    val emittedFps = run.result.collect().map(_.getString(1)).toSet
    val batchRows = graft.SparkEntry.queries("q_dedup_incremental")(spark, sfDir).collect()
    val batchFps = batchRows.map(_.getString(1)).toSet
    // same novel-fingerprint set as the batch operator (keeper doc for
    // intra-batch ties is first-arrival; the fp set is the contract)
    assert(emittedFps == batchFps,
      s"fp sets differ: +${(emittedFps -- batchFps).size} -${(batchFps -- emittedFps).size}")
    // PRECONDITION for the exact count equality below: a fingerprint
    // whose duplicates are spaced beyond the 30-min horizon re-emits
    // by design (dropDuplicatesWithinWatermark evicts the key), while
    // the batch operator dedups globally. Event time is one doc a
    // minute, so the fixture must hold every same-fp novel pair within
    // 30 doc_ids — asserted here so a future testdata regeneration
    // fails loudly instead of silently relying on duplicate spacing.
    val maxSameFpGap = docs.filter(col("doc_id") % 10 === 9)
      .select(col("doc_id"),
        md5(regexp_replace(lower(trim(col("text"))), "\\s+", " ")).as("fp"))
      .groupBy("fp").agg((max("doc_id") - min("doc_id")).as("gap"))
      .agg(max("gap")).head().getLong(0)
    assert(maxSameFpGap <= 30,
      s"fixture violates the horizon precondition: same-fp novel docs $maxSameFpGap minutes apart")
    assert(run.result.count() == batchRows.length.toLong, "one emission per novel fingerprint")
    // state bound: dropDuplicatesWithinWatermark must evict keys whose
    // event time fell behind the horizon (30 min horizon, one doc per
    // minute, novel docs 10 minutes apart => a handful of live keys)
    assert(run.numBatches >= 5, s"expected >=5 micro-batches, got ${run.numBatches}")
    assert(run.maxStateRows < batchFps.size.toLong,
      s"dedup state ${run.maxStateRows} reached full key count ${batchFps.size} — horizon not evicting")
  }

  test("append-mode stitch: canvases stitch across micro-batches, stalled canvas quarantines, state evicts") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import graft.core.ImagePlane
    import graft.ops.CropOps
    // 4 canvases, 16 crops each, arriving as TWO files per canvas so
    // accumulation genuinely crosses micro-batch boundaries; canvas 0
    // never receives its last crop (the upstream-anomaly drill)
    val orig = ImagePlane.blankPlanes(2, 2, 40, 40)
      .map(ImagePlane.gridLabels(_, cellSize = 8))
    val plan = CropOps.planCrops(40, 40, 20, 20, 0.5)
    assert(plan.numCrops == 16)
    val streamDir = graft.core.Scratch.local(spark, "append_stitch")
    import spark.implicits._
    orig.zipWithIndex.foreach { case (p, k) =>
      val crops = CropOps.cropOne(p, plan)
      Seq(crops.filter(_.crop < 8) -> (2 * k),
          crops.filter(c => c.crop >= 8 && !(k == 0 && c.crop == 15)) -> (2 * k + 1))
        .foreach { case (half, fileIdx) =>
          val withTs = half.map { c =>
            (c.fov, c.stack, c.crop, c.slice, c.nRows, c.nCols, c.channels,
              c.pixels, c.labels,
              new java.sql.Timestamp(1700000000000L + fileIdx * 60000L))
          }.toDF("fov", "stack", "crop", "slice", "nRows", "nCols",
            "channels", "pixels", "labels", "ts")
          val tmp = graft.core.Scratch.local(spark, s"stitch_half$fileIdx")
          withTs.coalesce(1).write.mode("overwrite").parquet(tmp)
          val part = new java.io.File(tmp).listFiles()
            .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
          val dest = Paths.get(streamDir, f"half_$fileIdx%03d.parquet")
          Files.move(part.toPath, dest, StandardCopyOption.REPLACE_EXISTING)
          dest.toFile.setLastModified(1700000000000L + fileIdx * 10000L)
        }
    }
    val run = StreamOps.incrementalStitchAppend(spark, streamDir, plan,
      quarantineMinutes = 3, watermarkDelay = "2 minutes")
    val rows = run.result.collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        (r.getLong(3), r.getLong(4), r.getLong(5), r.getString(6))).toMap
    // every canvas accounted for: 3 stitched with the exact batch
    // census, the stalled one quarantined with the 15 crops received
    assert(rows.size == orig.size, s"every canvas emitted exactly once: ${rows.keys}")
    orig.foreach { o =>
      val (nCrops, cells, nonzero, status) = rows((o.fov, o.stack))
      if (o.fov == "fov1" && o.stack == 0) {
        assert(status == "quarantined" && nCrops == 15L && cells == -1L && nonzero == -1L,
          s"stalled canvas must quarantine, got ($nCrops, $cells, $nonzero, $status)")
      } else {
        assert(status == "stitched" && nCrops == 16L)
        assert(cells == o.labels.filter(_ != 0).distinct.length.toLong)
        assert(nonzero == o.labels.count(_ != 0).toLong)
      }
    }
    // THE scale assertion: state holds only in-flight canvases — the
    // one mid-accumulation plus the stalled one awaiting its timeout —
    // never all canvases ever opened
    assert(run.numBatches >= 8, s"expected >=8 micro-batches, got ${run.numBatches}")
    assert(run.maxStateRows > 0 && run.maxStateRows <= 2,
      s"stitch state high-water ${run.maxStateRows} exceeds the in-flight bound 2")
  }

  test("stream-stream interval join: pairs match batch, range condition evicts join state") {
    val events = spark.read.parquet(s"$sfDir/events.parquet")
    val dir = sliceToDir(events, "ts", 10, "rangejoin")
    val run = StreamOps.intervalJoinAppend(spark, dir)
    val emitted = run.result.collect()
      .map(r => (r.getLong(0), r.getLong(3))).toSet
    // drained inner join == the batch operator's pair set (matches
    // emit on arrival; nothing is withheld by the watermark)
    val batch = graft.SparkEntry.queries("q_evt_range_join")(spark, sfDir)
    // recompute the expected PAIRS (not counts) from the raw table,
    // canonicalizing ts through the same boundary helper as the engine
    val e = graft.core.EventTime.normalize(events)
      .withColumn("us", unix_micros(col("ts")))
    val p = e.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id").as("pu"), col("us").as("p_us"))
    val c = e.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("us").as("c_us"))
    val expected = p.join(c, col("pu") === col("cu") &&
        col("c_us") >= col("p_us") - 3600000000L && col("c_us") <= col("p_us"))
      .select("event_id", "c_us").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(emitted == expected,
      s"pair sets differ: +${(emitted -- expected).size} -${(expected -- emitted).size}")
    // and the count-level batch operator agrees with the pair counts
    val nFromBatchOp = batch.agg(sum("n_clicks")).head().getLong(0)
    assert(nFromBatchOp == expected.size.toLong)
    // THE scale assertion: the time-range condition lets the join
    // evict buffered rows behind the watermark-range horizon — the
    // high-water mark must stay well below both sides' total rows
    val totalRows = p.count() + c.count()
    assert(run.numBatches >= 10, s"expected >=10 micro-batches, got ${run.numBatches}")
    assert(run.maxStateRows > 0, "stream-stream join must buffer some state")
    assert(run.maxStateRows < totalRows / 2,
      s"join state ${run.maxStateRows} not bounded vs $totalRows buffered rows — range condition not evicting")
    // The HORIZON formula (promoted from BASELINE.md prose): buffered
    // state holds only rows within (range + watermark delay) of the
    // advancing watermark, plus the in-flight micro-batch on each side
    // — never the corpus. Upper-bound "rows in any horizon-length
    // window" by twice the max count over fixed-width buckets of that
    // length (any window straddles at most two buckets).
    val horizonUs = (60L + 30L) * 60L * 1000000L // range + watermark delay
    val joinSide = e.filter(col("event_type").isin("purchase", "click"))
    val spanRow = joinSide.agg(min("us"), max("us")).head()
    val sliceUs = (spanRow.getLong(1) - spanRow.getLong(0)) / 10 + 1
    val winUs = horizonUs + 2 * sliceUs
    val maxBucket = joinSide
      .groupBy(floor(col("us") / winUs)).count()
      .agg(max("count")).head().getLong(0)
    val horizonBound = 2 * maxBucket
    assert(run.maxStateRows <= horizonBound,
      s"state high-water ${run.maxStateRows} exceeds the horizon bound $horizonBound " +
        s"(2 x max rows in any ${winUs / 1000000}s window) — eviction lags the formula")
  }

  test("append-mode sessionize: emitted+open partitions the batch sessions, user state evicts") {
    // single-directory run (the registry shape): all events in one
    // batch, then the timeout batch closes every session the final
    // watermark passed
    val run = StreamOps.sessionCountsAppend(spark, sfDir)
    val emitted = run.result.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // each emitted session is final: exactly one per (user, start),
    // count positive, end within the session
    assert(emitted.nonEmpty)
    assert(emitted.map(e => (e._1, e._2)).distinct.length == emitted.length)
    assert(emitted.forall(e => e._4 > 0 && e._3 >= e._2))
    // emitted + still-open = the batch operator's session count per user
    val batch = graft.SparkEntry.queries("q_evt_sessionize")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val emittedPerUser = emitted.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val nUsers = batch.size
    batch.foreach { case (uid, nSess) =>
      val e = emittedPerUser.getOrElse(uid, 0L)
      assert(e == nSess || e == nSess - 1,
        s"user $uid: emitted $e of $nSess sessions (only the final open one may be held)")
    }
    // THE scale assertion: state is one open session per ACTIVE user at
    // most, and timeouts evicted the users the watermark passed — the
    // high-water mark stays at/below the user count rather than the
    // session count
    assert(run.maxStateRows <= nUsers.toLong,
      s"session state ${run.maxStateRows} exceeds user count $nUsers")
    val totalSessions = batch.values.sum
    assert(totalSessions > nUsers.toLong,
      "fixture degenerate: need multiple sessions per user for the bound to mean anything")
  }
}
