package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode,
  StreamingQueryListener, StreamingQueryProgress, Trigger}

/** Structured Streaming surface (SURVEY.md §2.10): the reference has
  * no streaming runtime, but the engine exposes the event pipeline as
  * a stream — watermarked tumbling-window aggregation and streaming
  * dedup — so "dynamic" data can arrive incrementally instead of as a
  * batch tensor.
  *
  * Every builder reads a parquet file stream ([[fileStream]]) and
  * hands its output to the one [[drain]]: for local verification the
  * stream runs to completion under `Trigger.AvailableNow` and each
  * micro-batch lands executor-side in a parquet scratch directory; on
  * a cluster the identical plan runs against a live source with the
  * watermark bounding state.
  */
object StreamOps {

  /** A drained stream: the emitted table plus the state-store
    * high-water over every micro-batch (from
    * `StreamingQueryProgress.stateOperators`) — the number a 100 TB
    * deployment actually has to bound — and the micro-batch count.
    */
  case class Drained(result: DataFrame, maxStateRows: Long, numBatches: Int) {
    def map(f: DataFrame => DataFrame): Drained = copy(result = f(result))
  }

  /** How long [[drain]] waits, after the query has stopped, for the
    * listener bus to deliver its QueryTerminatedEvent. */
  private val terminatedTimeoutMs = 60000L

  /** The one streaming drain. Runs `out` under `Trigger.AvailableNow`
    * until all available input is processed, writing each micro-batch
    * through foreachBatch into a fresh [[graft.core.Scratch]] directory
    * (append for Append and Update, overwrite for Complete, so the
    * directory ends with the last complete table) and reads it back
    * with the stream's schema. The writes are executor-side, so driver
    * memory stays O(1) whatever the emitted volume; a memory sink
    * would hold every emitted row on the driver.
    *
    * The batch count and state high-water come from a
    * StreamingQueryListener filtered by the query id, complete up to
    * the query's QueryTerminatedEvent; the query's own progress buffer
    * keeps only the last `spark.sql.streaming.numRecentProgressUpdates`
    * batches. Both are returned in the [[Drained]] record, the only
    * place a drain reports them.
    *
    * The run sets `spark.sql.shuffle.partitions` = 8 and restores it
    * after, an unset key staying unset. Stateful micro-batch drains
    * commit one state store PER SHUFFLE PARTITION PER BATCH, so at the
    * session's core-count partitions a short multi-batch replay spends
    * its wall on state-store commits, not on the operator (guide §2:
    * partitioning sized to the workload, not the core count).
    * Partition count changes no registered result: every drained
    * contract is either a deterministic per-key fold, a mergeable
    * aggregation, or set-semantics output.
    */
  private[graft] def drain(out: Dataset[_], mode: OutputMode): Drained = {
    val spark = out.sparkSession
    val dir = graft.core.Scratch.dir(spark, "graft_drain")
    val writeMode = if (mode == OutputMode.Complete()) "overwrite" else "append"
    val listener = new DrainListener
    spark.streams.addListener(listener)
    try {
      val id = withConfs(spark, Seq("spark.sql.shuffle.partitions" -> "8")) {
        val q = out.toDF().writeStream
          .outputMode(mode)
          .foreachBatch { (batch: DataFrame, _: Long) =>
            batch.write.mode(writeMode).parquet(dir)
            ()
          }
          .trigger(Trigger.AvailableNow())
          .start()
        try q.processAllAvailable() finally q.stop()
        q.id
      }
      val progress = listener.awaitTerminated(id)
      val maxState = progress.flatMap(_.stateOperators.map(_.numRowsTotal))
        .foldLeft(0L)(math.max)
      Drained(spark.read.schema(out.schema).parquet(dir), maxState, progress.length)
    } finally spark.streams.removeListener(listener)
  }

  /** Progress events of every query in the session until removed;
    * [[awaitTerminated]] picks one query's. */
  private final class DrainListener extends StreamingQueryListener {
    private val progress =
      scala.collection.mutable.ArrayBuffer.empty[StreamingQueryProgress]
    private val ended = scala.collection.mutable.Set.empty[java.util.UUID]
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      synchronized(progress += e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      synchronized { ended += e.id; notifyAll() }

    /** The query's progress in batch order, once its terminated event
      * arrived (the bus delivers a query's events in order). */
    def awaitTerminated(id: java.util.UUID): Seq[StreamingQueryProgress] = synchronized {
      val deadline = System.currentTimeMillis() + terminatedTimeoutMs
      while (!ended(id) && System.currentTimeMillis() < deadline)
        wait(math.max(1L, deadline - System.currentTimeMillis()))
      if (!ended(id)) throw new IllegalStateException(
        s"stream $id stopped but its QueryTerminatedEvent did not arrive " +
          s"within $terminatedTimeoutMs ms; its batch count and state are unknown")
      progress.filter(_.id == id).toSeq
    }
  }

  /** Run `body` with `kvs` set as session confs, then restore each key
    * to its previous explicit value, or unset it if it had none. */
  private def withConfs[T](spark: SparkSession, kvs: Seq[(String, String)])(body: => T): T = {
    val set = spark.conf.getAll
    val prev = kvs.map { case (k, _) => k -> set.get(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** A parquet file stream over the directory `dir`: the schema of the
    * same files read as a batch, `glob` as `pathGlobFilter` (selects
    * one table's file(s) when `dir` is a shared testdata dir), and
    * `maxFiles` > 0 as `maxFilesPerTrigger` (one micro-batch per
    * `maxFiles` files, oldest first; 0 takes everything in one batch).
    * A `ts` column is canonicalized by [[graft.core.EventTime]] (same
    * boundary rule as graft.queries.Q.t).
    */
  private[graft] def fileStream(spark: SparkSession, dir: String,
      glob: Option[String] = None, maxFiles: Int = 0): DataFrame = {
    val schema = spark.read.parquet(glob.fold(dir)(g => s"$dir/$g")).schema
    var reader = spark.readStream.schema(schema)
    glob.foreach(g => reader = reader.option("pathGlobFilter", g))
    if (maxFiles > 0) reader = reader.option("maxFilesPerTrigger", maxFiles)
    val stream = reader.parquet(dir)
    if (schema.fieldNames.contains("ts")) graft.core.EventTime.normalize(stream)
    else stream
  }

  private val eventsGlob = Some("events.parquet")

  /** Watermarked hourly counts per event type, COMPLETE output mode;
    * the drained result is the final table.
    */
  def hourlyCounts(spark: SparkSession, sfDir: String): Drained = {
    val agg = fileStream(spark, sfDir, eventsGlob)
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("event_type"), col("n"), col("sum_value"))
    drain(agg, OutputMode.Complete())
      .map(_.orderBy("hour", "event_type"))
  }

  /** Streaming exact dedup: watermarked `dropDuplicates` on
    * (user_id, event_type) — first occurrence wins, downstream sees
    * each key once — then a per-type census of the deduped stream.
    * Equals the batch `count(DISTINCT user_id)` per type exactly, so
    * it shares an oracle. On a live source the watermark bounds
    * arrival lateness; the dedup state itself is keyed, not windowed,
    * matching the batch semantics.
    */
  def dedupCounts(spark: SparkSession, sfDir: String): Drained = {
    val deduped = fileStream(spark, sfDir, eventsGlob)
      .withWatermark("ts", "24 hours")
      .dropDuplicates("user_id", "event_type")
      .select("user_id", "event_type")
    drain(deduped, OutputMode.Append()).map(_
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_users"))
      .orderBy("event_type"))
  }

  /** Streaming incremental (batch-vs-store) dedup — the continuous-
    * ingestion twin of q_dedup_incremental: new documents arrive as a
    * stream, compute normalized fingerprints, anti-join the STATIC
    * historical store inside the streaming query (stream-static joins
    * are stateless — the store never enters state), then keep-first
    * per fingerprint via a streaming min(doc_id) aggregation —
    * deterministic regardless of arrival order, unlike
    * `dropDuplicates` whose keeper is arrival-dependent. Drains to the
    * same (doc_id, fp) table as the batch operator, so it shares its
    * oracle verbatim.
    */
  def incrementalDedup(spark: SparkSession, sfDir: String): Drained = {
    val fp = md5(regexp_replace(lower(trim(col("text"))), "\\s+", " "))
    val store = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(col("doc_id") % 10 =!= 9)
      .select(fp.as("fp")).distinct()
    val novel = fileStream(spark, sfDir, Some("documents.parquet"))
      .filter(col("doc_id") % 10 === 9)
      .select(col("doc_id"), fp.as("fp"))
      .join(store, Seq("fp"), "left_anti")
      .groupBy("fp").agg(min("doc_id").as("doc_id"))
    // UPDATE mode, not complete: the novel-fingerprint set grows ~n/10
    // with the corpus, and complete mode re-emits ALL of it every
    // micro-batch. min(doc_id) is monotone per key, so re-folding the
    // drained updates with the same min yields exactly the final table.
    drain(novel, OutputMode.Update()).map(
      _.groupBy("fp").agg(min("doc_id").as("doc_id"))
        .select("doc_id", "fp").orderBy("doc_id"))
  }

  /** Replay a batch table as genuinely incremental arrival: `nSlices`
    * single-part parquet files (keyed `idCol mod nSlices`) with
    * ascending mtimes in a fresh temp dir, so a file source with
    * `maxFilesPerTrigger = 1` sees one micro-batch per file. A
    * single-file drain would fold everything in one trigger and prove
    * nothing about cross-batch state merging.
    */
  def sliceParquet(df: DataFrame, idCol: org.apache.spark.sql.Column,
                   nSlices: Int, prefix: String): String =
    sliceBy(df, pmod(idCol, lit(nSlices)), nSlices, prefix)

  /** Shared one-job writer behind [[sliceParquet]] / [[timeSliceParquet]]
    * (optimization r18, guide §2.4): the old form ran one full
    * filtered scan + single-task write PER SLICE — nSlices sequential
    * jobs, each reading the whole input — purely to lay out nSlices
    * single-part files. This form keys every row with its slice once,
    * pays ONE shuffle, and writes every slice in one `partitionBy`
    * job; per-slice row CONTENT is identical (same slice law) and
    * per-slice row ORDER is identical too (the `__row` sort replays
    * scan order — partition index, then position — exactly the order
    * the old `filter(...).coalesce(1)` concatenation produced).
    */
  private def sliceBy(df: DataFrame, sliceCol: org.apache.spark.sql.Column,
                      nSlices: Int, prefix: String): String = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val streamDir = graft.core.Scratch.local(df.sparkSession, prefix)
    val tmp = graft.core.Scratch.local(df.sparkSession, s"${prefix}_all")
    val cols = df.columns
    df.withColumn("__slice", sliceCol)
      .withColumn("__row", monotonically_increasing_id())
      .repartition(nSlices, col("__slice"))
      .sortWithinPartitions(col("__slice"), col("__row"))
      .drop("__row")
      .write.mode("overwrite").partitionBy("__slice").parquet(tmp)
    (0 until nSlices).foreach { i =>
      val dest = Paths.get(streamDir, f"slice_$i%03d.parquet")
      val sliceDir = new java.io.File(s"$tmp/__slice=$i")
      val part = Option(sliceDir.listFiles()).toSeq.flatten
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      part match {
        case Some(p) =>
          Files.move(p.toPath, dest, StandardCopyOption.REPLACE_EXISTING)
        case None =>
          // an EMPTY slice: the old per-slice path still wrote a
          // zero-row part file (and the file source still saw a
          // micro-batch for it), so reproduce that — batch structure
          // is load-bearing for append-mode watermark progression
          val etmp = graft.core.Scratch.local(df.sparkSession, s"${prefix}_empty$i")
          df.select(cols.map(col): _*).filter(lit(false))
            .coalesce(1).write.mode("overwrite").parquet(etmp)
          new java.io.File(etmp).listFiles()
            .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
            .foreach(p => Files.move(p.toPath, dest,
              StandardCopyOption.REPLACE_EXISTING))
      }
      if (Files.exists(dest))
        dest.toFile.setLastModified(1700000000000L + i * 10000L)
    }
    streamDir
  }

  /** [[sliceParquet]]'s TIME-ORDERED twin: `nSlices` equal event-time
    * spans written as single-part files with ascending mtimes, so an
    * oldest-first file replay advances the WATERMARK monotonically
    * between micro-batches. Use this (not the id-mod slicer) to drive
    * watermark-evicting operators: id-mod slices all span the full
    * time range, so the watermark jumps to the end after batch one and
    * the recorded state high-water proves nothing about mid-stream
    * eviction.
    */
  def timeSliceParquet(df: DataFrame, tsCol: org.apache.spark.sql.Column,
                       nSlices: Int, prefix: String): String = {
    val tsUs = unix_micros(tsCol)
    val b = df.agg(min(tsUs).as("lo"), max(tsUs).as("hi")).head()
    val (lo, hi) = (b.getLong(0), b.getLong(1))
    val width = math.max(1L, (hi - lo) / nSlices + 1)
    // same span law as the old per-slice filters: floor((ts - lo) / width),
    // which lands every row in [0, nSlices) by the width construction
    sliceBy(df, floor((tsUs - lit(lo)) / lit(width)).cast("int"),
      nSlices, prefix)
  }

  /** Drain a complete-mode aggregation over a sliced file stream; the
    * result is the final table. The generic harness behind the sketch
    * twins (q_stream_countmin / q_stream_topk): `build` maps the raw
    * stream to a streaming aggregation whose buffers are MERGEABLE
    * summaries, so state holds one buffer per group (one row total for
    * a global sketch) no matter how many micro-batches arrive —
    * O(sketch) streaming state, vs. the complete-mode window harnesses
    * whose state is result-sized. The returned [[Drained]] carries the
    * state high-water, so a caller can check that bound.
    */
  def completeAggDrain(spark: SparkSession, dir: String, glob: String,
                       build: DataFrame => DataFrame,
                       maxFilesPerTrigger: Int = 1): Drained =
    drain(build(fileStream(spark, dir, Some(glob), maxFilesPerTrigger)),
      OutputMode.Complete())

  /** The 100 TB form of [[hourlyCounts]]: APPEND output mode, so each
    * window row is emitted exactly once — when the watermark passes
    * its end — and then EVICTED from the state store. Complete mode
    * (the oracle-parity harness above) re-emits the whole result
    * table every trigger and never evicts windowed state: correct for
    * a drained local verification run, unbounded on a continuous
    * source. Here state holds only the open windows inside the
    * watermark horizon regardless of how long the stream runs;
    * windows still inside the horizon when the source drains remain
    * in state (that is the append contract — they'd emit when later
    * data advanced the watermark).
    *
    * `eventsDir` holds one-or-more event part files; with
    * `maxFilesPerTrigger = 1` each file is a micro-batch, so a
    * time-sliced directory replays genuinely incremental arrival.
    */
  def hourlyCountsAppend(spark: SparkSession, eventsDir: String,
                         maxFilesPerTrigger: Int = 1,
                         glob: Option[String] = None): Drained = {
    val agg = fileStream(spark, eventsDir, glob, maxFilesPerTrigger)
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("event_type"), col("n"), col("sum_value"))
    drain(agg, OutputMode.Append())
      .map(_.orderBy("hour", "event_type"))
  }

  /** Streaming PSI drift monitor — the append-mode twin of
    * graft.queries.EventQueries' q_evt_psi: per 1-hour event-time
    * window, the 20 fixed value-bucket counts accumulate as sibling
    * conditional sums of ONE watermarked streaming aggregation (state
    * = open windows × 20 longs, evicted on watermark close), then each
    * FINALIZED window joins the 1-row static reference histogram
    * (stream-static broadcast — stateless) and emits its population
    * stability index. The production shape of "alert when today's
    * traffic stops looking like the corpus": bounded state, one row
    * per closed hour, no second pass.
    */
  def psiDriftAppend(spark: SparkSession, eventsDir: String,
                     maxFilesPerTrigger: Int = 1,
                     glob: Option[String] = None): Drained = {
    import graft.queries.EventQueries.{psiBucketSums, psiMicro, psiTotals}
    val bSums = psiBucketSums(col("value"), "b_")
    val agg = fileStream(spark, eventsDir, glob, maxFilesPerTrigger)
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(bSums.head, bSums.tail: _*)
      .select((date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hour") +:
        (0 until graft.queries.EventQueries.psiNBuckets).map(b => col(s"b_$b"))): _*)
      .withColumn("j", lit(1))
    val rSums = psiBucketSums(col("value"), "r_")
    val reference = spark.read.parquet(glob.fold(eventsDir)(g => s"$eventsDir/$g"))
      .agg(rSums.head, rSums.tail: _*).withColumn("j", lit(1))
    val out = psiTotals(agg.join(reference, "j"))
      .select(col("hour"), col("n_events"), psiMicro.as("psi_micro"))
      .withColumn("drifted", col("psi_micro") > 200000L)
    drain(out, OutputMode.Append()).map(_.orderBy("hour"))
  }

  /** NATIVE session windows (`session_window(ts, gap)` — Spark's
    * built-in dynamic-gap sessionization, state merged and
    * watermark-evicted by the engine itself) beside the
    * flatMapGroups/lag-based sessionizers this file already carries.
    * The gap boundary is INCLUSIVE: an event exactly `gap` after its
    * predecessor MERGES into the session (SessionWindowSpec pins this
    * empirically), so the split rule matches the custom sessionizers'
    * strict `>`. Emits (user, session start/end in event-time micros,
    * event count) per watermark-finalized session; `end_us` subtracts
    * the gap back off the window end so the report is the LAST EVENT
    * time, the custom sessionizers' convention.
    */
  def sessionWindowAppend(spark: SparkSession, sfDir: String,
                          gapMinutes: Int = 30,
                          glob: Option[String] = eventsGlob,
                          maxFilesPerTrigger: Int = 1): Drained = {
    val gapUs = gapMinutes * 60L * 1000000L
    val agg = fileStream(spark, sfDir, glob, maxFilesPerTrigger)
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), s"$gapMinutes minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("start_us"),
        (unix_micros(col("session_window.end")) - gapUs).as("end_us"),
        col("n_events"))
    drain(agg, OutputMode.Append())
      .map(_.orderBy("user_id", "start_us"))
  }

  /** The 100 TB form of [[incrementalDedup]]: the static-store
    * anti-join stays stateless (unchanged — the store side never
    * enters state), and the within-batch keep-first becomes
    * `dropDuplicatesWithinWatermark` on the fingerprint, whose state
    * EVICTS keys once the watermark passes their event time + horizon.
    * Exact global streaming dedup is unbounded state by definition;
    * the deployed contract is dedup-within-lateness-horizon against a
    * periodically-compacted store (new fingerprints merge into the
    * static store between horizons), which this operator expresses.
    * Ingest time is the event time (`tsOf`, monotone in arrival for a
    * replay); emitted fingerprints equal the batch operator's set,
    * while the keeper doc for intra-horizon ties is first-arrival.
    */
  def incrementalDedupAppend(spark: SparkSession, docsDir: String, sfDir: String,
                             horizon: String = "30 minutes",
                             maxFilesPerTrigger: Int = 1,
                             glob: Option[String] = None): Drained = {
    val fp = md5(regexp_replace(lower(trim(col("text"))), "\\s+", " "))
    // one doc a minute: replays ingest order as event time
    val tsOf = timestamp_micros(col("doc_id") * 60000000L)
    val store = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(col("doc_id") % 10 =!= 9)
      .select(fp.as("fp")).distinct()
    val novel = fileStream(spark, docsDir, glob, maxFilesPerTrigger)
      .filter(col("doc_id") % 10 === 9)
      .select(col("doc_id"), fp.as("fp"), tsOf.as("ts"))
      .withWatermark("ts", horizon)
      .dropDuplicatesWithinWatermark("fp")
      .join(store, Seq("fp"), "left_anti")
      .select("doc_id", "fp")
    drain(novel, OutputMode.Append())
      .map(_.orderBy("doc_id"))
  }

  case class Evt(user_id: Long, us: Long, event_id: Long)
  case class SessState(lastUs: Long, nSessions: Long, nEvents: Long)
  case class OpenSess(startUs: Long, lastUs: Long, nEvents: Long)
  case class EvtW(user_id: Long, us: Long, event_id: Long, ts: java.sql.Timestamp)
  case class EvtV(user_id: Long, us: Long, event_id: Long, value: Double)
  case class EwmaState(n: Long, ewma: Double)

  /** Streaming WebDataset ingest — the production arrival shape:
    * shard archives LAND in a directory continuously and each becomes
    * one micro-batch (`maxFilesPerTrigger = 1`, the shard being the
    * WebDataset unit of both parallelism and delivery). Sample
    * assembly is the same map-side pass as the batch scan
    * ([[graft.sources.TarShards.readSamples]]) — STATELESS, so append
    * emission is total (no watermark law needed) and exactly-once
    * comes free from the file-source tracking log. The micro-batch
    * count lets callers pin that ingest really was incremental, not
    * one gulp.
    */
  def tarSampleIngest(spark: SparkSession, dir: String,
                      glob: String = "*.tar"): Drained = {
    import spark.implicits._
    val stream = spark.readStream.format("binaryFile")
      // file streams need an explicit schema; binaryFile's is fixed
      .schema(org.apache.spark.sql.types.StructType.fromDDL(
        "path STRING, modificationTime TIMESTAMP, length LONG, content BINARY"))
      .option("pathGlobFilter", glob)
      .option("maxFilesPerTrigger", 1)
      .load(dir)
      .select(element_at(split(col("path"), "/"), -1).as("shard"),
        col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (shard, bytes) =>
        // the shared gunzip-aware entry point: compressed shards ingest
        // identically to the batch scan
        graft.sources.TarShards.parseSamples(bytes)
          .zipWithIndex.map { case ((key, es), i) =>
            (shard, i, key, es.map(_._1), es.toMap)
          }
      }
      .toDF("shard", "sidx", "key", "exts", "entries")
    drain(stream, OutputMode.Append())
  }

  /** Streaming EWMA (α = 1/2): the MINIMAL stateful online feature —
    * state per user is exactly one (count, ewma) pair, updated by the
    * dyadic recursion e' = v/2 + e/2 (e₁ = v₁), events folded in
    * (us, event_id) order within each batch. This is the canonical
    * "replace an unbounded history window with O(1) state" streaming
    * twin: the batch form would collect a user's whole history to fold
    * it; the stream carries 16 bytes per user forever.
    *
    * Every division halves the exponent only, so the recursion is
    * bit-exact and the DuckDB oracle replays it as a `list_reduce`
    * over the ordered per-user history — batch and stream agree on the
    * HASH, not just approximately.
    *
    * Update-mode updates are gathered by [[drain]]; the per-user LAST
    * update wins via the monotone event count, so a TIME-ORDERED
    * multi-batch replay produces the same final table as one batch. Like any
    * arrival-order-defined online feature, cross-batch agreement with
    * the batch fold assumes batches arrive in event-time order (the
    * within-batch sort handles intra-batch disorder); spec-asserted
    * with a two-file time-sliced replay.
    */
  def ewmaState(spark: SparkSession, sfDir: String,
                glob: String = "events.parquet",
                maxFilesPerTrigger: Int = 0): Drained = {
    import spark.implicits._
    val updates = fileStream(spark, sfDir, Some(glob), maxFilesPerTrigger)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("value"))
      .as[EvtV]
      .groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(
        (uid: Long, it: Iterator[EvtV], state: GroupState[EwmaState]) => {
          var st = state.getOption.getOrElse(EwmaState(0L, 0.0))
          it.toSeq.sortBy(e => (e.us, e.event_id)).foreach { e =>
            st = if (st.n == 0L) EwmaState(1L, e.value)
                 else EwmaState(st.n + 1, st.ewma / 2.0 + e.value / 2.0)
          }
          state.update(st)
          (uid, st.n, st.ewma)
        })
      .toDF("user_id", "n_events", "ewma")
    drain(updates, OutputMode.Update()).map(lastEwma)
  }

  /** The per-user last EWMA update: the event count is monotone. */
  private def lastEwma(updates: DataFrame): DataFrame = updates
    .groupBy("user_id")
    .agg(max(struct(col("n_events"), col("ewma"))).as("last"))
    .select(col("user_id"), col("last.n_events").as("n_events"),
      round(col("last.ewma"), 6).as("ewma"))
    .orderBy("user_id")

  case class EvtTV(user_id: Long, us: Long, event_id: Long,
                   event_type: String, value: Double)
  case class AttrState(seq: Long, nClick: Long, nView: Long, lt: Int,
                       nltC: Long, ltcC: Long, linC: Long, lincC: Long,
                       nltV: Long, ltcV: Long, linV: Long, lincV: Long)

  /** Streaming multi-touch attribution — q_evt_attribution's stateful
    * twin. The batch form window-scans each user's WHOLE preceding
    * history per purchase; the stream carries O(1) state per user:
    * two touch counters, the last-touch channel, and eight integer
    * credit accumulators (~100 bytes, forever). Each purchase folds
    * its ppm-rounded credits into the accumulators with EXACTLY the
    * batch expression tree (`(1e6·n_c)/n_tot`, `((cents·1e6)·n_c)/
    * n_tot`, positive-domain round — bit-identical to Spark SQL's
    * HALF_UP on these operands), so the final census hash-matches the
    * batch oracle. Events fold in (us, event_id) order within a
    * batch; cross-batch agreement assumes time-ordered arrival (the
    * ewmaState contract, spec-asserted by a two-slice replay). The
    * per-user LAST update wins via the monotone fold counter, then
    * the census is a 2-row stack — the same shape the batch emits.
    */
  def attributionState(spark: SparkSession, sfDir: String,
                       glob: String = "events.parquet",
                       maxFilesPerTrigger: Int = 0): Drained = {
    import spark.implicits._
    val events = fileStream(spark, sfDir, Some(glob), maxFilesPerTrigger)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("event_type"), col("value"))
      .as[EvtTV]
    val zero = AttrState(0L, 0L, 0L, 0, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L)
    val updates = events
      .groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(
        (uid: Long, it: Iterator[EvtTV], state: GroupState[AttrState]) => {
          var st = state.getOption.getOrElse(zero)
          it.toSeq.sortBy(e => (e.us, e.event_id)).foreach { e =>
            st = e.event_type match {
              case "click" => st.copy(seq = st.seq + 1, nClick = st.nClick + 1, lt = 1)
              case "view"  => st.copy(seq = st.seq + 1, nView = st.nView + 1, lt = 2)
              case "purchase" =>
                val nt = st.nClick + st.nView
                if (nt > 0) {
                  val cents = math.round(e.value * 100)
                  st.copy(seq = st.seq + 1,
                    nltC = st.nltC + (if (st.lt == 1) 1L else 0L),
                    ltcC = st.ltcC + (if (st.lt == 1) cents else 0L),
                    linC = st.linC + math.round(1000000.0 * st.nClick / nt),
                    lincC = st.lincC + math.round(cents * 1000000.0 * st.nClick / nt),
                    nltV = st.nltV + (if (st.lt == 2) 1L else 0L),
                    ltcV = st.ltcV + (if (st.lt == 2) cents else 0L),
                    linV = st.linV + math.round(1000000.0 * st.nView / nt),
                    lincV = st.lincV + math.round(cents * 1000000.0 * st.nView / nt))
                } else st.copy(seq = st.seq + 1)
              case _ => st.copy(seq = st.seq + 1)
            }
          }
          state.update(st)
          (uid, st.seq, st.nltC, st.ltcC, st.linC, st.lincC,
            st.nltV, st.ltcV, st.linV, st.lincV)
        })
      .toDF("user_id", "seq", "nlt_c", "ltc_c", "lin_c", "linc_c",
        "nlt_v", "ltc_v", "lin_v", "linc_v")
    drain(updates, OutputMode.Update()).map(_
      .groupBy("user_id")
      .agg(max(struct(col("seq"), col("nlt_c"), col("ltc_c"), col("lin_c"),
        col("linc_c"), col("nlt_v"), col("ltc_v"), col("lin_v"),
        col("linc_v"))).as("last"))
      .agg(sum("last.nlt_c").as("nlt_c"), sum("last.ltc_c").as("ltc_c"),
        sum("last.lin_c").as("lin_c"), sum("last.linc_c").as("linc_c"),
        sum("last.nlt_v").as("nlt_v"), sum("last.ltc_v").as("ltc_v"),
        sum("last.lin_v").as("lin_v"), sum("last.linc_v").as("linc_v"))
      .select(org.apache.spark.sql.functions.expr(
        """stack(2,
          |  'click', nlt_c, ltc_c, lin_c, linc_c,
          |  'view',  nlt_v, ltc_v, lin_v, linc_v)
          |  AS (channel, n_last_touch, lt_cents, lin_credit_ppm, lin_cents_ppm)
          |""".stripMargin))
      .orderBy("channel"))
  }

  private val patternCols =
    Seq("user_id", "n_events", "n_conv", "n_err_runs", "signup_converted")

  /** The per-user last CEP update: nEvents is strictly monotone per touch. */
  private def lastPattern(updates: DataFrame): DataFrame = updates
    .groupBy("user_id")
    .agg(max(struct(col("n_events"), col("n_conv"), col("n_err_runs"),
      col("signup_converted"))).as("last"))
    .select(col("user_id"), col("last.n_events").as("n_events"),
      col("last.n_conv").as("n_conv"),
      col("last.n_err_runs").as("n_err_runs"),
      col("last.signup_converted").as("signup_converted"))
    .orderBy("user_id")

  case class EvtT(user_id: Long, us: Long, event_id: Long, letter: String)
  case class CepState(nEvents: Long, inMatch: Boolean, runLen: Int,
                      pending: Boolean, matched: Boolean,
                      nConv: Long, nErrRuns: Long)

  val cepInit: CepState = CepState(0L, false, 0, false, false, 0L, 0L)

  /** Pure one-event CEP transition — the DFA simulation shared by
    * [[patternState]] and the regex-equivalence property spec (which
    * proves fold-over-journey == java.util.regex counts on arbitrary
    * journeys, not just the event corpus).
    */
  def cepStep(st: CepState, ch: Char): CepState = {
    var inM = st.inMatch; var nConv = st.nConv
    if (inM) {
      if (ch == 'p') { nConv += 1; inM = false }
      else if (ch != 'c') inM = ch == 'v'
    } else if (ch == 'v') inM = true
    var runLen = st.runLen; var nErr = st.nErrRuns
    if (ch == 'e') runLen += 1
    else { if (runLen >= 2) nErr += 1; runLen = 0 }
    var pending = st.pending; var matched = st.matched
    if (ch == 's') pending = true
    else if (ch == 'p' && pending) { matched = true; pending = false }
    CepState(st.nEvents + 1, inM, runLen, pending, matched, nConv, nErr)
  }

  /** End-of-stream readout: a trailing error run of ≥2 counts (the
    * regex would match it), but state itself stays uncommitted so a
    * continuation batch cannot double-count.
    */
  def cepEmit(st: CepState): (Long, Long, Long, Boolean) =
    (st.nEvents, st.nConv,
      st.nErrRuns + (if (st.runLen >= 2) 1L else 0L), st.matched)

  /** Streaming CEP — the stateful twin of the batch q_evt_pattern
    * (MATCH_RECOGNIZE-lite): the three journey regexes compile to
    * constant-size DFAs simulated per user, so state is O(1) — a few
    * counters and three machine flags — where the batch form holds
    * the whole journey string. The simulations are EXACT equivalents
    * of leftmost-greedy non-overlapping java.util.regex matching for
    * these patterns:
    *   - `vc*p`: an attempt can only start at 'v' and consumes only
    *     'c's before 'p', so on failure the failing char itself is
    *     the only viable restart — one boolean suffices.
    *   - `ee+`: greedy matches are exactly the maximal runs of ≥2
    *     'e's — a run-length counter, committed when the run breaks.
    *     An OPEN run at a batch boundary is flushed provisionally
    *     into the emitted value but never into state, so a
    *     continuation batch cannot double-count it.
    *   - `s[^p]*p` (existence): a pending-signup flag armed by 's',
    *     resolved by the next 'p'.
    * Like every arrival-order feature, cross-batch equality with the
    * batch oracle assumes batches arrive in event-time order; the
    * within-batch (us, event_id) sort handles intra-batch disorder
    * (spec-asserted with a two-slice replay).
    */
  def patternState(spark: SparkSession, sfDir: String,
                   glob: String = "events.parquet",
                   maxFilesPerTrigger: Int = 0): Drained = {
    import spark.implicits._
    val updates = fileStream(spark, sfDir, Some(glob), maxFilesPerTrigger)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), substring(col("event_type"), 1, 1).as("letter"))
      .as[EvtT]
      .groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(
        (uid: Long, it: Iterator[EvtT], state: GroupState[CepState]) => {
          var st = state.getOption.getOrElse(cepInit)
          it.toSeq.sortBy(e => (e.us, e.event_id)).foreach { e =>
            st = cepStep(st, e.letter.charAt(0))
          }
          state.update(st)
          val (n, conv, err, conv2) = cepEmit(st)
          (uid, n, conv, err, conv2)
        })
      .toDF(patternCols: _*)
    drain(updates, OutputMode.Update()).map(lastPattern)
  }

  /** The 100 TB form of [[sessionCounts]]: per-user state carries ONE
    * open session and is EVICTED by event-time timeout the moment the
    * watermark passes `last event + gap` — from that point no
    * non-late event can extend the session, so it is final and emits
    * exactly once. Update-mode [[sessionCounts]] (the oracle-parity
    * harness) keeps every user's totals in state forever — correct on
    * a drained local run, unbounded on a continuous stream; here
    * state is bounded by the number of users ACTIVE inside one
    * gap+watermark horizon regardless of stream length. Sessions
    * closed mid-batch (a later event opens the next session) emit
    * without waiting for the timeout.
    *
    * Emits one row per CLOSED session: (user_id, start_us, end_us,
    * n_events). Sessions still open when the source drains remain in
    * state — the append contract; they'd emit when later data
    * advanced the watermark. The emission law is deterministic, so
    * the DuckDB oracle replays it: a session emits iff another
    * session follows it for the same user, or the final watermark
    * (max event ms − delay) strictly passed its end + gap.
    */
  def sessionCountsAppend(spark: SparkSession, sfDir: String,
                          gapMinutes: Int = 30,
                          watermarkDelay: String = "10 minutes"): Drained = {
    import spark.implicits._
    val gapUs = gapMinutes * 60L * 1000000L
    val gapMs = gapMinutes * 60L * 1000L
    // the watermarked event-time column must survive into the grouped
    // dataset for event-time timeout to be legal
    val events = fileStream(spark, sfDir, eventsGlob)
      .withWatermark("ts", watermarkDelay)
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("event_id"),
        col("ts"))
      .as[EvtW]
    val closed = events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (uid: Long, it: Iterator[EvtW], state: GroupState[OpenSess]) => {
          if (state.hasTimedOut) {
            // watermark passed last+gap: the open session is final
            val out = state.getOption
              .map(s => (uid, s.startUs, s.lastUs, s.nEvents)).iterator
            state.remove()
            out
          } else {
            val sorted = it.toSeq.sortBy(e => (e.us, e.event_id))
            val emitted =
              scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
            var open = state.getOption
            sorted.foreach { e =>
              open = open match {
                case Some(s) if e.us - s.lastUs <= gapUs =>
                  Some(OpenSess(s.startUs, e.us, s.nEvents + 1))
                case Some(s) =>
                  emitted += ((uid, s.startUs, s.lastUs, s.nEvents))
                  Some(OpenSess(e.us, e.us, 1L))
                case None =>
                  Some(OpenSess(e.us, e.us, 1L))
              }
            }
            open.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.lastUs / 1000 + gapMs)
            }
            emitted.iterator
          }
        })
      .toDF("user_id", "start_us", "end_us", "n_events")
    drain(closed, OutputMode.Append())
      .map(_.orderBy("user_id", "start_us"))
  }

  /** Streaming EP2: incremental crop-stitching. Annotated work units
    * arrive as a file stream (the post-annotation download of
    * figure_eight_functions.py:362, incremental instead of batch);
    * per-(fov, stack, slice) state accumulates crops and the canvas is
    * stitched and EMITTED the moment its last crop arrives — partial
    * canvases never leave state. `maxFilesPerTrigger` in the caller
    * makes the arrival genuinely incremental across micro-batches.
    *
    * State bound: a group's state is removed the moment its LAST crop
    * arrives, so steady-state retention is only the canvases whose
    * crops are in flight. A canvas leaks only if an upstream anomaly
    * never delivers a crop — this harness is the complete-path
    * oracle-parity form; the DEPLOYED form is
    * [[incrementalStitchAppend]], whose event-time timeout evicts such
    * canvases to a quarantine output instead of leaking them.
    *
    * Emits (fov, stack, slice, n_cells, n_nonzero) — the stitched
    * plane's invariants (the full plane can equally be written to a
    * sink; the summary keeps the drained table light).
    */
  def incrementalStitch(spark: SparkSession, planesDir: String,
                        plan: graft.ops.CropOps.CropPlan,
                        maxFilesPerTrigger: Int = 1): Drained = {
    import spark.implicits._
    import graft.core.ImagePlane
    val stream = fileStream(spark, planesDir, maxFiles = maxFilesPerTrigger)
      .select("fov", "stack", "crop", "slice", "nRows", "nCols",
        "channels", "pixels", "labels")
      .as[ImagePlane]
    val stitched = stream
      .groupByKey(p => (p.fov, p.stack, p.slice))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (key: (String, Int, Int), it: Iterator[ImagePlane],
         state: GroupState[Seq[ImagePlane]]) => {
          val acc = state.getOption.getOrElse(Seq.empty) ++ it
          if (acc.length >= plan.numCrops) {
            state.remove()
            val full = graft.ops.CropOps.stitchGroup(key._1, key._2, key._3,
              acc.sortBy(_.crop), plan)
            Iterator((full.fov, full.stack, full.slice,
              full.labels.filter(_ != 0).distinct.length.toLong,
              full.labels.count(_ != 0).toLong))
          } else {
            state.update(acc)
            Iterator.empty
          }
        })
      .toDF("fov", "stack", "slice", "n_cells", "n_nonzero")
    drain(stitched, OutputMode.Append())
      .map(_.orderBy("fov", "stack", "slice"))
  }

  /** One streamed work unit for [[incrementalStitchAppend]]: an
    * ImagePlane crop plus its upload timestamp (the reference's
    * annotated-zip download carries upload-log times,
    * aws_functions.py + upload_log CSV semantics).
    */
  case class CropArrival(fov: String, stack: Int, crop: Int, slice: Int,
                         nRows: Int, nCols: Int, channels: Seq[String],
                         pixels: Array[Float], labels: Array[Int],
                         ts: java.sql.Timestamp) {
    def plane: graft.core.ImagePlane = graft.core.ImagePlane(
      fov, stack, crop, slice, nRows, nCols, channels, pixels, labels)
  }

  /** Accumulated crops for one open canvas + the latest arrival ms
    * (the base of the quarantine timeout). */
  case class StitchState(crops: Seq[graft.core.ImagePlane], lastMs: Long)

  /** The BOUNDED form of [[incrementalStitch]] — the deployed EP2
    * reconstruct (reshape_data.py:194-234 semantics, incremental). Two
    * eviction paths keep state at "canvases whose crops are in
    * flight":
    *   - a canvas stitches and EMITS the moment its last crop arrives
    *     (state removed — the happy path, same as incrementalStitch);
    *   - a canvas whose crops STOP arriving (upstream anomaly: an
    *     annotator never returned a work unit) is evicted by
    *     EVENT-TIME TIMEOUT once the watermark passes its last arrival
    *     + `quarantineMinutes`, emitting a QUARANTINE row instead of
    *     leaking state forever — annotated work is surfaced for
    *     re-dispatch, never silently dropped.
    *
    * Emits (fov, stack, slice, n_crops, n_cells, n_nonzero, status):
    * status 'stitched' rows carry the stitched plane's census (the
    * same invariants as the batch q_img_crop_roundtrip oracle);
    * status 'quarantined' rows carry the crop count received and -1
    * censuses (no canvas was fabricated from partial data).
    *
    * The emission law is deterministic for a drained replay: a group
    * quarantines iff the final watermark (max arrival ms −
    * `watermarkDelay`) strictly passed its last arrival +
    * `quarantineMinutes`, so a DuckDB oracle can replay the full
    * output relation.
    */
  def incrementalStitchAppend(spark: SparkSession, planesDir: String,
                              plan: graft.ops.CropOps.CropPlan,
                              quarantineMinutes: Int = 5,
                              watermarkDelay: String = "2 minutes",
                              maxFilesPerTrigger: Int = 1): Drained = {
    import spark.implicits._
    val stream = fileStream(spark, planesDir, maxFiles = maxFilesPerTrigger)
      .withWatermark("ts", watermarkDelay)
      .select("fov", "stack", "crop", "slice", "nRows", "nCols",
        "channels", "pixels", "labels", "ts")
      .as[CropArrival]
    val gapMs = quarantineMinutes * 60L * 1000L
    val stitched = stream
      .groupByKey(p => (p.fov, p.stack, p.slice))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (key: (String, Int, Int), it: Iterator[CropArrival],
         state: GroupState[StitchState]) => {
          if (state.hasTimedOut) {
            // crops stopped arriving: evict to quarantine, never leak
            val s = state.get
            state.remove()
            Iterator((key._1, key._2, key._3, s.crops.length.toLong,
              -1L, -1L, "quarantined"))
          } else {
            val arrivals = it.toSeq
            val prev = state.getOption
            val acc = prev.map(_.crops).getOrElse(Seq.empty) ++ arrivals.map(_.plane)
            if (acc.length >= plan.numCrops) {
              state.remove()
              val full = graft.ops.CropOps.stitchGroup(key._1, key._2, key._3,
                acc.sortBy(_.crop), plan)
              Iterator((full.fov, full.stack, full.slice, acc.length.toLong,
                full.labels.filter(_ != 0).distinct.length.toLong,
                full.labels.count(_ != 0).toLong, "stitched"))
            } else {
              val lastMs = (prev.map(_.lastMs).toSeq ++
                arrivals.map(_.ts.getTime)).max
              state.update(StitchState(acc, lastMs))
              state.setTimeoutTimestamp(lastMs + gapMs)
              Iterator.empty
            }
          }
        })
      .toDF("fov", "stack", "slice", "n_crops", "n_cells", "n_nonzero", "status")
    drain(stitched, OutputMode.Append())
      .map(_.orderBy("fov", "stack", "slice"))
  }

  /** Streaming NEAR-duplicate gate — the ingest-time complement of
    * [[incrementalDedup]]'s exact-fingerprint check: new documents
    * (the `doc_id % 10 == 9` slice, same stream/store split as
    * q_stream_incremental) are checked against a STATIC banded
    * MinHash index of the store (32 bands x 4 rows, the exact layout
    * q_dedup_minhash_pairs gates) by a stateless stream-static join:
    * each arriving doc explodes to its 32 (band, bucket) keys, LEFT
    * OUTER joins the store index (candidates = store docs sharing any
    * band), and the full-signature estimate scores every candidate —
    * a doc is NOVEL iff its best estimate stays under 0.5. At 100 TB
    * this is the shape that matters: the store index is built once
    * offline (here localCheckpoint'd at construction), the stream
    * side never shuffles the corpus, and the only stateful operator
    * is the 32-row-per-doc collapse (per-doc aggregation state, which
    * a timestamped deployment bounds with a watermark; this
    * oracle-parity harness drains it). Scores are integer permyriads
    * (matches/128 x 10000, exact in binary) so the DuckDB replay —
    * via the pinned signature fixture, like the batch LSH family —
    * hash-gates every value.
    */
  def neardupStatic(spark: SparkSession, sfDir: String): Drained = {
    import graft.functions.{Dedup, MinhashEstimate}
    val bands = 32
    val r = 4
    def banded(df: DataFrame, idAs: String, mhAs: String): DataFrame =
      df.withColumn("band", explode(sequence(lit(0), lit(bands - 1))))
        .withColumn("bucket",
          xxhash64(slice(col("minhash"), col("band") * r + 1, lit(r))))
        .select(col("doc_id").as(idAs), col("band"), col("bucket"),
          col("minhash").as(mhAs))
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    // The STORE is the corpus-sized side, so its banded index carries
    // IDS ONLY — (store_id, band, bucket), 24 bytes — never the
    // 128-long signature (1 KB per banded row; carrying it made the
    // index join shuffle 32x the signature payload and measured 19x
    // for 10x data at sf10 — the same anti-pattern
    // Dedup.lshCandidatePairs documents). Signatures checkpoint ONCE
    // by id and join back per CANDIDATE, not per banded row. The
    // stream side keeps its signature inline: arriving batches are
    // small by definition, and a stream cannot self-join to recover
    // its own payload later.
    val sigs = Dedup.withMinhash(
        docs.filter(col("doc_id") % 10 =!= 9), "text",
        numHashes = 128, shingleWidth = 3)
      .select(col("doc_id").as("store_id"), col("minhash").as("store_mh"))
      .localCheckpoint()
    val index = sigs
      .withColumn("band", explode(sequence(lit(0), lit(bands - 1))))
      .withColumn("bucket",
        xxhash64(slice(col("store_mh"), col("band") * r + 1, lit(r))))
      .select(col("store_id"), col("band"), col("bucket"))
    val stream = fileStream(spark, sfDir, Some("documents.parquet"))
      .filter(col("doc_id") % 10 === 9)
    val sb = banded(Dedup.withMinhash(stream, "text",
      numHashes = 128, shingleWidth = 3), "doc_id", "mh")
    val scored = sb.join(index, Seq("band", "bucket"), "left_outer")
      .join(sigs, Seq("store_id"), "left_outer")
      .withColumn("est_pm", when(col("store_mh").isNull, lit(-1L))
        .otherwise(floor(MinhashEstimate.minhashEst(col("mh"),
          col("store_mh")) * 10000).cast("long")))
      .groupBy("doc_id")
      // count(DISTINCT) is unsupported in streaming aggregation; the
      // distinct-candidate count rides a set aggregate instead
      .agg(size(collect_set(col("store_id"))).cast("long").as("n_cand"),
        max(col("est_pm")).as("best_est_pm"))
      .select(col("doc_id"), col("n_cand"), col("best_est_pm"),
        (col("best_est_pm") < 5000L).as("novel"))
    // last update per doc wins (a doc's 32 band rows arrive in one
    // batch, so there is exactly one)
    drain(scored, OutputMode.Update()).map(_
      .groupBy("doc_id")
      .agg(max(struct(col("n_cand"), col("best_est_pm"), col("novel")))
        .as("last"))
      .select(col("doc_id"), col("last.n_cand").as("n_cand"),
        col("last.best_est_pm").as("best_est_pm"),
        col("last.novel").as("novel"))
      .orderBy("doc_id"))
  }

  /** Stateful streaming sessionization via flatMapGroupsWithState
    * (the W2-style sequential dependency as managed per-key state):
    * per user, events extend the current session unless the gap
    * exceeds `gapMinutes`. State survives across micro-batches; each
    * batch emits the updated per-user totals. Matches the batch
    * window-algebra sessionization exactly (same oracle).
    *
    * This is the ORACLE-PARITY harness: per-user totals never evict,
    * so state grows with the user universe — correct on a drained
    * local run, unbounded on a continuous stream. The deployed form
    * is [[sessionCountsAppend]] (event-time timeout, bounded state).
    */
  def sessionCounts(spark: SparkSession, sfDir: String,
                    gapMinutes: Int = 30): Drained = {
    import spark.implicits._
    val gapUs = gapMinutes * 60L * 1000000L
    val events = fileStream(spark, sfDir, eventsGlob)
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("event_id"))
      .as[Evt]
    val updated = events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (uid: Long, it: Iterator[Evt], state: GroupState[SessState]) => {
          val sorted = it.toSeq.sortBy(e => (e.us, e.event_id))
          var s = state.getOption.getOrElse(SessState(Long.MinValue, 0L, 0L))
          sorted.foreach { e =>
            val newSession = s.lastUs == Long.MinValue || e.us - s.lastUs > gapUs
            s = SessState(e.us,
              s.nSessions + (if (newSession) 1 else 0), s.nEvents + 1)
          }
          state.update(s)
          Iterator((uid, s.nSessions, s.nEvents))
        })
      .toDF("user_id", "n_sessions", "n_events")
    // the update drain appends per-batch emissions; keep each user's
    // final totals (single-batch local runs emit exactly once)
    drain(updated, OutputMode.Update()).map(_
      .groupBy("user_id")
      .agg(max(col("n_sessions")).as("n_sessions"), max(col("n_events")).as("n_events"))
      .orderBy("user_id"))
  }

  /** Stream-stream interval join, append mode: purchases join the same
    * user's clicks from the preceding `rangeMinutes` — the streaming
    * twin of the batch bucketed range join ([[graft.plans.RangeJoinPlan]]
    * / q_evt_range_join), emitting the matched PAIRS. Both sides are
    * watermarked and the join condition carries the event-time range,
    * which is what lets Spark EVICT join state: a buffered click can
    * only match purchases up to `rangeMinutes` newer, so once the
    * purchase-side watermark passes `click time + range` the row can
    * never match again and is dropped from the state store. Without
    * the time bound the same join buffers both streams forever.
    *
    * Inner-join matches emit the moment both sides have arrived (no
    * watermark wait — only outer joins delay for completeness), so a
    * drained run emits exactly the batch inner-join pair set, which is
    * why the registry row can share the batch operator's oracle law.
    */
  def intervalJoinAppend(spark: SparkSession, eventsDir: String,
                         rangeMinutes: Int = 60,
                         watermarkDelay: String = "30 minutes",
                         maxFilesPerTrigger: Int = 1,
                         glob: Option[String] = None): Drained =
    drain(purchaseClicks(spark, eventsDir, rangeMinutes, watermarkDelay,
        maxFilesPerTrigger, glob, "inner"),
      OutputMode.Append())
      .map(_.orderBy("event_id", "c_us"))

  /** LEFT OUTER stream-stream interval join — [[intervalJoinAppend]]'s
    * completeness twin: a purchase with NO click in its preceding
    * hour must still emit (c_us NULL), and in a stream that answer
    * can only be given once the watermark PROVES no matching click
    * can arrive (c_ts ≤ p_ts, so once the watermark passes the
    * purchase time the left row's fate is sealed). Matched pairs
    * emit on arrival exactly like the inner twin; only the
    * NULL-padded rows wait on state expiry — which is why the oracle
    * law applies only to the unmatched branch.
    */
  def intervalJoinOuterAppend(spark: SparkSession, eventsDir: String,
                              rangeMinutes: Int = 60,
                              watermarkDelay: String = "30 minutes",
                              maxFilesPerTrigger: Int = 1,
                              glob: Option[String] = None): Drained =
    drain(purchaseClicks(spark, eventsDir, rangeMinutes, watermarkDelay,
        maxFilesPerTrigger, glob, "left_outer"),
      OutputMode.Append())
      .map(_.orderBy("event_id", "c_us"))

  /** Purchases joined to the same user's clicks from the preceding
    * `rangeMinutes`, both sides watermarked, as (event_id, user_id,
    * p_us, c_us) — the stream shared by the two interval-join twins.
    */
  private def purchaseClicks(spark: SparkSession, eventsDir: String,
                             rangeMinutes: Int, watermarkDelay: String,
                             maxFilesPerTrigger: Int, glob: Option[String],
                             joinType: String): DataFrame = {
    def src(): DataFrame = fileStream(spark, eventsDir, glob, maxFilesPerTrigger)
    val purchases = src().filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_event_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", watermarkDelay)
    val clicks = src().filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
      .withWatermark("c_ts", watermarkDelay)
    purchases.join(clicks,
        col("p_user") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr(s"INTERVAL $rangeMinutes MINUTES") &&
        col("c_ts") <= col("p_ts"),
        joinType)
      .select(col("p_event_id").as("event_id"), col("p_user").as("user_id"),
        unix_micros(col("p_ts")).as("p_us"), unix_micros(col("c_ts")).as("c_us"))
  }
}
