package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener

import scala.collection.mutable

/** One call into an engine layer: wall interval, parent span and the
  * Spark work its jobs did. Spans live in memory and are written out
  * once, at the end of the run.
  */
final case class Span(id: Int, parent: Int, name: String, layer: String,
                      run: String, start: Long, var end: Long = 0L) {
  val work = new Work
  def seconds: Double = (end - start) / 1e9
}

/** Task and stage counters attributed to one span. */
final class Work {
  var jobs = 0
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var oneTaskStageMs = 0L

  def add(o: Work): Unit = {
    jobs += o.jobs; tasks += o.tasks; runMs += o.runMs; cpuNs += o.cpuNs
    gcMs += o.gcMs; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes; oneTaskStageMs += o.oneTaskStageMs
  }
}

/** One streaming micro-batch, as the StreamingQueryListener saw it. */
final case class Batch(query: String, span: Int, triggerMs: Long,
                       planningMs: Long, addBatchMs: Long, commitMs: Long,
                       stateRows: Long, stateBytes: Long)

/** In-memory tracer. With `enabled = false` every call is a plain
  * passthrough: no span objects, no listeners, no job properties.
  */
final class Tracer(spark: () => SparkSession, val enabled: Boolean, run: String) {
  private val SpanKey = "perfbench.span"
  val spans = mutable.ArrayBuffer.empty[Span]
  val batches = mutable.ArrayBuffer.empty[Batch]
  private val stack = mutable.Stack.empty[Span]
  private val stageSpan = mutable.Map.empty[Int, Span]
  private val streamSpan = mutable.Map.empty[java.util.UUID, Int]
  private val execSpan = mutable.Map.empty[Long, Int]
  private val graftExecs = mutable.Set.empty[Long]
  @volatile private var current = -1

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val sc = spark().sparkContext
      val s = Span(spans.size, stack.headOption.map(_.id).getOrElse(-1),
        name, layer, run, System.nanoTime())
      spans += s
      stack.push(s)
      current = s.id
      sc.setLocalProperty(SpanKey, s.id.toString)
      try body
      finally {
        s.end = System.nanoTime()
        stack.pop()
        current = stack.headOption.map(_.id).getOrElse(-1)
        sc.setLocalProperty(SpanKey, stack.headOption.map(_.id.toString).orNull)
      }
    }

  private def spanOf(props: java.util.Properties): Option[Span] =
    Option(props).flatMap(p => Option(p.getProperty(SpanKey))).map(i => spans(i.toInt))

  private val jobs = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      spanOf(e.properties).foreach { s =>
        Option(e.properties.getProperty("spark.sql.execution.id")).foreach(x => execSpan(x.toLong) = s.id)
        s.work.jobs += 1
        e.stageIds.foreach(stageSpan(_) = s)
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      spanOf(e.properties).foreach(stageSpan(e.stageInfo.stageId) = _)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      for (s <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
        val w = s.work
        w.tasks += 1
        w.runMs += m.executorRunTime
        w.cpuNs += m.executorCpuTime
        w.gcMs += m.jvmGCTime
        w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
    // the as-of operator is a plan node; the range join is rewritten into
    // a join on the bucket columns the rewrite adds
    private def graft(p: SparkPlanInfo): Boolean =
      p.nodeName.startsWith("AsOfJoin") || p.simpleString.contains("__graft_") || p.children.exists(graft)
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart if graft(x.sparkPlanInfo) =>
        synchronized(graftExecs += x.executionId)
      case _ =>
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val i = e.stageInfo
      for (s <- stageSpan.get(i.stageId); t0 <- i.submissionTime; t1 <- i.completionTime)
        if (i.numTasks == 1) s.work.oneTaskStageMs += t1 - t0
    }
  }

  private val streams = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      synchronized { streamSpan(e.runId) = current }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs
      def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
      val commit = d.keySet.toArray.map(_.toString).filter(_.toLowerCase.contains("commit"))
        .map(ms).sum
      val ops = p.stateOperators
      synchronized {
        batches += Batch(Option(p.name).getOrElse(p.id.toString),
          streamSpan.getOrElse(p.runId, -1), ms("triggerExecution"),
          ms("queryPlanning"), ms("addBatch"), commit,
          ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum)
      }
    }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Attach the listeners to the current session (once per session). */
  def attach(): Unit = if (enabled) {
    val s = spark()
    s.sparkContext.addSparkListener(jobs)
    s.streams.addListener(streams)
  }

  /** Wait until the listener bus has delivered every event so far. */
  def drain(): Unit = if (enabled)
    org.apache.spark.perfbench.ListenerBus.waitUntilEmpty(spark().sparkContext)

  /** SQL executions inside spans whose plans hold a graft operator. */
  def graftPlans: Int = synchronized(graftExecs.count(execSpan.contains))

  /** Span duration minus the part its children cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.iterator.filter(_.parent == s.id).map(_.seconds).sum
}
