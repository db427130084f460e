package perfbench

import org.apache.spark.sql.SparkSession

import java.io.File
import java.lang.management.ManagementFactory
import scala.collection.mutable

/** What a workload sees: the live session and its directories. */
final class Ctx(val seed: Long, val root: String, val data: String, val cores: Int) {
  var spark: SparkSession = _
  val inputs = s"$root/inputs"
  val work = s"$root/work"
  val check = s"$root/check"
  val untraced = new Tracer(() => spark, enabled = false, run = "untraced")
}

trait Workload {
  /** Generate the inputs; returns their sizes. */
  def prepare(ctx: Ctx): Map[String, Any]
  /** Operations in one pass. */
  def opsPerPass: Int
  /** One pass (warm-up or timed); returns the operations that failed (name, reason). */
  def pass(ctx: Ctx, tr: Tracer, dir: String): Seq[(String, String)]
  /** Failed operations (name, reason), checked outside the timed region. */
  def check(ctx: Ctx): Seq[(String, String)]
}

/** One benchmark run in one JVM: start a session and generate the
  * inputs three times (the median counts as set-up, with one untraced
  * warm-up pass), then run closed-loop passes for the requested seconds,
  * then check the outputs. Writes a JSON record; the launcher turns it
  * into the metrics line.
  *
  * The warm-up pass runs on the same inputs as the timed passes: after a
  * pass on smaller inputs the JIT still compiles hot paths during the
  * first timed pass, whose CPU time then spread by up to a fifth from
  * run to run.
  *
  * Usage: perfbench.Main <workload> <seed> <seconds> <trace 0|1> <size full|tiny>
  *        <data dir> <scratch root> <record file> <trace file>
  */
object Main {
  val Setups = 3
  private val t00 = System.nanoTime()

  /** Progress line on stderr, with seconds since start. */
  def log(msg: String): Unit = System.err.println(f"[perfbench ${(System.nanoTime() - t00) / 1e9}%8.2f] $msg")

  def main(args: Array[String]): Unit = {
    val Array(wlName, seedS, secondsS, traceS, size, data, root, out, traceOut) = args
    val seed = seedS.toLong
    val cores = sys.env.getOrElse("PERFBENCH_CORES", Runtime.getRuntime.availableProcessors.toString).toInt
    val ctx = new Ctx(seed, root, data, cores)
    val tiny = size == "tiny"
    val wl: Workload = wlName match {
      case "image_curation" =>
        new ImageCuration(if (tiny) Movies(2, 4, 128, 128) else Movies(2, 8, 256, 256))
      case "batch_queries" =>
        new QueryList(if (tiny) Seq("q01_pricing_summary", "q_evt_asof_native",
          "q_stream_hourly_append") else QueryList.batch)
      case other => sys.error(s"unknown workload $other")
    }
    val record = mutable.LinkedHashMap[String, Any]("workload" -> wlName, "seed" -> seed,
      "nproc" -> cores, "loadavg_start" -> Probe.loadavg())

    // ---- set-up: session and inputs three times, then one warm-up ----
    val sessionS = mutable.ArrayBuffer.empty[Double]
    val prepareS = mutable.ArrayBuffer.empty[Double]
    val traced = new Tracer(() => ctx.spark, enabled = traceS == "1", run = s"$wlName-$seed")
    var inputs = Map.empty[String, Any]
    (1 to Setups).foreach { i =>
      if (ctx.spark != null) {
        ctx.spark.stop()
        SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      }
      val t0 = System.nanoTime()
      ctx.spark = graft.core.GraftSession
        .builder(master = s"local[$cores]", shufflePartitions = cores)
        .config("spark.graft.scratchDir", s"$root/scratch")
        .config("spark.sql.warehouse.dir", s"$root/warehouse")
        .config("spark.local.dir", s"$root/local")
        .getOrCreate()
      ctx.spark.sparkContext.setLogLevel("ERROR")
      sessionS += (System.nanoTime() - t0) / 1e9
      inputs = wl.prepare(ctx)
      prepareS += (System.nanoTime() - t0) / 1e9
      log(s"set-up $i: session and inputs")
    }
    val t0 = System.nanoTime()
    wl.pass(ctx, ctx.untraced, s"${ctx.work}/warmup")
    val warmupS = (System.nanoTime() - t0) / 1e9
    Probe.delete(new File(ctx.work))
    log("warm-up done")
    traced.attach()
    record("setup_s") = prepareS.sorted.apply(Setups / 2) + warmupS
    record("session_start_s") = sessionS.toSeq
    record("session_and_inputs_s") = prepareS.toSeq
    record("warmup_s") = warmupS
    record("inputs") = inputs

    // ---- timed region: closed loop, one client ----
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val rss = new Probe.Rss
    val deadline = System.nanoTime() + (secondsS.toDouble * 1e9).toLong
    var n = 0
    var attempted = 0
    val failures = mutable.ArrayBuffer.empty[(String, String)]
    rss.start()
    // every pass of a traced run is traced; its overhead is the traced
    // runs' wall against the untraced runs' wall
    val tr = if (traced.enabled) traced else ctx.untraced
    while (n == 0 || System.nanoTime() < deadline) {
      val dir = s"${ctx.work}/pass$n"
      val cpu0 = Probe.cpuSeconds(); val w0 = Probe.wchar(); val t0 = System.nanoTime()
      failures ++=
        (try tr.span("bench", s"$wlName.pass")(wl.pass(ctx, tr, dir))
        catch { case e: Throwable => Seq(s"pass$n" -> e.toString.take(300)) })
      val wall = (System.nanoTime() - t0) / 1e9
      passes += Map("wall_s" -> wall, "cpu_s" -> (Probe.cpuSeconds() - cpu0),
        "io_write_mb" -> (Probe.wchar() - w0) / 1e6)
      attempted += wl.opsPerPass
      log(f"pass $n traced=${tr.enabled} wall=$wall%.3f s")
      if (n > 0) Probe.delete(new File(s"${ctx.work}/pass${n - 1}"))
      n += 1
    }
    rss.finish()
    record("passes") = passes.toSeq
    record("peak_rss_mb") = rss.peakMb

    // ---- correctness, outside the timed region ----
    val bad = wl.check(ctx)
    log("checked")
    failures ++= bad
    attempted += (wl match { case q: QueryList => q.ops.size; case _ => 0 })
    record("attempted") = attempted
    record("failures") = failures.map { case (k, v) => Seq(k, v) }.toSeq
    wl match {
      case i: ImageCuration => record("image_outputs") = i.outputs
      case q: QueryList => record("check_dir") = ctx.check; record("check_ops") = q.ops
      case _ =>
    }

    if (traced.enabled) {
      traced.drain()
      val layers = new Layers(traced, cores, passes.size)
      record("per_layer") = layers.metrics(wl, passes.toSeq, sessionS.toSeq) ++ (wl match {
        case i: ImageCuration => FunctionCost.forPlanes(i.planes(ctx))
        case _ => FunctionCost.forTables(ctx.spark, data)
      })
      Probe.writeJson(new File(traceOut), layers.spanRecords)
      log("per-layer metrics")
    }
    wl match { case i: ImageCuration => i.release(); case _ => }
    record("loadavg_end") = Probe.loadavg()
    ctx.spark.stop()
    Probe.writeJson(new File(out), record)
  }
}

/** Process-level probes: CPU, bytes written, resident memory, load. */
object Probe {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuSeconds(): Double = os.getProcessCpuTime / 1e9

  private def procField(file: String, key: String): Long = {
    val src = scala.io.Source.fromFile(file)
    try src.getLines().find(_.startsWith(key)).map(_.drop(key.length).trim.split("\\s+")(0).toLong)
      .getOrElse(0L)
    finally src.close()
  }

  def wchar(): Long = procField("/proc/self/io", "wchar:")

  def loadavg(): Double = {
    val src = scala.io.Source.fromFile("/proc/loadavg")
    try src.mkString.split(" ")(0).toDouble finally src.close()
  }

  /** Samples VmRSS every 20 ms while running. */
  final class Rss extends Thread {
    setDaemon(true)
    @volatile private var running = true
    @volatile var peakKb = 0L
    override def run(): Unit = while (running) {
      peakKb = math.max(peakKb, procField("/proc/self/status", "VmRSS:"))
      Thread.sleep(20)
    }
    def peakMb: Double = peakKb / 1024.0
    def finish(): Unit = { running = false; join() }
  }

  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
  }

  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => json(f.toDouble)
    case b: Boolean => b.toString
    case n: Number => n.toString
    case m: collection.Map[_, _] => m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(json).mkString("[", ",", "]")
    case other => json(other.toString)
  }

  def writeJson(f: File, v: Any): Unit = {
    Option(f.getParentFile).foreach(_.mkdirs())
    val w = new java.io.PrintWriter(f, "UTF-8")
    try w.println(json(v)) finally w.close()
  }
}
