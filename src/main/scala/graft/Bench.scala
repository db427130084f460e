package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Optional comma-separated allowlist for targeted timing while
    // iterating on one query (mirrors Verify's SPARK_GRAFT_VERIFY_ONLY);
    // unset ⇒ full inventory, the driver's contract. A name that is not
    // registered fails here, before the session starts.
    val only = SparkEntry.allowlist("SPARK_GRAFT_BENCH_ONLY")
    val selected = SparkEntry.select(only)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.GraftSession
      .builder(master = s"local[$cpus]", shufflePartitions = cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Spark session confs (e.g. AQE or shuffle settings) for a trial
    // run without a code change: "k1=v1;k2=v2". Applied overrides are
    // echoed to stderr and recorded in both emitted JSON lines, so a
    // bench artifact can never silently claim default config.
    val extraConf = graft.core.GraftSession.applyExtraConf(spark)
    // warm up executor threads, codegen and the parquet reader so the
    // first measured query doesn't absorb JVM startup
    spark.range(1000000).selectExpr("sum(id)").collect()
    SparkEntry.entry(spark).count()
    // deterministic (sorted) timing order, run-to-run comparable.
    // A query that THROWS is recorded in `err`, not as a ~0 s timing:
    // BENCH_r11 timed 8 construction-crashed queries at 0.00 s, which
    // reads as "fast" when it meant "dead".
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // 1-minute loadavg snapshot: co-tenant load has inflated recorded
    // timings before (BENCH_r12's q_graph_triangles read 4x its clean
    // record); with per-query load + start-time context in the JSON, a
    // noisy recording self-documents instead of reading as a regression
    def loadavg(): Double =
      try {
        val src = scala.io.Source.fromFile("/proc/loadavg")
        try src.mkString.split(" ")(0).toDouble finally src.close()
      } catch { case _: Throwable => -1.0 }
    val ctx = scala.collection.mutable.LinkedHashMap.empty[String, (Long, Double)]
    val results = selected.sortBy(_.name).map { d =>
      val name = d.name
      ctx(name) = (System.currentTimeMillis() / 1000L, loadavg())
      val t0 = System.nanoTime()
      try { d.build(spark, sfDir).count() } catch {
        case e: Throwable =>
          errors(name) = s"${e.getClass.getSimpleName}: " +
            String.valueOf(e.getMessage).replaceAll("\\s+", " ").take(200)
      }
      name -> (System.nanoTime() - t0) / 1e9
    }
    val ok = results.filterNot { case (k, _) => errors.contains(k) }
    val qs = ok.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = if (ok.nonEmpty) ok.map(_._2).sum else 0.0
    // state-store high-water marks recorded by the append-mode
    // streaming operators that ran above — the per-round artifact
    // proving watermark/timeout eviction actually bounds state
    val sw = graft.streaming.StreamOps.stateHighWater.toSeq.sortBy(_._1)
      .map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    def jq(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val errJson = errors.map { case (k, v) => s"${jq(k)}:${jq(v)}" }
      .mkString("{", ",", "}")
    // per-query [start_epoch_sec, loadavg_1min_at_start]
    val ctxJson = ctx.toSeq.sortBy(_._1)
      .map { case (k, (t, l)) => s"\"" + k + s"\":[$t,$l]" }
      .mkString("{", ",", "}")
    // The driver's per-round artifact keeps only the LAST 2000 chars of
    // stdout, so a ~6 KB named walls map can never survive the tail
    // capture (BENCH_r12/r13 both lost it; parsed:null). Two lines fix
    // it: the FULL record first (also persisted to a repo-root file the
    // next round commits), then a COMPACT line sized to fit the tail —
    // walls as a centisecond array in sorted-query-name order (the same
    // order `queries`/CORRECTNESS use, so names zip back on), plus the
    // slowest 10 by name for at-a-glance regression checks.
    val extraJson = extraConf
      .map { case (k, v) => s"${jq(k)}:${jq(v)}" }.mkString("{", ",", "}")
    val line =
      s"""{"detail":"full","value":$total,"unit":"sec","queries":$qs,"err":$errJson,"state_rows":$sw,"query_ctx":$ctxJson,"extra_conf":$extraJson,"load_end":${loadavg()},"sf":"$sfDir"}"""
    def r2(d: Double): Double = math.rint(d * 100) / 100
    val slowJson = ok.sortBy(-_._2).take(10)
      .map { case (k, v) => s"\"" + k + "\":" + r2(v) }
      .mkString("{", ",", "}")
    val wallsCs = ok.map { case (_, v) => math.rint(v * 100).toLong }
      .mkString("[", ",", "]")
    val compact =
      s"""{"metric":"total","value":${r2(total)},"unit":"sec","n_queries":${ok.size},"slowest":$slowJson,"walls_cs":$wallsCs,"walls_order":"sorted_query_names","n_err":${errors.size},"extra_conf":$extraJson,"load_end":${loadavg()},"sf":"$sfDir"}"""
    println(line)
    println(compact)
    // persist the full line where the NEXT round's commit picks it up
    // (target/ is gitignored; this artifact is the per-query record).
    // A BENCH_ONLY subset run must NOT clobber the committed full-run
    // record (learned the hard way: a one-query decade probe replaced
    // the 250-query walls) — subset walls go to a suffixed file unless
    // SPARK_GRAFT_BENCH_OUT overrides explicitly.
    val defaultOut =
      if (only.isDefined) "BENCH_WALLS_SUBSET.json" else "BENCH_WALLS_LATEST.json"
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", defaultOut)
    val outFile = new java.io.File(out).getAbsoluteFile
    Option(outFile.getParentFile).foreach(_.mkdirs())
    val w = new java.io.PrintWriter(outFile)
    try { w.println(line); w.println(compact) } finally w.close()
    spark.stop()
  }
}
