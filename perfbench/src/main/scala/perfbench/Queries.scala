package perfbench

import graft.SparkEntry

/** Registered queries, each built through `SparkEntry.queries` and
  * written whole to the `noop` sink. Streaming queries drain while
  * they are built, so their construction span is a `streaming` span.
  */
final class QueryList(names: Seq[String]) extends Workload {
  private val defs = SparkEntry.queries
  private val missing = names.filterNot(defs.contains)
  require(missing.isEmpty, s"not registered: ${missing.mkString(", ")}")

  def ops: Seq[String] = names
  def opsPerPass: Int = names.size

  /** The tables are committed with the benchmark; the launcher reports their sizes. */
  def prepare(ctx: Ctx): Map[String, Any] = Map("queries" -> names.size)

  /** Order of the operations in one pass, fixed by the seed. */
  private def order(ctx: Ctx, pass: Int): Seq[String] =
    new scala.util.Random(ctx.seed * 7919L + pass).shuffle(names)

  private var passes = 0

  /** The last pass's results, checked after the timed region. */
  private var last = Seq.empty[(String, org.apache.spark.sql.DataFrame)]

  def pass(ctx: Ctx, tr: Tracer, dir: String): Seq[(String, String)] = {
    passes += 1
    val results = order(ctx, passes).map { q =>
      val t0 = System.nanoTime()
      val r = try tr.span("queries", q) {
        val layer = if (q.startsWith("q_stream")) "streaming" else "queries"
        val df = tr.span(layer, "construct")(defs(q)(ctx.spark, ctx.data))
        if (tr.enabled) tr.span("plans", "executedPlan")(df.queryExecution.executedPlan)
        tr.span("queries", "execute")(df.write.format("noop").mode("overwrite").save())
        Right(q -> df)
      } catch { case e: Throwable => Left(q -> e.toString.take(300)) }
      Main.log(f"$q ${(System.nanoTime() - t0) / 1e9}%.3f s")
      r
    }
    last = results.collect { case Right(r) => r }
    results.collect { case Left(f) => f }
  }

  /** Write the last pass's results, outside the timed region, for the
    * launcher to compare with the DuckDB digests. This executes each
    * plan again but does not rebuild it: eager and streaming queries
    * have already done their construction-time work.
    */
  def check(ctx: Ctx): Seq[(String, String)] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(ctx.cores)
    try {
      last.map { case (q, df) =>
        pool.submit(() =>
          try {
            df.write.mode("overwrite").parquet(s"${ctx.check}/$q")
            None
          } catch {
            case e: Throwable => Some(q -> s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
          })
      }.flatMap(_.get())
    } finally pool.shutdown()
  }
}

object QueryList {
  /** Anchors, one or two per reason, sized to the run length. */
  val batch: Seq[String] = Seq(
    "q01_pricing_summary", "q05_region_revenue",
    // a plan that count() prunes
    "q_txt_repetition",
    // slower with more cores
    "q_dq_profile",
    // the plans rewrite rule and planner strategy
    "q_evt_overlap_sql", "q_evt_asof_native",
    // native expressions
    "q_dedup_jaccard_pairs",
    // stream drains, which run at construction
    "q_stream_hourly_append", "q_stream_neardup")

  /** Family of a query name: `q01..q22` are TPC-H shaped, the rest are
    * `q_<family>_...`.
    */
  def family(q: String): String =
    if (q.length > 2 && q(1).isDigit) "tpch" else q.split('_')(1)
}

/** Writes the DuckDB oracle SQL of every benchmarked query to a JSON
  * file, for `expected.py`. Usage: perfbench.Oracles <out.json>
  */
object Oracles {
  def main(args: Array[String]): Unit = {
    val sql = SparkEntry.oracleSql
    Probe.writeJson(new java.io.File(args(0)),
      QueryList.batch.map(q => q -> sql(q)).toMap)
  }
}
