package graft.ql

import graft.SparkSpec

/** SURVEY §7.1 `ql` contract: after registration, plain `spark.sql`
  * text (the same ANSI strings the DuckDB oracle replays) returns the
  * byte-same results as the DataFrame registrations.
  */
class QlSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def viaSql(name: String): Array[String] = {
    Ql.registerTables(spark, dir)
    spark.sql(graft.SparkEntry.oracleSql(name))
      .collect().map(_.mkString("|"))
  }

  private def viaDf(name: String): Array[String] =
    graft.SparkEntry.queries(name)(spark, dir)
      .collect().map(_.mkString("|"))

  test("spark.sql(oracle text) == DataFrame registration: q01_pricing_summary") {
    assert(viaSql("q01_pricing_summary").toSeq == viaDf("q01_pricing_summary").toSeq)
  }

  test("spark.sql(oracle text) == DataFrame registration: q_a4_rollup") {
    assert(viaSql("q_a4_rollup").toSeq == viaDf("q_a4_rollup").toSeq)
  }

  test("spark.sql(oracle text) == DataFrame registration: q_topk_per_group") {
    assert(viaSql("q_topk_per_group").toSeq == viaDf("q_topk_per_group").toSeq)
  }

  test("inventory queries are addressable as views") {
    Ql.registerTables(spark, dir)
    Ql.registerQueries(spark, dir, Seq("q_a5_distinct", "q_natural_sort"))
    val n = spark.sql(
      "SELECT count(*) AS n FROM q_a5_distinct").collect().head.getLong(0)
    assert(n == graft.SparkEntry.queries("q_a5_distinct")(spark, dir).count())
    // composes with further SQL over the view
    val top = spark.sql(
      "SELECT * FROM q_natural_sort LIMIT 1").collect()
    assert(top.length == 1)
  }

  test("default registerQueries is lazy: registers no eager entries and runs no jobs") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(jobStart: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    // table reads pay their one-time schema-inference job here, outside
    // the counted window (Q.t memoizes them per session)
    Ql.registerTables(spark, dir)
    spark.sparkContext.addSparkListener(listener)
    try {
      Ql.registerQueries(spark, dir) // default path: all lazy entries
      // listener bus is async; block until posted events have drained
      // (sleep-based draining is both flaky under load and slow)
      org.apache.spark.GraftTestAccess.drainListenerBus(spark.sparkContext)
      assert(jobs.get() == 0,
        s"default view registration must not run Spark jobs (saw ${jobs.get()})")
      assert(!spark.catalog.tableExists("q_corpus_build"))
      assert(!spark.catalog.tableExists("q_stream_hourly"))
      assert(spark.catalog.tableExists("q_dedup_exact"))
      assert(spark.catalog.tableExists("q_dedup_simhash_pairs"))
      // eager entries register on explicit request
      Ql.registerQueries(spark, dir, Seq("q_dedup_components"))
      assert(spark.catalog.tableExists("q_dedup_components"))
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("registered table views hit the pruned parquet scan") {
    Ql.registerTables(spark, dir)
    val plan = spark.sql(
      "SELECT o_orderkey FROM orders WHERE o_custkey = 7")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(o_custkey), EqualTo(o_custkey,7"),
      s"pushdown missing in:\n$plan")
    assert(plan.contains("ReadSchema: struct<o_orderkey:bigint,o_custkey:bigint>"),
      s"pruning missing in:\n$plan")
  }
}
