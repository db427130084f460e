package graft.ql

import org.apache.spark.sql.SparkSession

/** Thin SQL surface (SURVEY §7.1).
  *
  * The engine is DataFrame-first, but registering the testdata tables
  * and the query inventory as temp views makes `spark.sql("SELECT …")`
  * a first-class entry point: ad-hoc ANSI SQL plans against the same
  * pruned / pushed-down parquet scans the DataFrame API gets (views are
  * lazy logical plans, not materializations), and every registered
  * operator becomes addressable as a view.
  */
object Ql {

  /** Driver testdata tables (TESTDATA.md / FIXTURES.md). */
  val tables: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** Register each parquet table under `dir` as a temp view named after
    * the table — after this, any `spark.sql` text over the TPC-H-ish
    * schema runs (with the same events-nanos rebase `graft.queries.Q.t`
    * applies everywhere else).
    */
  def registerTables(spark: SparkSession, dir: String): Unit =
    tables.foreach { name =>
      graft.queries.Q.t(spark, dir, name).createOrReplaceTempView(name)
    }

  /** Register inventory queries as temp views named after their registry
    * keys, so `spark.sql("SELECT * FROM q_dedup_exact")` composes with
    * further SQL. `names` empty ⇒ every LAZY registry entry: views are
    * logical-plan definitions, no Spark job runs at registration. The
    * `eager` records ([[graft.queries.Q.QueryDef]]) — whose construction
    * runs jobs by design — are excluded from that default and register
    * only when explicitly named; a name that is not registered throws.
    */
  def registerQueries(spark: SparkSession, dir: String,
                      names: Iterable[String] = Nil): Unit = {
    val chosen =
      if (names.isEmpty) graft.SparkEntry.all.filterNot(_.eager)
      else graft.SparkEntry.select(Some(names.toSet))
    chosen.foreach(d => d.build(spark, dir).createOrReplaceTempView(d.name))
  }
}
