package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._
import graft.queries.Q.QueryDef

/** Driver contract — see SURVEY.md §7.
  *
  * [[all]] is the engine's operator inventory: one [[QueryDef]] per
  * registered query (the implemented operator families from SURVEY.md
  * §2 plus the training-data-pipeline extensions), gathered from each
  * family object's `registry`. Every record carries the DuckDB replay
  * of its result (since round 13 the ANN/recall family replays through
  * pinned hyperplane/centroid/signature fixtures — see tools.FixtureGen
  * — so no query is rows-only). `queries` and `oracleSql` are the
  * name-keyed projections the driver reads.
  */
object SparkEntry {

  lazy val all: Seq[QueryDef] = Seq(
    RelationalQueries.registry, TextQueries.registry, DedupQueries.registry,
    SimilarityQueries.registry, EventQueries.registry, ImageQueries.registry,
    DatasetQueries.registry, ScaleQueries.registry, AdvancedQueries.registry,
    GraphQueries.registry, DqQueries.registry, FeatureQueries.registry,
    IoQueries.registry).flatten

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q05_region_revenue")(spark, "/root/testdata/sf0.001")

  /** Every registered query's builder, by name. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] = byName(all)(_.build)

  /** Every registered query's DuckDB replay, by name: ANSI SQL over the
    * same parquet tables, keyed exactly like [[queries]].
    */
  lazy val oracleSql: Map[String, String] = byName(all)(_.oracle)

  /** The records named by `only` (all of them when `None`); a name that
    * is not registered throws, listing every such name.
    */
  def select(only: Option[Set[String]]): Seq[QueryDef] = only match {
    case None => all
    case Some(names) =>
      val unknown = names -- queries.keySet
      require(unknown.isEmpty,
        s"unknown query names: ${unknown.toSeq.sorted.mkString(", ")}")
      all.filter(d => names(d.name))
  }

  /** The names in a comma-separated list, blanks dropped. */
  def nameList(csv: String): Set[String] =
    csv.split(',').map(_.trim).filter(_.nonEmpty).toSet

  /** Name-keyed projection of `defs`; a name registered twice throws
    * and names it (a plain `toMap` keeps the last entry silently).
    */
  private[graft] def byName[V](defs: Seq[QueryDef])(f: QueryDef => V): Map[String, V] = {
    val repeated = defs.groupBy(_.name).collect { case (n, ds) if ds.size > 1 => n }
    require(repeated.isEmpty,
      s"query names registered more than once: ${repeated.toSeq.sorted.mkString(", ")}")
    defs.map(d => d.name -> f(d)).toMap
  }
}
