package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Shared helpers for the query inventory.
  *
  * Conventions that keep the DuckDB-oracle hash comparison exact:
  *   - Monetary/2-decimal doubles are cast to DECIMAL(18,2) *before*
  *     aggregation so sums are exact integers-of-cents in both engines
  *     (double summation order differs between Spark partial aggs and
  *     DuckDB; decimal arithmetic removes the divergence).
  *   - Timestamps are never returned raw: they are formatted to strings
  *     (`yyyy-MM-dd[ HH:mm:ss]`) so engine-internal representations
  *     (ns vs us, tz) cannot leak into the hash.
  *   - Every query ends in a deterministic ORDER BY with a unique
  *     tiebreak column.
  *   - Column names are aliased identically in the Spark plan and the
  *     oracle SQL.
  */
object Q {
  type QueryFn = (SparkSession, String) => DataFrame

  /** One registered operator: its name (the driver's key), its
    * DataFrame builder and the DuckDB replay of its result. Every
    * family object exposes its records as one `registry`, and
    * [[graft.SparkEntry]] projects the union by name.
    *
    * `eager` marks a builder whose CONSTRUCTION itself runs Spark jobs:
    * an eager localCheckpoint of a shared base projection, iterate-to-
    * fixpoint counts, a driver point-lookup of a probe vector or
    * codebook, split-size counts, a driver-held sketch, a sink write,
    * or a run-to-completion streaming query. Registering one of these
    * as a view is never a lazy definition, so the register-everything
    * default of [[graft.ql.Ql.registerQueries]] skips it. QlSpec asserts
    * that default runs zero jobs and PlanAuditSpec that every eager
    * builder runs at least one, so the flag is checked both ways.
    */
  final case class QueryDef(name: String, build: QueryFn, oracle: String,
                            eager: Boolean = false)

  /** Read one driver testdata table (see /root/repo/TESTDATA.md).
    *
    * The `events` table's `ts` encoding has varied across driver
    * regenerations (TIMESTAMP(NANOS) → LongType under
    * `spark.sql.legacy.parquet.nanosAsLong`; TIMESTAMP(MICROS, NTZ) →
    * TimestampNTZType); [[graft.core.EventTime.normalize]] canonicalizes
    * every variant to microsecond TimestampType at the load boundary so
    * downstream operators see a real timestamp.
    *
    * Memoized per (session, dir, name): `spark.read.parquet` runs a
    * footer-read job for schema inference plus a file listing on every
    * call, so un-cached, each query CONSTRUCTION re-paid that per
    * table — wasted at sf0.01, and at 100 TB a repeated object-store
    * listing is real money. The cached value is an immutable logical
    * plan (never `.persist`ed data), so reuse across queries is free.
    *
    * Eviction: the cache is a bounded access-order LRU (a DataFrame
    * strongly references its SparkSession, so weak-keying by session
    * can never collect — the bound is what actually caps retention;
    * entries from stopped test sessions age out under the cap).
    *
    * Staleness contract: the memo freezes the file listing + inferred
    * schema, so inputs under `dir` are assumed IMMUTABLE for the life
    * of the entry. Tooling that regenerates testdata in place must
    * call [[invalidate]] on the regenerated dir.
    */
  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    // The session OBJECT is the key: the LRU bound (not weak keying) is
    // what caps retention per the eviction note above, so holding a
    // strong session ref adds nothing the cached DataFrame didn't
    // already hold. No sessionUUID needed (it is private[sql] in 4.1.2).
    val key = (spark, dir, name)
    val hit = tableCache.synchronized(tableCache.get(key))
    if (hit != null) hit
    else {
      // Read outside the lock: the footer-inference job must not run
      // under a JVM monitor. A racing double-read is harmless — both
      // produce equivalent immutable plans; last put wins.
      val df0 = spark.read.parquet(s"$dir/$name.parquet")
      val df =
        if (name == "events") graft.core.EventTime.normalize(df0, "ts")
        else df0
      tableCache.synchronized(tableCache.put(key, df))
      df
    }
  }

  /** Drop cached plans for a dir whose files were regenerated in place. */
  def invalidate(dir: String): Unit = tableCache.synchronized {
    val it = tableCache.keySet.iterator
    while (it.hasNext) if (it.next()._2 == dir) it.remove()
  }

  // sessions x tables is small; the cap is a leak bound, not a tuning knob
  private val maxCacheEntries = 256
  private val tableCache =
    new java.util.LinkedHashMap[(SparkSession, String, String), DataFrame](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(SparkSession, String, String), DataFrame]): Boolean =
        size() > maxCacheEntries
    }

  /** Exact-arithmetic cast for the 2-decimal monetary doubles. */
  def dec(c: Column): Column = c.cast(DecimalType(18, 2))
  def dec(name: String): Column = dec(col(name))

  /** Timestamp -> 'yyyy-MM-dd' string (DuckDB: strftime '%Y-%m-%d'). */
  def asDate(c: Column): Column = date_format(c, "yyyy-MM-dd")

  /** Timestamp -> 'yyyy-MM-dd HH:mm:ss' string. */
  def asDateTime(c: Column): Column = date_format(c, "yyyy-MM-dd HH:mm:ss")

  /** Distinct 3-token shingle strings of a token-array column.
    *
    * Shape matters: the obvious `transform(sequence(...), i ->
    * element_at(tk, i))` form lets CollapseProject inline the `split`
    * that produced `tk` into EVERY element_at — the text re-splits
    * ~3x per shingle element (measured 6.8 s over sf0.1 documents for
    * the exploded form). Zipping three shifted slices evaluates the
    * split a constant number of times per ROW instead, and the lambda
    * touches only the zipped struct: same shingle values and order,
    * ~10x cheaper.
    */
  def shingles3(tk: Column): Column = {
    val n = size(tk)
    when(n >= 3,
      array_distinct(transform(
        arrays_zip(slice(tk, lit(1), n - 2), slice(tk, lit(2), n - 2),
          slice(tk, lit(3), n - 2)),
        s => concat_ws(" ", s.getField("0"), s.getField("1"), s.getField("2")))))
      .otherwise(array().cast("array<string>"))
  }

  /** [[shingles3]] with each shingle xxhash64'd — the 8-byte shuffle
    * payload variant. Delegates to the generic-width construction in
    * graft.functions.Dedup (same zip shape, single source of truth —
    * the MinHash pipeline hashes shingles identically).
    */
  def shingleHashes3(tk: Column): Column =
    graft.functions.Dedup.shingleHashCol(tk, 3)
}
