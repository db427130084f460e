package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import Q._

/** Second-ring relational coverage: range-frame windows, grouping
  * sets, conditional aggregation, regex extraction, as-of joins,
  * correlated subqueries, natural ordering — the long tail a user of
  * a full engine expects, each with a DuckDB oracle.
  */
object AdvancedQueries {

  /** Range-frame window: per event, sum of the same user's values in
    * the preceding 10 minutes (event-time sliding aggregate — the
    * micro-batch form of a stream window).
    */
  private def qWRangeFrame(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("us"))
      .rangeBetween(-600000000L, 0L)
    t(s, dir, "events")
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("sum_10min", sum(dec("value")).over(w).cast("double"))
      .select(col("event_id"), col("user_id"), col("sum_10min"))
      .orderBy("event_id")
  }

  /** The remaining analytic-rank family in one pass: percent_rank,
    * cume_dist, ntile(4) and nth_value over each customer's orders by
    * price — all ride ONE window sort (same partition + ordering), so
    * Catalyst evaluates them in a single WindowExec with no extra
    * exchanges. Doubles from percent_rank/cume_dist are exact rational
    * k/n values — identical in any engine, no rounding needed.
    */
  private def qWRankFamily(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice"), col("o_orderkey"))
    t(s, dir, "orders")
      .withColumn("pr", percent_rank().over(w))
      .withColumn("cd", cume_dist().over(w))
      .withColumn("quartile", ntile(4).over(w))
      .withColumn("cheapest_key",
        nth_value(col("o_orderkey"), 1).over(
          w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .filter(col("o_orderkey") % 100 === 0)
      .select(col("o_orderkey"), col("o_custkey"), col("pr"), col("cd"),
        col("quartile"), col("cheapest_key"))
      .orderBy("o_orderkey")
  }

  /** GROUPING SETS with grouping() flags — finer than rollup (A4's
    * generalization).
    */
  private def qGroupingSets(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupingSets(
        Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority")), Seq.empty),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n"))
      .orderBy("status", "priority")

  /** Conditional aggregation (FILTER / CASE pivot): event-type counts
    * as columns per user — the manual PIVOT.
    */
  private def qCondAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy("user_id")
      .agg(
        count(when(col("event_type") === "click", 1)).as("n_click"),
        count(when(col("event_type") === "view", 1)).as("n_view"),
        count(when(col("event_type") === "purchase", 1)).as("n_purchase"),
        sum(when(col("event_type") === "purchase", dec("value"))).cast("double").as("purchase_value"))
      .orderBy("user_id")

  /** Regex extraction: pull the numeric id out of c_name
    * (regexp_extract — F10's string-function family).
    */
  private def qRegexExtract(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .select(col("c_custkey"),
        regexp_extract(col("c_name"), "(\\d+)", 1).cast("long").as("name_num"),
        length(col("c_name")).as("name_len"))
      .withColumn("id_matches_name", col("name_num") === col("c_custkey"))
      .orderBy("c_custkey")

  /** As-of join within the event stream: for each purchase, the same
    * user's most recent prior view (J2's adjacency generalized to
    * typed events — last_value over a filtered ordered window).
    */
  private def qAsofPrevView(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    t(s, dir, "events")
      .withColumn("last_view_id",
        last(when(col("event_type") === "view", col("event_id")), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("last_view_id"))
      .orderBy("event_id")
  }

  /** Correlated scalar subquery shape: customers whose account balance
    * exceeds their nation's average (decorrelated by Catalyst into a
    * join against the per-nation aggregate).
    */
  private def qAboveNationAvg(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    // divide as double (exact decimal sum cast first): decimal-division
    // scale rules differ between engines, double division is identical
    val nationAvg = c.groupBy("c_nationkey")
      .agg((sum(dec("c_acctbal")).cast("double") / count(lit(1))).as("nation_avg"))
    c.join(broadcast(nationAvg), Seq("c_nationkey"))
      .filter(col("c_acctbal") > col("nation_avg"))
      .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"),
        round(col("nation_avg"), 6).as("nation_avg"))
      .orderBy("c_custkey")
  }

  /** W5 natural ordering as a query (misc_utils.py:35-38): nation
    * names sorted naturally vs lexically ("NATION_2" before
    * "NATION_10"), counting rank disagreements. The oracle replays the
    * ordering as (digit-stripped prefix, numeric value) — equivalent
    * for single-digit-run names.
    */
  private def qNaturalSort(s: SparkSession, dir: String): DataFrame = {
    // global rank windows are fine HERE and only here: nation is a
    // 25-row dimension at every scale factor (TPC-H contract), so the
    // single-partition WindowExec holds 25 rows, not the fact table
    val withKey = t(s, dir, "nation")
      .select(col("n_nationkey"), col("n_name"),
        graft.functions.Strings.naturalKeyCol(col("n_name")).as("nat_key"))
    withKey
      .withColumn("lex_rank", row_number().over(Window.orderBy("n_name", "n_nationkey")))
      .withColumn("nat_rank", row_number().over(Window.orderBy("nat_key", "n_nationkey")))
      .select(col("n_nationkey"), col("lex_rank"), col("nat_rank"),
        (col("lex_rank") =!= col("nat_rank")).as("order_differs"))
      .orderBy("n_nationkey")
  }

  /** Skew-salted two-stage distinct count — must equal the plain
    * count(DISTINCT) the oracle computes, proving the salting rewrite
    * exact on real data.
    */
  private def qSkewDistinct(s: SparkSession, dir: String): DataFrame =
    graft.functions.Skew.saltedCountDistinct(
      t(s, dir, "lineitem"), "l_returnflag", "l_partkey", salts = 16)
      .orderBy("l_returnflag")

  /** Z-order data-layout census — the Delta/Iceberg `OPTIMIZE ZORDER
    * BY` decision, made measurable: would clustering the event log on
    * a Morton (bit-interleaved) key of (user, hour) let min/max file
    * stats prune a two-dimensional predicate better than the naive
    * time-sorted ingest layout?
    *
    * Both layouts are simulated from ONE scan with map-only file
    * assignment: the time layout files by hour (what append-order
    * ingest produces), the Z layout files by the top bits of the
    * 32-bit Morton key (a 32×32 (user, hour) tile per file — exactly
    * the space-filling-curve prefix a real Z-order writer range-
    * partitions on, so there is no global sort/row_number anywhere).
    * Per-file min/max of BOTH dimensions is the parquet-footer model;
    * a file is "scanned" iff its box intersects the planted predicate
    * (users 100–199 × hours 240–339 from the corpus epoch
    * 2024-01-01). The census reports, per layout: file count, files
    * scanned, rows read under pruning, and true matching rows
    * (layout-invariant — the built-in sanity row). Hour index is
    * anchored at the fixed corpus epoch (day 19723 × 24 = 473352) so
    * the key is a pure function of the data. The Morton spread is the
    * standard magic-mask shift sequence — plain integer ops both
    * engines evaluate identically, no UDF.
    */
  private def qLayoutZorder(s: SparkSession, dir: String): DataFrame = {
    val (uLo, uHi, hLo, hHi) = (100L, 199L, 240L, 339L)
    def spread(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
      val a = c.bitwiseOR(shiftleft(c, 8)).bitwiseAND(lit(0x00FF00FFL))
      val b = a.bitwiseOR(shiftleft(a, 4)).bitwiseAND(lit(0x0F0F0F0FL))
      val d = b.bitwiseOR(shiftleft(b, 2)).bitwiseAND(lit(0x33333333L))
      d.bitwiseOR(shiftleft(d, 1)).bitwiseAND(lit(0x55555555L))
    }
    val keyed = t(s, dir, "events")
      .select(col("user_id").bitwiseAND(lit(0xFFFFL)).as("u"),
        (expr("unix_micros(ts) div 3600000000") - lit(473352L)).as("h"))
      .withColumn("zfile", shiftrightunsigned(
        spread(col("u")).bitwiseOR(shiftleft(spread(col("h")), 1)), 10))
      .withColumn("tfile", col("h"))
      .withColumn("hit", (col("u").between(uLo, uHi) &&
        col("h").between(hLo, hHi)).cast("long"))
    def census(fileCol: String, name: String): DataFrame = {
      val overlap = col("min_u") <= uHi && col("max_u") >= uLo &&
        col("min_h") <= hHi && col("max_h") >= hLo
      keyed.groupBy(col(fileCol).as("f"))
        .agg(min("u").as("min_u"), max("u").as("max_u"),
          min("h").as("min_h"), max("h").as("max_h"),
          count(lit(1)).as("rws"), sum("hit").as("m"))
        .agg(count(lit(1)).as("n_files"),
          sum(when(overlap, 1L).otherwise(0L)).as("files_scanned"),
          sum(when(overlap, col("rws")).otherwise(0L)).as("rows_scanned"),
          sum("m").as("rows_matched"))
        .withColumn("layout", lit(name))
        .select("layout", "n_files", "files_scanned", "rows_scanned", "rows_matched")
    }
    census("zfile", "zorder").unionByName(census("tfile", "time_sort"))
      .orderBy("layout")
  }

  /** Two-phase distributed skyline (Pareto frontier) of the part
    * catalog: the parts for which no other part is both cheaper-or-
    * equal AND larger-or-equal with at least one strict — the classic
    * "best price/size trade-offs" multi-objective query
    * (Börzsönyi/Kossmann/Stocker, ICDE'01).
    *
    * Scale shape: an exact skyline needs every row compared against
    * the frontier, but skyline(S) = skyline(∪ skyline(partᵢ)) for ANY
    * disjoint partitioning — so phase 1 prunes per hash bucket with a
    * per-bucket sort window (drop a row iff some earlier row in
    * (cents asc, size desc) order has strictly larger size: that row
    * is cheaper-or-equal and strictly bigger, hence a dominator; a
    * dropped dominator is itself dominated transitively by a kept
    * one, so the prune is lossless). For random data each bucket
    * keeps ~H(n/B) ≈ ln(n/B) rows, so phase 2's exact global pass
    * runs on a few hundred rows at any corpus size — the one global
    * window is bounded by the skyline-union theorem, not by test
    * scale. Phase 2 is exact dominance via two windows on one sort:
    * m1 = max size over STRICTLY cheaper rows (range frame, dominated
    * iff m1 ≥ size — price strict), m2 = max size within the same
    * price (dominated iff m2 > size — size strict). Prices compare as
    * exact integer cents.
    */
  private def qPartSkyline(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "part").select(col("p_partkey"), col("p_size").cast("long").as("p_size"),
      round(col("p_retailprice") * 100).cast("long").as("cents"))
    val wLocal = Window.partitionBy("bucket")
      .orderBy(col("cents").asc, col("p_size").desc, col("p_partkey").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val pruned = base
      .withColumn("bucket", pmod(col("p_partkey"), lit(64)))
      .withColumn("prev_max", max("p_size").over(wLocal))
      .filter(col("prev_max").isNull || col("prev_max") <= col("p_size"))
    // phase 2: survivors are ~buckets × ln(n/buckets) rows — bounded
    // global window by construction (see scaladoc); declared in
    // PlanAuditSpec's allowlist
    val wCheaper = Window.orderBy("cents").rangeBetween(Window.unboundedPreceding, -1)
    val wSamePrice = Window.partitionBy("cents")
    pruned
      .withColumn("m1", max("p_size").over(wCheaper))
      .withColumn("m2", max("p_size").over(wSamePrice))
      .filter((col("m1").isNull || col("m1") < col("p_size")) && col("m2") <= col("p_size"))
      .select(col("p_partkey"), col("p_size"), col("cents"))
      .orderBy("p_partkey")
  }

  /** Small-file compaction planner — the other half of the data-layout
    * story next to [[qLayoutZorder]]: given a directory of small files
    * (each document modeled as a file of `n_chars` bytes under its
    * `source` prefix), plan their coalescing into ~`target`-byte
    * output bins and report the plan quality per prefix (bin count,
    * fattest bin, mean fill).
    *
    * The packing rule is boundary-by-start-offset: a file goes to bin
    * `floor(start_offset / target)` of its prefix's concatenated
    * stream (exactly how Spark's `maxPartitionBytes` file-slicing
    * assigns splits) — a pure prefix-sum, so the whole plan is ONE
    * window cumsum per prefix (parallel across prefixes, the 100 TB
    * axis) with no sequential driver loop; the two census rollups
    * after it run on partial-aggregated (prefix, bin) rows, so their
    * exchanges carry bin counts, not files. Bins overshoot `target`
    * by at most one file — the standard slicing trade-off, reported
    * honestly as max_bin_chars.
    */
  private def qLayoutCompaction(s: SparkSession, dir: String): DataFrame = {
    val target = 4096L
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val binned = t(s, dir, "documents")
      .select(col("doc_id"), col("source"), col("n_chars"))
      .withColumn("bin", (coalesce(sum("n_chars").over(w), lit(0L)) / target)
        .cast("long"))
    binned.groupBy("source", "bin")
      .agg(count(lit(1)).as("bin_files"), sum("n_chars").as("bin_chars"))
      .groupBy("source")
      .agg(sum("bin_files").as("n_files"),
        sum("bin_chars").as("total_chars"),
        count(lit(1)).as("n_bins"),
        max("bin_chars").as("max_bin_chars"))
      .withColumn("fill_ppm",
        round(lit(1000000.0) * col("total_chars") / (col("n_bins") * target))
          .cast("long"))
      .orderBy("source")
  }

  /** Approximate-query-processing estimator readout: per event type,
    * the exact revenue total next to a Horvitz–Thompson scale-up of a
    * deterministic 1-in-8 hash sample (Knuth multiplicative hash on
    * the event id — engine-neutral integer arithmetic, so the SAMPLE
    * MEMBERSHIP itself replays in the oracle), with the realized
    * relative error in ppm. At 100 TB only the sample side runs (the
    * exact twin here is the verdict's ground truth, affordable at
    * test scale); the estimate needs 1/8 of the scan and 1/8 of the
    * aggregation state, and the hash predicate pushes into the scan.
    * Everything is exact integer/deterministic-double arithmetic —
    * the oracle recomputes the estimator itself, not a TRUE literal.
    */
  private def qApproxSum(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
      .select(col("event_type"), col("event_id"),
        round(col("value") * 100).cast("long").as("cents"))
      .withColumn("in_sample", pmod(col("event_id") * 2654435761L, lit(8)) === 0)
    e.groupBy("event_type")
      .agg(count(lit(1)).as("n_total"),
        sum("cents").as("exact_cents"),
        count(when(col("in_sample"), 1)).as("n_sample"),
        (sum(when(col("in_sample"), col("cents")).otherwise(0L)) * 8L).as("est_cents"))
      .withColumn("rel_err_ppm",
        round(lit(1000000.0) * abs(col("est_cents") - col("exact_cents")) /
          col("exact_cents")).cast("long"))
      .orderBy("event_type")
  }

  /** Mergeable-sketch distinct census — the HLL (Flajolet et al. 2007,
    * via Spark 4's Apache DataSketches bindings) counterpart of
    * [[qApproxSum]]'s sampling estimator, and THE distinct-count
    * primitive at 100 TB: per ship-month, the exact distinct-order
    * count beside two sketch readouts — the DIRECT month sketch, and
    * the month sketch REBUILT by `hll_union_agg` over finer
    * (month × day-of-week) sub-sketches. The mergeability contract is
    * pinned per row by BOTH paths bounding the same exact count:
    * `direct_within_pct` for the one-pass sketch and
    * `merged_within_pct` for the union-of-parts rollup (lgK=14 ⇒
    * ~0.8% std error; threshold 3% with measured headroom —
    * deterministic per dataset, no RNG). Merged and direct are NOT
    * asserted register-identical: DataSketches HLL transitions
    * list→set→dense (and HLL_4/6/8 target types) in build-order-
    * dependent ways, so a many-way union may land in a different mode
    * with a slightly different composite estimate — measured here on
    * the 578-part 'ALL' union, which is exactly why the gate bounds
    * both against ground truth instead of each other. The 'ALL' row
    * merges EVERY fine sub-sketch across months — the
    * rollup-without-rescan a sketch store exists for (100k partial
    * sketches merge associatively on a cluster with no re-scan). The
    * oracle replays the exact counts and part censuses in DuckDB and
    * pins both verdicts TRUE — estimates themselves are
    * engine-specific DataSketches values and never cross the gate.
    *
    * Scale shape: two partial-aggregable hash aggregations over one
    * scan lineage (fine sketches ~KB each; the month rollup exchanges
    * sketch BYTES, not rows) plus the exact twin, which at 100 TB is
    * the one you drop — the verdicts here prove the sketch path can
    * replace it.
    */
  private def qSketchHllMerge(s: SparkSession, dir: String): DataFrame = {
    val lgK = 14
    val base = t(s, dir, "lineitem").select(
      date_format(col("l_shipdate"), "yyyy-MM").as("bucket"),
      dayofweek(col("l_shipdate")).as("dw"),
      col("l_orderkey").as("k"))
    val fine = base.groupBy("bucket", "dw")
      .agg(hll_sketch_agg(col("k"), lit(lgK)).as("sk"))
    // ROLLUP gives each path its month rows AND the grand-total 'ALL'
    // row in ONE aggregation pass (bucket is never null, so the rollup
    // null is unambiguous); the two paths then meet on a REAL join key.
    // (A crossJoin of the two 1-row global aggregates — or a join on a
    // literal key, which Catalyst constant-folds back to condition-less
    // — plans as BroadcastNestedLoopJoin, the unbounded shape
    // PlanAuditSpec bans inventory-wide.)
    val direct = base.rollup(col("bucket"))
      .agg(countDistinct(col("k")).as("exact_distinct"),
        hll_sketch_agg(col("k"), lit(lgK)).as("direct_sk"))
      .select(coalesce(col("bucket"), lit("ALL")).as("bucket"),
        col("exact_distinct"), col("direct_sk"))
    val merged = fine.rollup(col("bucket"))
      .agg(count(lit(1)).as("n_parts"), hll_union_agg(col("sk")).as("merged_sk"))
      .select(coalesce(col("bucket"), lit("ALL")).as("bucket"),
        col("n_parts"), col("merged_sk"))
    def withinPct(est: org.apache.spark.sql.Column) =
      abs(est - col("exact_distinct")) * 100 <= col("exact_distinct") * 3
    direct.join(merged, Seq("bucket"))
      .select(col("bucket"), col("exact_distinct"), col("n_parts"),
        withinPct(hll_sketch_estimate(col("direct_sk")))
          .as("direct_within_pct"),
        withinPct(hll_sketch_estimate(col("merged_sk")))
          .as("merged_within_pct"))
      .orderBy("bucket")
  }

  /** Is the physical join under `df` a SortMergeJoin with NO shuffle
    * exchange on either side? `sparkPlan` predates EnsureRequirements
    * (no exchanges exist yet — a vacuous check), and under AQE the
    * executed plan hides inside the adaptive wrapper, so the plan is
    * materialized once with AQE off: exchanges inserted, tree
    * directly walkable. The df must not have materialized its
    * queryExecution before this call.
    */
  private[queries] def smjShuffleFree(df: DataFrame): Boolean = {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val s = df.sparkSession
    // the conf flip is session-global: serialize verdict computation on
    // the session so a concurrent caller can't plan with AQE off or
    // restore it mid-inspection (Verify runs queries sequentially;
    // this guards parallel spec suites)
    s.synchronized {
      val prev = s.conf.get("spark.sql.adaptive.enabled")
      s.conf.set("spark.sql.adaptive.enabled", "false")
      try df.queryExecution.executedPlan
        .collectFirst { case j: SortMergeJoinExec => j }
        .exists(_.children.forall(
          _.collect { case e: ShuffleExchangeExec => e }.isEmpty))
      finally s.conf.set("spark.sql.adaptive.enabled", prev)
    }
  }

  /** Bucketed co-located join — the third panel of the data-layout
    * story ([[qLayoutZorder]] orders WITHIN files, [[qLayoutCompaction]]
    * sizes the files, this pre-shuffles ACROSS them): orders and
    * lineitem are written once as hash-bucketed tables on the join
    * key (8 buckets, sorted within), after which the orderkey join
    * plans as a SortMergeJoin with ZERO shuffle exchanges — at 100 TB
    * the fact-to-fact shuffle is paid once at ingest and amortized
    * over every later join. The census carries the verdict as a
    * column: `join_shuffle_free` is computed from the ACTUAL physical
    * plan (no exchange under either SMJ child) and pinned TRUE by the
    * oracle, so a bucketing regression fails the hash gate, not just
    * a spec. (The post-join priority groupBy still shuffles — its
    * exchange carries 5-row partials, not the fact table.)
    */
  private def qLayoutBucketJoin(s: SparkSession, dir: String): DataFrame = {
    val tag = math.abs(dir.hashCode).toString
    // the bucketed copies live under the Scratch contract: a fresh dir
    // per invocation, deleted when the JVM exits
    val base = graft.core.Scratch.dir(s, "bktjoin")
    val oT = s"t_orders_bkt_$tag"
    val lT = s"t_lineitem_bkt_$tag"
    t(s, dir, "orders").select(col("o_orderkey"), col("o_orderpriority"))
      .write.mode("overwrite").option("path", s"$base/o")
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable(oT)
    t(s, dir, "lineitem")
      .select(col("l_orderkey"),
        (round(col("l_extendedprice") * 100).cast("long") *
          (lit(100L) - round(col("l_discount") * 100).cast("long"))).as("rev"))
      .write.mode("overwrite").option("path", s"$base/l")
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable(lT)
    val census = s.table(lT).hint("merge")
      .join(s.table(oT), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_lines"), sum(col("rev")).as("rev_x10000"))
    // the analysed plan holds each table's files and bucket spec, so
    // the catalog entries can go now; dropping an external table keeps
    // its files, which the Scratch dir holds until JVM exit
    Seq(oT, lT).foreach(n => s.sql(s"DROP TABLE $n"))
    census.withColumn("join_shuffle_free", lit(smjShuffleFree(census)))
      .orderBy("o_orderpriority")
  }

  /** Mergeable QUANTILE sketch census — the rank companion of
    * [[qSketchHllMerge]]'s distinct counter, in the DDSketch family
    * (Masson, Rim & Lee, VLDB 2019): values land in
    * relative-error-bounded buckets whose merge is plain counter
    * addition. Where DDSketch buckets by `ceil(log_gamma(x))`, this
    * engine buckets by (digit-count, first-3-significant-digits) of
    * the exact integer cents — the same log-spaced geometry (bucket
    * width ≤ 1% of its low edge ⇒ midpoint estimate within 0.5% of
    * any member) but computed in INTEGER/string arithmetic, so the
    * sketch is bit-deterministic and the full law (buckets, merge,
    * readout) replays exactly in any engine — no IEEE-ln boundary
    * can flip a bucket, which is what makes the readout itself
    * hash-gateable where DataSketches HLL estimates could not be.
    *
    * Per ship-month (plus the merged 'ALL' rollup): the DIRECT
    * month histogram vs the histogram REBUILT from finer
    * (month × day-of-week) part sketches — `merge_identical` pins
    * them register-equal (a deterministic sketch merges exactly;
    * contrast the HLL row, where mode transitions force a
    * bounds-only gate) — then p50/p95/p99 read out of the sketch as
    * bucket midpoints (deci-cents) beside the EXACT twin quantiles
    * (cents, discrete: least value with cumulative count ≥ ⌈qn⌉),
    * with `p*_within` pinning the ≤0.65% relative-error contract
    * (0.5% geometric bound + headroom; prices sit ≥ 3 digits so the
    * 3-significant-digit regime always applies).
    *
    * Scale shape: the sketch path is ONE scan → partial-aggregable
    * groupBy to (month × dw × ~300 buckets) rows — counters, not
    * values, cross the exchange, and the month/ALL rollups re-add
    * counters without rescanning (100k part sketches merge
    * associatively on a cluster). The exact twin groups by distinct
    * cents — the sort-heavy pass a 100 TB deployment drops once
    * these verdicts prove the sketch can replace it. Rank cuts use
    * integer ceil-division ((q·n + 99) div 100) — no float rank
    * boundary exists anywhere in the law.
    */
  private def qSketchDdQuantile(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "lineitem").select(
      date_format(col("l_shipdate"), "yyyy-MM").as("m"),
      dayofweek(col("l_shipdate")).as("dw"),
      (dec("l_extendedprice") * 100).cast("long").as("c"))
    val bk = base
      .withColumn("cs", col("c").cast("string"))
      .withColumn("len", length(col("cs")).cast("long"))
      .withColumn("top3", substring(col("cs"), 1, 3).cast("long"))
      .withColumn("sp", greatest(col("len") - 3, lit(0L)))
      .withColumn("p10", pow(lit(10.0), col("sp")).cast("long"))
      .select(col("m"), col("dw"), col("c"),
        (col("len") * 1000 + col("top3")).as("bid"),
        (col("top3") * col("p10")).as("low_c"),
        ((col("top3") * 10 + 5) * col("p10")).as("rep_dc"))
      // materialized once (optimization r18, guide §2.4): four
      // aggregation branches (fine, directM, the exact-cents twin,
      // and their rollups) consume bk with NO shared exchange at the
      // boundary — ReuseExchange cannot unify them, so each branch's
      // map stage re-ran the scan + per-row string bucketization.
      // One checkpoint = one bucketization pass.
      .localCheckpoint()
    // fine part sketches: the unit of distribution at scale
    val fine = bk.groupBy("m", "dw", "bid")
      .agg(count(lit(1)).as("cnt"),
        max("rep_dc").as("rep_dc"), max("low_c").as("low_c"))
    // direct month sketches + the ALL rollup (counter re-addition)
    val directM = bk.groupBy("m", "bid")
      .agg(count(lit(1)).as("cnt"),
        max("rep_dc").as("rep_dc"), max("low_c").as("low_c"))
    val direct = directM.unionByName(
      directM.groupBy("bid")
        .agg(sum("cnt").as("cnt"),
          max("rep_dc").as("rep_dc"), max("low_c").as("low_c"))
        .select(lit("ALL").as("m"), col("bid"), col("cnt"),
          col("rep_dc"), col("low_c")))
    // merged-from-parts month sketches + ALL, rebuilt from `fine` only
    val mergedM = fine.groupBy("m", "bid").agg(sum("cnt").as("mcnt"))
    val merged = mergedM.unionByName(
      fine.groupBy("bid").agg(sum("cnt").as("mcnt"))
        .select(lit("ALL").as("m"), col("bid"), col("mcnt")))
    val mi = direct.select("m", "bid", "cnt")
      .join(merged, Seq("m", "bid"), "full_outer")
      .groupBy("m")
      .agg(min(coalesce(col("cnt") === col("mcnt"), lit(false)))
        .as("merge_identical"))
    val nTot = direct.groupBy("m")
      .agg(sum("cnt").as("n"), count(lit(1)).as("n_buckets"))
    val wcum = Window.partitionBy("m").orderBy("low_c", "bid")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val hist = direct.withColumn("cum", sum("cnt").over(wcum))
    def estAt(pct: Int) =
      min(when(col("cum") >= expr(s"($pct * n + 99) div 100"),
        col("rep_dc")))
    val est = hist.join(nTot, Seq("m")).groupBy("m")
      .agg(estAt(50).as("p50_est_dc"), estAt(95).as("p95_est_dc"),
        estAt(99).as("p99_est_dc"))
    // exact twin over the distinct-cents histogram (dropped at 100 TB)
    val cm = bk.groupBy("m", "c").agg(count(lit(1)).as("cc"))
    val cu = cm.unionByName(
        cm.groupBy("c").agg(sum("cc").as("cc"))
          .select(lit("ALL").as("m"), col("c"), col("cc")))
      .withColumn("cum", sum("cc").over(
        Window.partitionBy("m").orderBy("c")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    def exAt(pct: Int) =
      min(when(col("cum") >= expr(s"($pct * n + 99) div 100"), col("c")))
    val exact = cu.join(nTot, Seq("m")).groupBy("m")
      .agg(exAt(50).as("p50_exact_c"), exAt(95).as("p95_exact_c"),
        exAt(99).as("p99_exact_c"))
    def within(e: org.apache.spark.sql.Column, x: org.apache.spark.sql.Column) =
      abs(e - x * 10) * 10000 <= x * 10 * 65
    nTot.join(mi, Seq("m")).join(est, Seq("m")).join(exact, Seq("m"))
      .select(col("m").as("bucket"), col("n"), col("n_buckets"),
        col("merge_identical"),
        col("p50_est_dc"), col("p50_exact_c"),
        within(col("p50_est_dc"), col("p50_exact_c")).as("p50_within"),
        col("p95_est_dc"), col("p95_exact_c"),
        within(col("p95_est_dc"), col("p95_exact_c")).as("p95_within"),
        col("p99_est_dc"), col("p99_exact_c"),
        within(col("p99_est_dc"), col("p99_exact_c")).as("p99_within"))
      .orderBy("bucket")
  }

  val registry: Seq[QueryDef] = Seq(
    // The TRUE literal pins the plan verdict: the engine must have
    // produced an exchange-free sort-merge join over the bucketed
    // tables, or the hash gate fails (the q_evt_variant convention).
    QueryDef("q_layout_bucket_join", qLayoutBucketJoin,
      """SELECT o_orderpriority, count(*) AS n_lines,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |           * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT)
        |    AS rev_x10000,
        |  TRUE AS join_shuffle_free
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
      eager = true), // writes the bucketed tables + plan verdict
    QueryDef("q_approx_sum", qApproxSum,
      """WITH e AS (
        |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents,
        |         (event_id * 2654435761) % 8 = 0 AS in_sample
        |  FROM events)
        |SELECT event_type, count(*) AS n_total,
        |  CAST(sum(cents) AS BIGINT) AS exact_cents,
        |  count(CASE WHEN in_sample THEN 1 END) AS n_sample,
        |  CAST(sum(CASE WHEN in_sample THEN cents ELSE 0 END) * 8 AS BIGINT) AS est_cents,
        |  CAST(round(1000000.0 * abs(CAST(sum(CASE WHEN in_sample THEN cents ELSE 0 END) * 8 AS BIGINT)
        |       - CAST(sum(cents) AS BIGINT)) / CAST(sum(cents) AS BIGINT)) AS BIGINT) AS rel_err_ppm
        |FROM e GROUP BY event_type ORDER BY event_type""".stripMargin),
    // HLL gate: exact counts + part censuses replayed; the two sketch
    // verdicts (direct AND union-of-parts estimates each within 3% of
    // exact) pinned TRUE — estimates are DataSketches-specific and
    // never cross the gate.
    QueryDef("q_sketch_hll_merge", qSketchHllMerge,
      """WITH b AS (
        |  SELECT strftime(l_shipdate, '%Y-%m') AS bucket,
        |         dayofweek(l_shipdate) AS dw, l_orderkey AS k
        |  FROM lineitem),
        |m AS (
        |  SELECT bucket, CAST(count(DISTINCT k) AS BIGINT) AS exact_distinct,
        |         CAST(count(DISTINCT dw) AS BIGINT) AS n_parts
        |  FROM b GROUP BY bucket),
        |a AS (
        |  SELECT 'ALL' AS bucket,
        |         CAST(count(DISTINCT k) AS BIGINT) AS exact_distinct,
        |         CAST((SELECT count(*) FROM
        |               (SELECT DISTINCT bucket, dw FROM b)) AS BIGINT)
        |           AS n_parts
        |  FROM b)
        |SELECT bucket, exact_distinct, n_parts,
        |       TRUE AS direct_within_pct, TRUE AS merged_within_pct
        |FROM (SELECT * FROM m UNION ALL SELECT * FROM a)
        |ORDER BY bucket""".stripMargin),
    // Full-law replay (not a bounds-only pin): the digit-bucket sketch
    // is bit-deterministic, so buckets, merge counters, midpoint
    // readouts and exact twins all reproduce in integer arithmetic.
    // merge_identical replays as the same full-histogram comparison.
    QueryDef("q_sketch_dd_quantile", qSketchDdQuantile,
      """WITH b AS (
        |  SELECT strftime(l_shipdate, '%Y-%m') AS m,
        |         dayofweek(l_shipdate) AS dw,
        |         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
        |              AS BIGINT) AS c
        |  FROM lineitem),
        |bk AS (
        |  SELECT m, dw, c,
        |    strlen(CAST(c AS VARCHAR)) * 1000
        |      + CAST(substr(CAST(c AS VARCHAR), 1, 3) AS BIGINT) AS bid,
        |    CAST(substr(CAST(c AS VARCHAR), 1, 3) AS BIGINT)
        |      * CAST(power(10, greatest(strlen(CAST(c AS VARCHAR)) - 3, 0))
        |             AS BIGINT) AS low_c,
        |    (CAST(substr(CAST(c AS VARCHAR), 1, 3) AS BIGINT) * 10 + 5)
        |      * CAST(power(10, greatest(strlen(CAST(c AS VARCHAR)) - 3, 0))
        |             AS BIGINT) AS rep_dc
        |  FROM b),
        |fine AS (SELECT m, dw, bid, count(*) AS cnt,
        |                max(rep_dc) AS rep_dc, max(low_c) AS low_c
        |         FROM bk GROUP BY 1, 2, 3),
        |dm AS (SELECT m, bid, count(*) AS cnt,
        |              max(rep_dc) AS rep_dc, max(low_c) AS low_c
        |       FROM bk GROUP BY 1, 2),
        |d AS (SELECT * FROM dm
        |      UNION ALL
        |      SELECT 'ALL', bid, CAST(sum(cnt) AS BIGINT),
        |             max(rep_dc), max(low_c) FROM dm GROUP BY bid),
        |mm AS (SELECT m, bid, CAST(sum(cnt) AS BIGINT) AS mcnt
        |       FROM fine GROUP BY 1, 2
        |       UNION ALL
        |       SELECT 'ALL', bid, CAST(sum(cnt) AS BIGINT)
        |       FROM fine GROUP BY bid),
        |mi AS (SELECT coalesce(d.m, mm.m) AS m,
        |              min(coalesce(d.cnt = mm.mcnt, FALSE)) AS merge_identical
        |       FROM d FULL JOIN mm ON d.m = mm.m AND d.bid = mm.bid
        |       GROUP BY 1),
        |nt AS (SELECT m, CAST(sum(cnt) AS BIGINT) AS n,
        |              count(*) AS n_buckets FROM d GROUP BY 1),
        |h AS (SELECT d.*, CAST(sum(cnt) OVER (PARTITION BY m
        |        ORDER BY low_c, bid ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |        AS cum FROM d),
        |est AS (SELECT m,
        |    min(CASE WHEN cum >= (50 * n + 99) // 100 THEN rep_dc END)
        |      AS p50_est_dc,
        |    min(CASE WHEN cum >= (95 * n + 99) // 100 THEN rep_dc END)
        |      AS p95_est_dc,
        |    min(CASE WHEN cum >= (99 * n + 99) // 100 THEN rep_dc END)
        |      AS p99_est_dc
        |  FROM h JOIN nt USING (m) GROUP BY m),
        |cm AS (SELECT m, c, count(*) AS cc FROM bk GROUP BY 1, 2),
        |cu AS (SELECT m, c, cum FROM (
        |         SELECT m, c, CAST(sum(cc) OVER (PARTITION BY m ORDER BY c
        |           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |         FROM (SELECT * FROM cm
        |               UNION ALL
        |               SELECT 'ALL', c, CAST(sum(cc) AS BIGINT)
        |               FROM cm GROUP BY c))),
        |ex AS (SELECT m,
        |    min(CASE WHEN cum >= (50 * n + 99) // 100 THEN c END)
        |      AS p50_exact_c,
        |    min(CASE WHEN cum >= (95 * n + 99) // 100 THEN c END)
        |      AS p95_exact_c,
        |    min(CASE WHEN cum >= (99 * n + 99) // 100 THEN c END)
        |      AS p99_exact_c
        |  FROM cu JOIN nt USING (m) GROUP BY m)
        |SELECT nt.m AS bucket, n, n_buckets, merge_identical,
        |  p50_est_dc, p50_exact_c,
        |  abs(p50_est_dc - p50_exact_c * 10) * 10000
        |    <= p50_exact_c * 10 * 65 AS p50_within,
        |  p95_est_dc, p95_exact_c,
        |  abs(p95_est_dc - p95_exact_c * 10) * 10000
        |    <= p95_exact_c * 10 * 65 AS p95_within,
        |  p99_est_dc, p99_exact_c,
        |  abs(p99_est_dc - p99_exact_c * 10) * 10000
        |    <= p99_exact_c * 10 * 65 AS p99_within
        |FROM nt JOIN mi USING (m) JOIN est USING (m) JOIN ex ON ex.m = nt.m
        |ORDER BY bucket""".stripMargin,
      eager = true), // bucketized-base checkpoint at construction (r18)
    QueryDef("q_layout_compaction", qLayoutCompaction,
      """WITH f AS (
        |  SELECT doc_id, source, n_chars,
        |    coalesce(sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_off
        |  FROM documents),
        |b AS (
        |  SELECT source, start_off // 4096 AS bin,
        |         count(*) AS bin_files, sum(n_chars) AS bin_chars
        |  FROM f GROUP BY 1, 2)
        |SELECT source,
        |  CAST(sum(bin_files) AS BIGINT) AS n_files,
        |  CAST(sum(bin_chars) AS BIGINT) AS total_chars,
        |  count(*) AS n_bins,
        |  CAST(max(bin_chars) AS BIGINT) AS max_bin_chars,
        |  CAST(round(1000000.0 * CAST(sum(bin_chars) AS BIGINT)
        |       / (count(*) * 4096)) AS BIGINT) AS fill_ppm
        |FROM b GROUP BY source ORDER BY source""".stripMargin),
    // single-pass window formulation, provably equivalent to the
    // NOT-EXISTS dominance definition (see qPartSkyline scaladoc):
    // dominated iff a strictly-cheaper row has size >= mine (m1) or a
    // same-price row has size > mine (m2)
    QueryDef("q_part_skyline", qPartSkyline,
      """WITH b AS (
        |  SELECT p_partkey, CAST(p_size AS BIGINT) AS p_size,
        |         CAST(round(p_retailprice * 100) AS BIGINT) AS cents
        |  FROM part),
        |w AS (
        |  SELECT *,
        |    max(p_size) OVER (ORDER BY cents
        |      RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS m1,
        |    max(p_size) OVER (PARTITION BY cents) AS m2
        |  FROM b)
        |SELECT p_partkey, p_size, cents FROM w
        |WHERE (m1 IS NULL OR m1 < p_size) AND m2 <= p_size
        |ORDER BY p_partkey""".stripMargin),
    QueryDef("q_layout_zorder", qLayoutZorder,
      """WITH base AS (
        |  SELECT user_id & 65535 AS u,
        |         (epoch_us(ts) // 3600000000) - 473352 AS h
        |  FROM events),
        |s1 AS (SELECT u, h, ((u | (u << 8)) & 16711935) AS u1,
        |              ((h | (h << 8)) & 16711935) AS h1 FROM base),
        |s2 AS (SELECT u, h, ((u1 | (u1 << 4)) & 252645135) AS u2,
        |              ((h1 | (h1 << 4)) & 252645135) AS h2 FROM s1),
        |s3 AS (SELECT u, h, ((u2 | (u2 << 2)) & 858993459) AS u3,
        |              ((h2 | (h2 << 2)) & 858993459) AS h3 FROM s2),
        |s4 AS (SELECT u, h, ((u3 | (u3 << 1)) & 1431655765) AS su,
        |              ((h3 | (h3 << 1)) & 1431655765) AS sh FROM s3),
        |k AS (SELECT u, h, (su | (sh << 1)) >> 10 AS zfile, h AS tfile,
        |        CASE WHEN u BETWEEN 100 AND 199 AND h BETWEEN 240 AND 339
        |             THEN 1 ELSE 0 END AS hit
        |      FROM s4),
        |fz AS (SELECT zfile AS f, min(u) min_u, max(u) max_u, min(h) min_h,
        |              max(h) max_h, count(*) rws, sum(hit) m
        |       FROM k GROUP BY 1),
        |ft AS (SELECT tfile AS f, min(u) min_u, max(u) max_u, min(h) min_h,
        |              max(h) max_h, count(*) rws, sum(hit) m
        |       FROM k GROUP BY 1),
        |cz AS (SELECT 'zorder' AS layout, count(*)::BIGINT AS n_files,
        |  CAST(sum(CASE WHEN min_u <= 199 AND max_u >= 100 AND min_h <= 339
        |                 AND max_h >= 240 THEN 1 ELSE 0 END) AS BIGINT) AS files_scanned,
        |  CAST(sum(CASE WHEN min_u <= 199 AND max_u >= 100 AND min_h <= 339
        |                 AND max_h >= 240 THEN rws ELSE 0 END) AS BIGINT) AS rows_scanned,
        |  CAST(sum(m) AS BIGINT) AS rows_matched FROM fz),
        |ct AS (SELECT 'time_sort' AS layout, count(*)::BIGINT AS n_files,
        |  CAST(sum(CASE WHEN min_u <= 199 AND max_u >= 100 AND min_h <= 339
        |                 AND max_h >= 240 THEN 1 ELSE 0 END) AS BIGINT) AS files_scanned,
        |  CAST(sum(CASE WHEN min_u <= 199 AND max_u >= 100 AND min_h <= 339
        |                 AND max_h >= 240 THEN rws ELSE 0 END) AS BIGINT) AS rows_scanned,
        |  CAST(sum(m) AS BIGINT) AS rows_matched FROM ft)
        |SELECT * FROM cz UNION ALL SELECT * FROM ct ORDER BY layout""".stripMargin),
    QueryDef("q_skew_distinct", qSkewDistinct,
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_distinct
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    QueryDef("q_w_rank_family", qWRankFamily,
      """SELECT o_orderkey, o_custkey, pr, cd, quartile, cheapest_key FROM (
        |  SELECT o_orderkey, o_custkey,
        |    percent_rank() OVER w AS pr,
        |    cume_dist() OVER w AS cd,
        |    CAST(ntile(4) OVER w AS INTEGER) AS quartile,
        |    first_value(o_orderkey) OVER
        |      (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS cheapest_key
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey))
        |WHERE o_orderkey % 100 = 0 ORDER BY o_orderkey""".stripMargin),
    QueryDef("q_w_range_frame", qWRangeFrame,
      """SELECT event_id, user_id,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) OVER (
        |    PARTITION BY user_id ORDER BY epoch_us(ts)
        |    RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW) AS DOUBLE) AS sum_10min
        |FROM events ORDER BY event_id""".stripMargin),
    QueryDef("q_grouping_sets", qGroupingSets,
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |  coalesce(o_orderpriority, 'ALL') AS priority, count(*) AS n
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY status, priority""".stripMargin),
    QueryDef("q_cond_agg", qCondAgg,
      """SELECT user_id,
        |  count(*) FILTER (event_type = 'click') AS n_click,
        |  count(*) FILTER (event_type = 'view') AS n_view,
        |  count(*) FILTER (event_type = 'purchase') AS n_purchase,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) FILTER (event_type = 'purchase') AS DOUBLE) AS purchase_value
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin),
    QueryDef("q_regex_extract", qRegexExtract,
      """SELECT c_custkey,
        |  CAST(regexp_extract(c_name, '(\d+)', 1) AS BIGINT) AS name_num,
        |  length(c_name) AS name_len,
        |  CAST(regexp_extract(c_name, '(\d+)', 1) AS BIGINT) = c_custkey AS id_matches_name
        |FROM customer ORDER BY c_custkey""".stripMargin),
    QueryDef("q_asof_prev_view", qAsofPrevView,
      """WITH w AS (
        |  SELECT event_id, user_id, event_type,
        |    last_value(CASE WHEN event_type = 'view' THEN event_id END IGNORE NULLS) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_view_id
        |  FROM events)
        |SELECT event_id, user_id, last_view_id
        |FROM w WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin),
    QueryDef("q_above_nation_avg", qAboveNationAvg,
      """WITH na AS (
        |  SELECT c_nationkey,
        |    CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS nation_avg
        |  FROM customer GROUP BY c_nationkey)
        |SELECT c_custkey, c.c_nationkey, c_acctbal, round(nation_avg, 6) AS nation_avg
        |FROM customer c JOIN na ON c.c_nationkey = na.c_nationkey
        |WHERE c_acctbal > nation_avg ORDER BY c_custkey""".stripMargin),
    QueryDef("q_natural_sort", qNaturalSort,
      """WITH k AS (
        |  SELECT n_nationkey, n_name,
        |    regexp_replace(n_name, '\d+', '', 'g') AS prefix,
        |    CAST(coalesce(nullif(regexp_extract(n_name, '(\d+)', 1), ''), '-1') AS BIGINT) AS num
        |  FROM nation)
        |SELECT n_nationkey,
        |  row_number() OVER (ORDER BY n_name, n_nationkey) AS lex_rank,
        |  row_number() OVER (ORDER BY prefix, num, n_nationkey) AS nat_rank,
        |  row_number() OVER (ORDER BY n_name, n_nationkey)
        |    <> row_number() OVER (ORDER BY prefix, num, n_nationkey) AS order_differs
        |FROM k ORDER BY n_nationkey""".stripMargin),
  )
}
