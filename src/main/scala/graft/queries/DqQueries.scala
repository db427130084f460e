package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Q._

/** Declarative data-quality suite (the Deequ/Great-Expectations
  * operator family, public pattern): a fixed set of constraints —
  * key uniqueness, referential integrity, domain ranges, value-set
  * membership, derived-column consistency, cross-table aggregate
  * reconciliation — each evaluated to one report row
  * `(tbl, cname, n_checked, n_violations, ok)`. The reference runs
  * the same discipline imperatively (12 ValueError guards in
  * reshape_data.py:57-102 alone); here the checks are data, not
  * control flow, so the report itself is a queryable relation.
  *
  * Scale shape: every constraint is either a single
  * partial-aggregatable pass over one table (uniqueness via
  * count-distinct, ranges/membership via conditional counts) or one
  * equi-join (FK anti-join semantics via a left join null-count; the
  * reconciliation joins the child aggregate to the parent on its
  * key). No check collects rows — a 100 TB audit emits the same
  * 9-row report. The interesting verdicts on this corpus: the
  * composite lineitem key is NOT unique and order totals do NOT
  * reconcile with their lineitem sums — real violation counts the
  * oracle replays exactly, not a vacuous all-green sheet.
  */
object DqQueries {

  private def report(tbl: String, cname: String, checked: Column,
                     violations: Column): Column =
    struct(lit(tbl).as("tbl"), lit(cname).as("cname"),
      checked.cast("long").as("n_checked"),
      violations.cast("long").as("n_violations"))

  private def qDqConstraints(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
    val lineitem = t(s, dir, "lineitem")
    val customer = t(s, dir, "customer")
    val events = t(s, dir, "events")
    val docs = t(s, dir, "documents")

    val singles = Seq(
      orders.agg(report("orders", "o_orderkey_unique",
        count(lit(1)), count(lit(1)) - countDistinct(col("o_orderkey"))).as("r")),
      lineitem.agg(report("lineitem", "orderkey_linenumber_unique",
        count(lit(1)),
        count(lit(1)) - countDistinct(col("l_orderkey"), col("l_linenumber"))).as("r")),
      customer.agg(report("customer", "c_custkey_notnull_unique",
        count(lit(1)),
        sum(when(col("c_custkey").isNull, 1L).otherwise(0L)) +
          (count(col("c_custkey")) - countDistinct(col("c_custkey")))).as("r")),
      lineitem.agg(report("lineitem", "quantity_in_1_50",
        count(lit(1)),
        sum(when(col("l_quantity") < 1 || col("l_quantity") > 50, 1L)
          .otherwise(0L))).as("r")),
      events.agg(report("events", "value_nonnegative",
        count(lit(1)),
        sum(when(col("value") < 0, 1L).otherwise(0L))).as("r")),
      events.agg(report("events", "event_type_in_domain",
        count(lit(1)),
        sum(when(col("event_type")
          .isin("click", "error", "purchase", "signup", "view"), 0L)
          .otherwise(1L))).as("r")),
      docs.agg(report("documents", "n_chars_consistent",
        count(lit(1)),
        sum(when(col("n_chars") =!= length(col("text")), 1L).otherwise(0L))).as("r")))

    // FK: every orders.o_custkey resolves in customer (left-join null count)
    val fkOrders = orders.select(col("o_custkey"))
      .join(customer.select(col("c_custkey")),
        col("o_custkey") === col("c_custkey"), "left")
      .agg(report("orders", "fk_custkey_resolves",
        count(lit(1)), sum(when(col("c_custkey").isNull, 1L).otherwise(0L))).as("r"))

    // cross-table reconciliation: order total within 1% of its lineitem sum
    val recon = lineitem.groupBy(col("l_orderkey"))
      .agg(sum(dec(col("l_extendedprice"))).as("li_sum"))
      .join(orders.select(col("o_orderkey"), col("o_totalprice")),
        col("l_orderkey") === col("o_orderkey"))
      .agg(report("orders", "totalprice_reconciles_1pct",
        count(lit(1)),
        sum(when(abs(col("o_totalprice") - col("li_sum").cast("double")) >
          col("o_totalprice") * 0.01, 1L).otherwise(0L))).as("r"))

    (singles :+ fkOrders :+ recon)
      .map(_.select(col("r.tbl").as("tbl"), col("r.cname").as("cname"),
        col("r.n_checked").as("n_checked"),
        col("r.n_violations").as("n_violations")))
      .reduce(_.union(_))
      .withColumn("ok", col("n_violations") === 0L)
      .orderBy("tbl", "cname")
  }

  /** Shuffle-skew pre-flight: before a 100 TB job commits to a plan,
    * measure the key distribution of every candidate join/aggregation
    * key — rows, distinct keys, the heaviest key's row count, and the
    * skew factor (max/mean, in exact integer hundredths: floor(100 ·
    * max · n_keys / n_rows) — no double division enters the hash).
    * `salt_recommended` flags keys whose heaviest value exceeds 16×
    * the mean — the threshold at which AQE's skew split stops being
    * enough and explicit salting (Dedup.lshCandidatePairsSalted's
    * treatment) pays. Each audit is one partial-aggregatable
    * two-level groupBy; nothing collects.
    */
  private def qSkewPreflight(s: SparkSession, dir: String): DataFrame = {
    def audit(tbl: String, keyName: String, df: DataFrame): DataFrame =
      df.toDF("k")
        .groupBy("k").agg(count(lit(1)).as("c"))
        .agg(lit(tbl).as("tbl"), lit(keyName).as("key"),
          sum("c").as("n_rows"), count(lit(1)).as("n_keys"),
          max("c").as("max_rows"))
        .select(col("tbl"), col("key"), col("n_rows"), col("n_keys"),
          col("max_rows"),
          floor(lit(100L) * col("max_rows") * col("n_keys") / col("n_rows"))
            .as("skew_x100"))
    Seq(
      audit("lineitem", "l_orderkey", t(s, dir, "lineitem").select(col("l_orderkey"))),
      audit("lineitem", "l_suppkey", t(s, dir, "lineitem").select(col("l_suppkey"))),
      audit("orders", "o_custkey", t(s, dir, "orders").select(col("o_custkey"))),
      audit("events", "user_id", t(s, dir, "events").select(col("user_id"))),
      audit("events", "event_type", t(s, dir, "events").select(col("event_type"))),
      audit("documents", "source", t(s, dir, "documents").select(col("source"))))
      .reduce(_.union(_))
      .withColumn("salt_recommended", col("skew_x100") > 1600L)
      .orderBy("tbl", "key")
  }

  /** Column profiler — the ANALYZE/Deequ-profiling companion to
    * [[qDqConstraints]]: for each audited column, row count, null
    * count, exact distinct count, min/max, and a verdict that the
    * HLL++ estimate (`approx_count_distinct`, the only NDV a 100 TB
    * profile would compute) lands within 3× its configured 5%
    * relative standard deviation of the exact answer.
    *
    * One aggregate pass per table produces every column's stats as
    * sibling aggregates (exact NDVs share Catalyst's single expand;
    * the sketch NDVs and min/max are plain partial aggs), then the
    * per-column report rows are stacked map-side from the 1-row
    * result — the report is always (columns) rows, never data-sized.
    * The verdict is partitioning-invariant because HLL++ register
    * merge is a max — the same estimate falls out of any split of the
    * corpus. Min/max aggregate on the native type and cast to string
    * only for the report (numeric order, lexicographic rendering).
    */
  private def qDqProfile(s: SparkSession, dir: String): DataFrame = {
    def profile(df: DataFrame, tbl: String, cols: Seq[String]): DataFrame = {
      val aggs = cols.flatMap { c => Seq(
        count(col(c)).as(s"cnt_$c"),
        countDistinct(col(c)).as(s"ndv_$c"),
        approx_count_distinct(col(c)).as(s"andv_$c"),
        min(col(c)).cast("string").as(s"min_$c"),
        max(col(c)).cast("string").as(s"max_$c"))
      }
      val one = df.agg(count(lit(1)).as("n_rows"), aggs: _*)
      one.select(explode(array(cols.map { c =>
        struct(lit(tbl).as("tbl"), lit(c).as("col_name"),
          col("n_rows"),
          (col("n_rows") - col(s"cnt_$c")).as("n_null"),
          col(s"ndv_$c").as("ndv"),
          (abs(col(s"andv_$c") - col(s"ndv_$c")) <=
            lit(0.15) * col(s"ndv_$c")).as("hll_ok"),
          col(s"min_$c").as("min_s"), col(s"max_$c").as("max_s"))
      }: _*)).as("p")).select("p.*")
    }
    profile(t(s, dir, "lineitem"), "lineitem", Seq("l_partkey", "l_returnflag"))
      .unionByName(profile(t(s, dir, "orders"), "orders",
        Seq("o_custkey", "o_orderpriority")))
      .unionByName(profile(t(s, dir, "events"), "events",
        Seq("event_type", "user_id")))
      .orderBy("tbl", "col_name")
  }

  /** k-anonymity audit (Sweeney 2002) over the customer table — the
    * privacy-release check a training-data pipeline runs before
    * shipping user-derived rows: group by the quasi-identifier tuple
    * (nation, market segment, $1000 account-balance bucket) and
    * measure, for k ∈ {2, 5, 11}, how many equivalence classes and
    * how many ROWS sit below k — the re-identification risk mass —
    * at two generalization levels (the full QI, and the balance
    * bucket generalized away: the k-anonymity ladder's next rung,
    * showing how much risk one generalization step removes).
    *
    * Scale shape: one groupBy per generalization level builds the
    * class-size relation (partial-aggregatable; classes, not rows,
    * cross the shuffle), and the per-k census rows are conditional
    * sums over those few class sizes. Balance buckets come from
    * integer cents (floor division by 100 000), so bucket edges are
    * engine-exact.
    */
  /** Differentially-private histogram release (the Laplace mechanism,
    * Dwork-McSherry-Nissim-Smith 2006) — the fourth rung of the
    * privacy family after k-anonymity / l-diversity / t-closeness:
    * the per-(event-type × day) activity histogram released with
    * Laplace(1/ε) noise at ε = 1 per cell (disjoint count cells ⇒
    * parallel composition, so ε is also the release's total budget).
    * The noise draw is SEEDED: each cell's uniform comes from the
    * md5 of its own key + a version salt (inverse-CDF transform to
    * Laplace), so the release is reproducible across engines and
    * re-runs — the property a governed pipeline needs for release
    * audits (a production release rotates the salt per epoch, which
    * is exactly one literal). Noise quantizes to micro units as a
    * LONG at emission; the true count appears beside the released
    * value because this is the INTERNAL audit view of the release,
    * not the published artifact.
    *
    * Scale shape: one partial-aggregable count; the mechanism is a
    * per-CELL scalar expression after aggregation — zero extra
    * shuffle, noise work proportional to cells, not rows.
    */
  private def qPrivDpHist(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(col("event_type"), asDate(col("ts")).as("day"))
    val hist = ev.groupBy("event_type", "day").agg(count(lit(1)).as("n"))
    val hx = conv(substring(md5(concat_ws("|",
      col("event_type"), col("day"), lit("dp-v1"))), 1, 8), 16, 10)
      .cast("long")
    val u = (hx.cast("double") + lit(0.5)) / lit(4294967296.0)
    // u is (x+0.5)/2^32 with integer x, so u == 0.5 is impossible and
    // signum never returns 0
    val noise = -(lit(1.0) / lit(1.0)) * signum(u - lit(0.5)) *
      log(lit(1.0) - lit(2.0) * abs(u - lit(0.5)))
    hist
      .withColumn("noise_micro", round(noise * lit(1e6)).cast("long"))
      .withColumn("released_micro",
        col("n") * lit(1000000L) + col("noise_micro"))
      .withColumn("eps_micro", lit(1000000L))
      .orderBy("event_type", "day")
  }

  /** Differentially-private MEAN release with clamping — the second
    * Laplace-mechanism rung after [[qPrivDpHist]]'s counts, and the
    * step where real DP releases earn their sensitivity bound: values
    * CLAMP to [0, C] (C = $100) so one record moves the sum by at
    * most C, the Laplace scale is C/ε, and the released mean is
    * (clamped sum + noise)/n. The clamp is the law's load-bearing
    * part (an unbounded value would make the release's privacy claim
    * false); the noise draw is seeded per cell exactly as the
    * histogram release (md5 of key + version salt through the
    * inverse CDF — reproducible audits). All integer micro-dollar
    * arithmetic around one per-cell noise double.
    */
  private def qPrivDpMean(s: SparkSession, dir: String): DataFrame = {
    val clampMicro = 100000000L // C = $100 in micro-dollars
    val ev = t(s, dir, "events").select(col("event_type"),
      least((dec("value") * 100).cast("long"), lit(10000L)).as("vc"))
    val agg = ev.groupBy("event_type")
      .agg(count(lit(1)).as("n"), (sum("vc") * 10000L).as("sum_micro"))
    val hx = conv(substring(md5(concat_ws("|",
      col("event_type"), lit("dp-mean-v1"))), 1, 8), 16, 10).cast("long")
    val u = (hx.cast("double") + lit(0.5)) / lit(4294967296.0)
    val lap = -signum(u - lit(0.5)) *
      log(lit(1.0) - lit(2.0) * abs(u - lit(0.5)))
    agg
      .withColumn("noise_micro",
        round(lap * lit(clampMicro.toDouble)).cast("long"))
      .withColumn("released_mean_micro",
        expr("(sum_micro + noise_micro) div n"))
      .withColumn("clamp_micro", lit(clampMicro))
      .withColumn("eps_micro", lit(1000000L))
      .orderBy("event_type")
  }

  private def qPrivKanon(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer")
      .select(col("c_nationkey"), col("c_mktsegment"),
        // floor of the double quotient, NOT integer division: both
        // Spark's long/long and DuckDB's // truncate toward zero, which
        // would merge the (-$1000, 0) bucket into bucket 0 — the oracle
        // mirrors this exact floor-of-double form
        floor(round(col("c_acctbal") * 100).cast("long") / lit(100000.0))
          .cast("long").as("bal_bucket"))
    def level(name: String, keys: Seq[String]): DataFrame = {
      val classes = cust.groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as("sz"))
      val ks = Seq(2, 5, 11)
      classes.agg(
        count(lit(1)).as("n_classes"),
        ks.map(k => count(when(col("sz") < k, 1)).as(s"c_$k")) ++
          ks.map(k => sum(when(col("sz") < k, col("sz")).otherwise(0L)).as(s"r_$k")): _*)
        .select(expr(
          s"""stack(3,
             |  2,  n_classes, c_2,  r_2,
             |  5,  n_classes, c_5,  r_5,
             |  11, n_classes, c_11, r_11)
             |  AS (k, n_classes, classes_below_k, rows_at_risk)""".stripMargin))
        .withColumn("qi_level", lit(name))
    }
    level("nation_segment_balance",
        Seq("c_nationkey", "c_mktsegment", "bal_bucket"))
      .unionByName(level("nation_segment", Seq("c_nationkey", "c_mktsegment")))
      .select("qi_level", "k", "n_classes", "classes_below_k", "rows_at_risk")
      .orderBy("qi_level", "k")
  }

  /** l-diversity audit (Machanavajjhala et al., ICDE 2006 — the
    * k-anonymity successor): a release can be k-anonymous yet leak the
    * sensitive attribute outright when an equivalence class is
    * sensitive-homogeneous. For QI = (nation, market segment) with the
    * $1000 balance bucket as the sensitive attribute, measure per
    * class l = |distinct sensitive values| and census, for
    * l ∈ {5, 8, 11}, how many classes and rows fall below each rung —
    * at two generalization levels (full QI, and segment generalized
    * away), the same ladder discipline as [[qPrivKanon]].
    *
    * Scale shape: one groupBy per level builds the class relation
    * (count + count-distinct, both partial-aggregatable — classes, not
    * rows, cross the shuffle), and each census row is a conditional
    * sum over the few class rows. The thresholds start at 5 because
    * this corpus's weakest class already carries l = 4 — a {2,3}
    * census would be vacuously green.
    */
  private def qPrivLdiv(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer")
      .select(col("c_nationkey"), col("c_mktsegment"),
        // same floor-of-double bucketing as qPrivKanon (see note there)
        floor(round(col("c_acctbal") * 100).cast("long") / lit(100000.0))
          .cast("long").as("bal_bucket"))
    def level(name: String, keys: Seq[String]): DataFrame = {
      val classes = cust.groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as("sz"), countDistinct(col("bal_bucket")).as("l"))
      val ls = Seq(5, 8, 11)
      classes.agg(
        count(lit(1)).as("n_classes"),
        ls.map(l0 => count(when(col("l") < l0, 1)).as(s"c_$l0")) ++
          ls.map(l0 => sum(when(col("l") < l0, col("sz")).otherwise(0L)).as(s"r_$l0")): _*)
        .select(expr(
          s"""stack(3,
             |  5,  n_classes, c_5,  r_5,
             |  8,  n_classes, c_8,  r_8,
             |  11, n_classes, c_11, r_11)
             |  AS (l, n_classes, classes_below_l, rows_at_risk)""".stripMargin))
        .withColumn("qi_level", lit(name))
    }
    level("nation_segment", Seq("c_nationkey", "c_mktsegment"))
      .unionByName(level("nation", Seq("c_nationkey")))
      .select("qi_level", "l", "n_classes", "classes_below_l", "rows_at_risk")
      .orderBy("qi_level", "l")
  }

  /** t-closeness audit (Li, Li & Venkatasubramanian, ICDE 2007 — the
    * third privacy rung after [[qPrivKanon]] and [[qPrivLdiv]]): a
    * class can be k-anonymous AND l-diverse yet still leak when its
    * sensitive DISTRIBUTION skews from the corpus — t measures that
    * skew as the Earth-Mover's Distance over the ordered $1000 balance
    * buckets (the ordinal-attribute EMD of the paper, =
    * Σ|F_class − F_global| / (m−1) over the m-bucket grid — the same
    * W1 machinery as q_evt_wasserstein). Everything is exact by
    * cross-multiplication — per bucket, |cum_c·N − cum_g·n_c| is
    * integer — divided once per class at ppm emission. The census
    * reports, per QI generalization rung, the class count, the worst
    * t, and how many classes (and rows) sit above the classic t = 0.2.
    *
    * Scale shape: classes × buckets is dimension-sized (QI categories
    * × the bounded bucket grid); the class ECDFs use a cumulative
    * window PARTITIONED by class; the global ECDF (≤ m rows) joins by
    * broadcast; classes, never rows, cross every shuffle.
    */
  private def qPrivTclose(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer")
      .select(col("c_nationkey"), col("c_mktsegment"),
        floor(round(col("c_acctbal") * 100).cast("long") / lit(100000.0))
          .cast("long").as("bal_bucket"))
    def level(name: String, keys: Seq[String]): DataFrame = {
      val cls = cust.groupBy((keys.map(col) :+ col("bal_bucket")): _*)
        .agg(count(lit(1)).as("c"))
        .withColumn("cls", concat_ws("|", keys.map(col): _*))
      val glob = cust.groupBy(col("bal_bucket")).agg(count(lit(1)).as("g"))
      val grid = glob.agg(count(lit(1)).as("m"), sum(col("g")).as("n_tot"))
      // every class needs every bucket of the global grid (absent
      // buckets carry c = 0 but still accumulate ECDF distance)
      val full = cls.select(col("cls")).distinct()
        .join(glob, lit(true))
        .join(cls.select(col("cls"), col("bal_bucket"), col("c")),
          Seq("cls", "bal_bucket"), "left")
        .withColumn("c", coalesce(col("c"), lit(0L)))
      val w = Window.partitionBy("cls").orderBy("bal_bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val t0 = full
        .withColumn("cum_c", sum(col("c")).over(w))
        .withColumn("cum_g", sum(col("g")).over(w))
        .withColumn("n_c", sum(col("c")).over(Window.partitionBy("cls")))
        .crossJoin(broadcast(grid))
        .groupBy(col("cls"))
        .agg(first(col("n_c")).as("n_c"), first(col("m")).as("m"),
          first(col("n_tot")).as("n_tot"),
          sum(abs(col("cum_c") * col("n_tot") - col("cum_g") * col("n_c")))
            .as("emd_num"))
        .withColumn("t_ppm",
          round(lit(1000000.0) * (col("emd_num").cast("double") /
            (col("n_c").cast("double") * col("n_tot"))) / (col("m") - 1L))
            .cast("long"))
      t0.agg(count(lit(1)).as("n_classes"), max(col("t_ppm")).as("max_t_ppm"),
          count(when(col("t_ppm") > 200000L, 1)).as("classes_above_t02"),
          sum(when(col("t_ppm") > 200000L, col("n_c")).otherwise(0L))
            .as("rows_above_t02"))
        .withColumn("qi_level", lit(name))
    }
    level("nation_segment", Seq("c_nationkey", "c_mktsegment"))
      .unionByName(level("nation", Seq("c_nationkey")))
      .select("qi_level", "n_classes", "max_t_ppm",
        "classes_above_t02", "rows_above_t02")
      .orderBy("qi_level")
  }

  private def skewOracleRow(tbl: String, key: String): String =
    s"""SELECT '$tbl' AS tbl, '$key' AS key,
       |  CAST(sum(c) AS BIGINT) AS n_rows, count(*) AS n_keys,
       |  CAST(max(c) AS BIGINT) AS max_rows,
       |  CAST(floor(100 * max(c) * count(*) / sum(c)) AS BIGINT) AS skew_x100,
       |  floor(100 * max(c) * count(*) / sum(c)) > 1600 AS salt_recommended
       |FROM (SELECT count(*) AS c FROM $tbl GROUP BY $key)""".stripMargin

  val registry: Seq[QueryDef] = Seq(
    QueryDef("q_priv_tclose", qPrivTclose,
      """WITH cust AS (
        |  SELECT c_nationkey, c_mktsegment,
        |         CAST(floor(CAST(round(c_acctbal * 100) AS BIGINT) / 100000.0)
        |              AS BIGINT) AS bal_bucket
        |  FROM customer),
        |gtab AS (SELECT bal_bucket, count(*) AS g FROM cust GROUP BY 1),
        |grid AS (SELECT count(*) AS m, CAST(sum(g) AS BIGINT) AS n_tot FROM gtab),
        |lv AS (
        |  SELECT * FROM (
        |    SELECT 'nation_segment' AS qi_level,
        |      c_nationkey || '|' || c_mktsegment AS cls, bal_bucket FROM cust
        |    UNION ALL
        |    SELECT 'nation', CAST(c_nationkey AS VARCHAR), bal_bucket FROM cust)),
        |cl AS (SELECT qi_level, cls, bal_bucket, count(*) AS c
        |       FROM lv GROUP BY 1, 2, 3),
        |ids AS (SELECT DISTINCT qi_level, cls FROM cl),
        |full_g AS (
        |  SELECT ids.qi_level, ids.cls, gtab.bal_bucket, gtab.g,
        |         coalesce(cl.c, 0) AS c
        |  FROM ids CROSS JOIN gtab
        |  LEFT JOIN cl ON cl.qi_level = ids.qi_level AND cl.cls = ids.cls
        |              AND cl.bal_bucket = gtab.bal_bucket),
        |ec AS (
        |  SELECT qi_level, cls,
        |    sum(c) OVER w AS cum_c, sum(g) OVER w AS cum_g,
        |    sum(c) OVER (PARTITION BY qi_level, cls) AS n_c
        |  FROM full_g
        |  WINDOW w AS (PARTITION BY qi_level, cls ORDER BY bal_bucket
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |tt AS (
        |  SELECT qi_level, cls, min(n_c) AS n_c,
        |    CAST(round(1000000.0 *
        |      (CAST(sum(abs(cum_c * n_tot - cum_g * n_c)) AS DOUBLE)
        |       / (CAST(min(n_c) AS DOUBLE) * min(n_tot))) / (min(m) - 1))
        |      AS BIGINT) AS t_ppm
        |  FROM ec, grid GROUP BY 1, 2)
        |SELECT qi_level, count(*) AS n_classes,
        |  CAST(max(t_ppm) AS BIGINT) AS max_t_ppm,
        |  count(CASE WHEN t_ppm > 200000 THEN 1 END) AS classes_above_t02,
        |  CAST(sum(CASE WHEN t_ppm > 200000 THEN n_c ELSE 0 END) AS BIGINT)
        |    AS rows_above_t02
        |FROM tt GROUP BY 1 ORDER BY 1""".stripMargin),
    QueryDef("q_priv_ldiv", qPrivLdiv,
      """WITH cust AS (
        |  SELECT c_nationkey, c_mktsegment,
        |         CAST(floor(CAST(round(c_acctbal * 100) AS BIGINT) / 100000.0)
        |              AS BIGINT) AS bal_bucket
        |  FROM customer),
        |cls1 AS (
        |  SELECT count(*) AS sz, count(DISTINCT bal_bucket) AS l
        |  FROM cust GROUP BY c_nationkey, c_mktsegment),
        |cls2 AS (
        |  SELECT count(*) AS sz, count(DISTINCT bal_bucket) AS l
        |  FROM cust GROUP BY c_nationkey),
        |lv1 AS (
        |  SELECT 'nation_segment' AS qi_level, count(*) AS n_classes,
        |    count(CASE WHEN l < 5 THEN 1 END) AS c5,
        |    CAST(sum(CASE WHEN l < 5 THEN sz ELSE 0 END) AS BIGINT) AS r5,
        |    count(CASE WHEN l < 8 THEN 1 END) AS c8,
        |    CAST(sum(CASE WHEN l < 8 THEN sz ELSE 0 END) AS BIGINT) AS r8,
        |    count(CASE WHEN l < 11 THEN 1 END) AS c11,
        |    CAST(sum(CASE WHEN l < 11 THEN sz ELSE 0 END) AS BIGINT) AS r11
        |  FROM cls1),
        |lv2 AS (
        |  SELECT 'nation' AS qi_level, count(*) AS n_classes,
        |    count(CASE WHEN l < 5 THEN 1 END) AS c5,
        |    CAST(sum(CASE WHEN l < 5 THEN sz ELSE 0 END) AS BIGINT) AS r5,
        |    count(CASE WHEN l < 8 THEN 1 END) AS c8,
        |    CAST(sum(CASE WHEN l < 8 THEN sz ELSE 0 END) AS BIGINT) AS r8,
        |    count(CASE WHEN l < 11 THEN 1 END) AS c11,
        |    CAST(sum(CASE WHEN l < 11 THEN sz ELSE 0 END) AS BIGINT) AS r11
        |  FROM cls2),
        |u AS (SELECT * FROM lv1 UNION ALL SELECT * FROM lv2)
        |SELECT qi_level, l, n_classes, classes_below_l, rows_at_risk FROM (
        |  SELECT qi_level, 5 AS l, n_classes, c5 AS classes_below_l, r5 AS rows_at_risk FROM u
        |  UNION ALL
        |  SELECT qi_level, 8, n_classes, c8, r8 FROM u
        |  UNION ALL
        |  SELECT qi_level, 11, n_classes, c11, r11 FROM u)
        |ORDER BY qi_level, l""".stripMargin),
    // Clamped-mean replay: same clamp, same seeded draw, same integer
    // micro arithmetic.
    QueryDef("q_priv_dp_mean", qPrivDpMean,
      """WITH ev AS (
        |  SELECT event_type,
        |    least(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT),
        |          10000) AS vc
        |  FROM events),
        |a AS (SELECT event_type, count(*) AS n,
        |        CAST(sum(vc) * 10000 AS BIGINT) AS sum_micro
        |      FROM ev GROUP BY 1),
        |x AS (SELECT event_type, n, sum_micro,
        |        (CAST(('0x' || substr(md5(event_type || '|' ||
        |           'dp-mean-v1'), 1, 8))::BIGINT AS DOUBLE) + 0.5)
        |          / 4294967296.0 AS u
        |      FROM a),
        |nz AS (SELECT event_type, n, sum_micro,
        |        CAST(round(-sign(u - 0.5) * ln(1.0 - 2.0 * abs(u - 0.5))
        |             * 100000000.0) AS BIGINT) AS noise_micro
        |      FROM x)
        |SELECT event_type, n, sum_micro, noise_micro,
        |  (sum_micro + noise_micro) // n AS released_mean_micro,
        |  CAST(100000000 AS BIGINT) AS clamp_micro,
        |  CAST(1000000 AS BIGINT) AS eps_micro
        |FROM nz ORDER BY event_type""".stripMargin),
    // Seeded-Laplace replay: the same md5-keyed inverse-CDF transform
    // on identical operands — noise is deterministic by design (the
    // release-audit property), so the whole release hashes exactly.
    QueryDef("q_priv_dp_hist", qPrivDpHist,
      """WITH h AS (
        |  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
        |         count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |x AS (
        |  SELECT event_type, day, n,
        |    (CAST(('0x' || substr(md5(event_type || '|' || day
        |       || '|' || 'dp-v1'), 1, 8))::BIGINT AS DOUBLE) + 0.5)
        |      / 4294967296.0 AS u
        |  FROM h),
        |nz AS (
        |  SELECT event_type, day, n,
        |    CAST(round(-(1.0 / 1.0) * sign(u - 0.5)
        |      * ln(1.0 - 2.0 * abs(u - 0.5)) * 1e6) AS BIGINT)
        |      AS noise_micro
        |  FROM x)
        |SELECT event_type, day, n, noise_micro,
        |  CAST(n * 1000000 + noise_micro AS BIGINT) AS released_micro,
        |  CAST(1000000 AS BIGINT) AS eps_micro
        |FROM nz ORDER BY event_type, day""".stripMargin),
    QueryDef("q_priv_kanon", qPrivKanon,
      """WITH cust AS (
        |  SELECT c_nationkey, c_mktsegment,
        |         CAST(floor(CAST(round(c_acctbal * 100) AS BIGINT) / 100000.0)
        |              AS BIGINT) AS bal_bucket
        |  FROM customer),
        |cls1 AS (
        |  SELECT count(*) AS sz FROM cust
        |  GROUP BY c_nationkey, c_mktsegment, bal_bucket),
        |cls2 AS (
        |  SELECT count(*) AS sz FROM cust GROUP BY c_nationkey, c_mktsegment),
        |lv1 AS (
        |  SELECT 'nation_segment_balance' AS qi_level, count(*) AS n_classes,
        |    count(CASE WHEN sz < 2 THEN 1 END) AS c2,
        |    CAST(sum(CASE WHEN sz < 2 THEN sz ELSE 0 END) AS BIGINT) AS r2,
        |    count(CASE WHEN sz < 5 THEN 1 END) AS c5,
        |    CAST(sum(CASE WHEN sz < 5 THEN sz ELSE 0 END) AS BIGINT) AS r5,
        |    count(CASE WHEN sz < 11 THEN 1 END) AS c11,
        |    CAST(sum(CASE WHEN sz < 11 THEN sz ELSE 0 END) AS BIGINT) AS r11
        |  FROM cls1),
        |lv2 AS (
        |  SELECT 'nation_segment' AS qi_level, count(*) AS n_classes,
        |    count(CASE WHEN sz < 2 THEN 1 END) AS c2,
        |    CAST(sum(CASE WHEN sz < 2 THEN sz ELSE 0 END) AS BIGINT) AS r2,
        |    count(CASE WHEN sz < 5 THEN 1 END) AS c5,
        |    CAST(sum(CASE WHEN sz < 5 THEN sz ELSE 0 END) AS BIGINT) AS r5,
        |    count(CASE WHEN sz < 11 THEN 1 END) AS c11,
        |    CAST(sum(CASE WHEN sz < 11 THEN sz ELSE 0 END) AS BIGINT) AS r11
        |  FROM cls2),
        |u AS (SELECT * FROM lv1 UNION ALL SELECT * FROM lv2)
        |SELECT qi_level, k, n_classes, classes_below_k, rows_at_risk FROM (
        |  SELECT qi_level, 2 AS k, n_classes, c2 AS classes_below_k, r2 AS rows_at_risk FROM u
        |  UNION ALL
        |  SELECT qi_level, 5, n_classes, c5, r5 FROM u
        |  UNION ALL
        |  SELECT qi_level, 11, n_classes, c11, r11 FROM u)
        |ORDER BY qi_level, k""".stripMargin),
    // hll_ok replays as TRUE: the oracle owns the exact NDV; the
    // sketch estimate is Spark-side and gated by the verdict column
    // (the q_evt_value_pctl discipline)
    QueryDef("q_dq_profile", qDqProfile,
      """WITH li AS (
        |  SELECT 'lineitem' AS tbl, c.col_name,
        |    (SELECT count(*) FROM lineitem) AS n_rows,
        |    CASE c.col_name
        |      WHEN 'l_partkey' THEN (SELECT count(*) - count(l_partkey) FROM lineitem)
        |      ELSE (SELECT count(*) - count(l_returnflag) FROM lineitem) END AS n_null,
        |    CASE c.col_name
        |      WHEN 'l_partkey' THEN (SELECT count(DISTINCT l_partkey) FROM lineitem)
        |      ELSE (SELECT count(DISTINCT l_returnflag) FROM lineitem) END AS ndv,
        |    TRUE AS hll_ok,
        |    CASE c.col_name
        |      WHEN 'l_partkey' THEN (SELECT CAST(min(l_partkey) AS VARCHAR) FROM lineitem)
        |      ELSE (SELECT min(l_returnflag) FROM lineitem) END AS min_s,
        |    CASE c.col_name
        |      WHEN 'l_partkey' THEN (SELECT CAST(max(l_partkey) AS VARCHAR) FROM lineitem)
        |      ELSE (SELECT max(l_returnflag) FROM lineitem) END AS max_s
        |  FROM (VALUES ('l_partkey'), ('l_returnflag')) c(col_name)),
        |o AS (
        |  SELECT 'orders' AS tbl, c.col_name,
        |    (SELECT count(*) FROM orders) AS n_rows,
        |    CASE c.col_name
        |      WHEN 'o_custkey' THEN (SELECT count(*) - count(o_custkey) FROM orders)
        |      ELSE (SELECT count(*) - count(o_orderpriority) FROM orders) END AS n_null,
        |    CASE c.col_name
        |      WHEN 'o_custkey' THEN (SELECT count(DISTINCT o_custkey) FROM orders)
        |      ELSE (SELECT count(DISTINCT o_orderpriority) FROM orders) END AS ndv,
        |    TRUE AS hll_ok,
        |    CASE c.col_name
        |      WHEN 'o_custkey' THEN (SELECT CAST(min(o_custkey) AS VARCHAR) FROM orders)
        |      ELSE (SELECT min(o_orderpriority) FROM orders) END AS min_s,
        |    CASE c.col_name
        |      WHEN 'o_custkey' THEN (SELECT CAST(max(o_custkey) AS VARCHAR) FROM orders)
        |      ELSE (SELECT max(o_orderpriority) FROM orders) END AS max_s
        |  FROM (VALUES ('o_custkey'), ('o_orderpriority')) c(col_name)),
        |e AS (
        |  SELECT 'events' AS tbl, c.col_name,
        |    (SELECT count(*) FROM events) AS n_rows,
        |    CASE c.col_name
        |      WHEN 'event_type' THEN (SELECT count(*) - count(event_type) FROM events)
        |      ELSE (SELECT count(*) - count(user_id) FROM events) END AS n_null,
        |    CASE c.col_name
        |      WHEN 'event_type' THEN (SELECT count(DISTINCT event_type) FROM events)
        |      ELSE (SELECT count(DISTINCT user_id) FROM events) END AS ndv,
        |    TRUE AS hll_ok,
        |    CASE c.col_name
        |      WHEN 'event_type' THEN (SELECT min(event_type) FROM events)
        |      ELSE (SELECT CAST(min(user_id) AS VARCHAR) FROM events) END AS min_s,
        |    CASE c.col_name
        |      WHEN 'event_type' THEN (SELECT max(event_type) FROM events)
        |      ELSE (SELECT CAST(max(user_id) AS VARCHAR) FROM events) END AS max_s
        |  FROM (VALUES ('event_type'), ('user_id')) c(col_name))
        |SELECT * FROM li UNION ALL SELECT * FROM o UNION ALL SELECT * FROM e
        |ORDER BY tbl, col_name""".stripMargin),
    QueryDef("q_skew_preflight", qSkewPreflight,
      (Seq(("lineitem", "l_orderkey"), ("lineitem", "l_suppkey"),
        ("orders", "o_custkey"), ("events", "user_id"),
        ("events", "event_type"), ("documents", "source"))
        .map { case (t0, k) => skewOracleRow(t0, k) }
        .mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n) ORDER BY tbl, key"))),
    QueryDef("q_dq_constraints", qDqConstraints,
      """WITH rep AS (
        |  SELECT 'orders' AS tbl, 'o_orderkey_unique' AS cname,
        |    count(*) AS n_checked,
        |    count(*) - count(DISTINCT o_orderkey) AS n_violations FROM orders
        |  UNION ALL
        |  SELECT 'lineitem', 'orderkey_linenumber_unique', count(*),
        |    count(*) - count(DISTINCT (l_orderkey, l_linenumber)) FROM lineitem
        |  UNION ALL
        |  SELECT 'customer', 'c_custkey_notnull_unique', count(*),
        |    sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END)
        |      + (count(c_custkey) - count(DISTINCT c_custkey)) FROM customer
        |  UNION ALL
        |  SELECT 'lineitem', 'quantity_in_1_50', count(*),
        |    sum(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END) FROM lineitem
        |  UNION ALL
        |  SELECT 'events', 'value_nonnegative', count(*),
        |    sum(CASE WHEN value < 0 THEN 1 ELSE 0 END) FROM events
        |  UNION ALL
        |  SELECT 'events', 'event_type_in_domain', count(*),
        |    sum(CASE WHEN event_type IN ('click','error','purchase','signup','view')
        |        THEN 0 ELSE 1 END) FROM events
        |  UNION ALL
        |  SELECT 'documents', 'n_chars_consistent', count(*),
        |    sum(CASE WHEN n_chars <> length(text) THEN 1 ELSE 0 END) FROM documents
        |  UNION ALL
        |  SELECT 'orders', 'fk_custkey_resolves', count(*),
        |    sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)
        |  FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        |  UNION ALL
        |  SELECT 'orders', 'totalprice_reconciles_1pct', count(*),
        |    sum(CASE WHEN abs(o_totalprice - CAST(li_sum AS DOUBLE))
        |               > o_totalprice * 0.01 THEN 1 ELSE 0 END)
        |  FROM (SELECT l_orderkey,
        |          sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS li_sum
        |        FROM lineitem GROUP BY 1) s
        |  JOIN orders ON o_orderkey = l_orderkey)
        |SELECT tbl, cname, CAST(n_checked AS BIGINT) AS n_checked,
        |  CAST(n_violations AS BIGINT) AS n_violations,
        |  n_violations = 0 AS ok
        |FROM rep ORDER BY tbl, cname""".stripMargin),
  )
}
