package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import Q._

/** Time-ordered / stateful operators over the `events` table — the
  * relational analog of the reference's frame-sequential processing
  * (relabel.py:263-274) plus the windowed-aggregation surface a
  * streaming pipeline needs. The Structured Streaming variant of the
  * hourly aggregation lives in graft.streaming.StreamOps.
  */
object EventQueries {

  /** Tumbling-window aggregation: hourly counts + exact decimal sums
    * per event type (the batch form of the streaming hourly rollup).
    */
  private def qEvtHourly(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(
        date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), sum(dec("value")).cast("double").as("sum_value"))
      .orderBy("hour", "event_type")

  /** Gap-based sessionization (30-min inactivity): lag + cumulative
    * sum of session-start flags — W2's sequential dependency as pure
    * window algebra, exact in integer microseconds.
    */
  private def qEvtSessionize(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t(s, dir, "events")
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
      .withColumn("new_sess",
        when(col("prev_us").isNull ||
             unix_micros(col("ts")) - col("prev_us") > 1800000000L, 1L).otherwise(0L))
      .groupBy("user_id")
      .agg(sum("new_sess").as("n_sessions"), count(lit(1)).as("n_events"))
      .orderBy("user_id")
  }

  /** Session statistics: per-session event counts via the session-id
    * running sum, then distribution of session lengths.
    */
  private def qEvtSessionStats(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "events")
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
      .withColumn("new_sess",
        when(col("prev_us").isNull ||
             unix_micros(col("ts")) - col("prev_us") > 1800000000L, 1L).otherwise(0L))
      .withColumn("sess_id", sum("new_sess").over(wRun))
      .groupBy("user_id", "sess_id")
      .agg(count(lit(1)).as("session_len"))
      .groupBy("session_len")
      .agg(count(lit(1)).as("n_sessions"))
      .orderBy("session_len")
  }

  /** Hopping (sliding) windows: 1-hour windows every 30 minutes —
    * each event lands in exactly two windows (the streaming
    * `window(ts, '1 hour', '30 minutes')` shape, replayed relationally
    * for the oracle).
    */
  private def qEvtHopping(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(dec("value")).cast("double").as("sum_value"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("wstart"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy("wstart", "event_type")

  /** Semi-structured extraction: JSON props -> typed column
    * (the metadata-JSON load of pre_annotation/data_loader.py:380-384).
    */
  private def qEvtJson(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy("k")
      .agg(count(lit(1)).as("n"))
      .orderBy("k")

  /** As-of join (point-in-time attribution): each purchase joins the
    * LATEST click of the same user at or before the purchase time,
    * via [[graft.ops.Asof.joinLastBefore]] (union + running window —
    * one shuffle, linear, no range-join explosion; see its scaladoc).
    * Times compare and emit as integer microseconds (`unix_micros` /
    * DuckDB `epoch_us`) because parquet stores ns while Spark
    * truncates to us — raw ns timestamps would tie-break differently
    * in the oracle. The oracle replays the quadratic inequality-join
    * encoding, which is exactly the formulation the operator avoids.
    */
  private def qEvtAsof(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("p_us"), col("value"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), unix_micros(col("ts")).as("click_us"))
    graft.ops.Asof.joinLastBefore(purchases, clicks, Seq("user_id"),
        leftTime = "p_us", rightTime = "click_us",
        payloadCols = Seq("click_us"))
      .withColumn("gap_us", col("p_us") - col("click_us"))
      .orderBy("event_id")
  }

  /** The SAME as-of attribution through the native Catalyst operator
    * ([[graft.plans.AsOfJoinExec]], planned via the injected
    * strategy) instead of the union+window composition — two
    * side-local exchanges and a per-co-partition O(1)-state merge in
    * place of one merged-timeline shuffle. Shares q_evt_asof's
    * oracle verbatim, so the driver gate hash-proves the two
    * execution paths equal; AsOfJoinSpec additionally asserts the
    * physical plan shape.
    */
  private def qEvtAsofNative(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("p_us"), col("value"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), unix_micros(col("ts")).as("click_us"))
    graft.plans.AsOfJoinPlan.joinLastBefore(purchases, clicks, Seq("user_id"),
        leftTime = "p_us", rightTime = "click_us",
        payloadCols = Seq("click_us"))
      .withColumn("gap_us", col("p_us") - col("click_us"))
      .orderBy("event_id")
  }

  /** As-of with tolerance (merge_asof staleness rule): the latest
    * prior click only attributes if it is at most 15 minutes stale —
    * the latest-before row is the nearest, so one carry + one
    * staleness check decides; no second lookup. The oracle encodes
    * the equivalent bounded window (max click in [p-15min, p]):
    * identical by the nearest-row argument in the operator scaladoc.
    */
  private def qEvtAsofTol(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("p_us"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), unix_micros(col("ts")).as("click_us"))
    graft.ops.Asof.joinLastBefore(purchases, clicks, Seq("user_id"),
        leftTime = "p_us", rightTime = "click_us",
        payloadCols = Seq("click_us"), tolerance = Some(900000000L))
      .withColumn("gap_us", col("p_us") - col("click_us"))
      .orderBy("event_id")
  }

  /** Windowed-count attribution (bucketed range join): for each
    * purchase, the count and latest time of the same user's clicks in
    * the preceding hour — [[graft.plans.RangeJoinPlan.joinPointsInInterval]]
    * (30-min buckets, so each 1-h interval explodes to at most 3
    * bucket rows; equi-shuffle on (user, bucket), exact BETWEEN as a
    * post-filter — no nested-loop join anywhere in the plan, which
    * PlanAuditSpec asserts). The left_outer mode keeps zero-click
    * purchases in the SAME pass (null-payload rows that the
    * null-ignoring count/max absorb) — one purchases scan, no
    * join-back. The oracle replays the quadratic inequality-join
    * encoding the rewrite avoids.
    */
  private def qEvtRangeJoin(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("p_us"))
      .withColumn("lo_us", col("p_us") - lit(3600000000L))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), unix_micros(col("ts")).as("c_us"))
    // the NATIVE logical node (plans.RangeJoinPlan + the
    // RangeJoinRewrite optimizer expansion)
    graft.plans.RangeJoinPlan.joinPointsInInterval(
        purchases, clicks, Seq("user_id"),
        leftLo = "lo_us", leftHi = "p_us", rightTime = "c_us",
        bucketWidth = 1800000000L, payloadCols = Seq("c_us"),
        joinType = "left_outer")
      .groupBy("event_id", "user_id", "p_us")
      .agg(count(col("c_us")).as("n_clicks"), max("c_us").as("last_click_us"))
      .orderBy("event_id")
  }

  /** The naive-inequality-join REWRITE, driver-visible through the SQL
    * surface: the purchase→click window join written as PLAIN ANSI SQL
    * (`JOIN ... ON user_id match AND c_us BETWEEN p_us-1h AND p_us`) —
    * the shape Spark would execute as a per-key cartesian — which
    * [[graft.plans.RangeJoinRewrite]] rebuckets into the (key, 1-h
    * bucket) equi join. A construction-time `require` pins that the
    * rewrite actually fired (the optimized plan must carry the
    * generated bucket column); the oracle replays the same SQL in
    * DuckDB. Complements q_evt_range_join (the explicit native node)
    * and RangeJoinPlanSpec (Scala-model rows + keyless path).
    */
  private def qEvtRangeSql(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val df = sqlOver(s, "__rsql", Seq(
      "p" -> ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("p_us")),
      "c" -> ev.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), unix_micros(col("ts")).as("c_us")))) {
      v => s"""SELECT p.event_id, p.user_id, p.p_us, c.c_us
              |FROM ${v("p")} p JOIN ${v("c")} c
              |  ON p.user_id = c.c_user
              | AND c.c_us >= p.p_us - 3600000000
              | AND c.c_us <= p.p_us""".stripMargin
    }
    require(df.queryExecution.optimizedPlan.toString.contains("__graft_bkt"),
      "naive-join rewrite did not fire on the SQL-surface inequality join")
    df.orderBy("event_id", "c_us")
  }

  /** Run `sql` over `inputs` registered as temp views named
    * `<prefix>_<alias>_<n>` (`v(alias)` spells the name), dropping the
    * views once `s.sql` has analysed the plan: the returned DataFrame
    * carries the inputs' plans, so the session catalog keeps nothing.
    */
  private def sqlOver(s: SparkSession, prefix: String,
      inputs: Seq[(String, DataFrame)])(sql: (String => String) => String)
      : DataFrame = {
    val n = viewSeq.incrementAndGet()
    val v = (alias: String) => s"${prefix}_${alias}_$n"
    inputs.foreach { case (alias, df) => df.createOrReplaceTempView(v(alias)) }
    try s.sql(sql(v))
    finally inputs.foreach { case (alias, _) => s.catalog.dropTempView(v(alias)) }
  }

  private val viewSeq = new java.util.concurrent.atomic.AtomicLong()

  /** Interval-overlap join (window-vs-window attribution): click
    * sessions that fall within an hour of the same user's error
    * bursts — both interval sets derived by gap-based sessionization
    * (30-min click gap, 10-min error gap), error windows padded
    * ±1 h, then [[graft.plans.RangeJoinPlan.joinIntervalsOverlap]] (1-h
    * buckets; each pair survives only in its canonical first shared
    * bucket, so the equi-join needs no dedup pass). Completes the
    * temporal-join family: as-of (latest-before), range join
    * (point-in-window), overlap (window-vs-window). The oracle
    * replays sessionization + the quadratic inequality join.
    */
  /** Shared interval derivation for the overlap-join family: click
    * sessions (30-min gap) and ±1 h-padded error-burst windows
    * (10-min gap), both as [lo, hi] integer-microsecond intervals.
    */
  private def overlapIntervals(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val ev = t(s, dir, "events")
    def sessions(typ: String, gapUs: Long): DataFrame = {
      val w = Window.partitionBy("user_id").orderBy("us", "event_id")
      val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ev.filter(col("event_type") === typ)
        .select(col("user_id"), unix_micros(col("ts")).as("us"), col("event_id"))
        .withColumn("prev", lag("us", 1).over(w))
        .withColumn("ns",
          when(col("prev").isNull || col("us") - col("prev") > gapUs, 1L)
            .otherwise(0L))
        .withColumn("sid", sum("ns").over(wRun))
        .groupBy("user_id", "sid")
        .agg(min("us").as("lo"), max("us").as("hi"), count(lit(1)).as("n"))
    }
    val clicks = sessions("click", 1800000000L)
      .select(col("user_id"), col("lo").as("s_lo"), col("hi").as("s_hi"),
        col("n").as("n_clicks"))
    val errors = sessions("error", 600000000L)
      .select(col("user_id"), (col("lo") - 3600000000L).as("w_lo"),
        (col("hi") + 3600000000L).as("w_hi"), col("n").as("n_errors"))
    (clicks, errors)
  }

  private def qEvtOverlapJoin(s: SparkSession, dir: String): DataFrame = {
    val (clicks, errors) = overlapIntervals(s, dir)
    // the NATIVE OverlapJoinPlan node
    graft.plans.RangeJoinPlan.joinIntervalsOverlap(clicks, errors,
        Seq("user_id"),
        leftLo = "s_lo", leftHi = "s_hi", rightLo = "w_lo", rightHi = "w_hi",
        bucketWidth = 3600000000L, payloadCols = Seq("w_lo", "w_hi", "n_errors"))
      .withColumn("overlap_us",
        least(col("s_hi"), col("w_hi")) - greatest(col("s_lo"), col("w_lo")))
      .orderBy("user_id", "s_lo", "w_lo")
  }

  /** The naive OVERLAP-join rewrite, driver-visible through the SQL
    * surface — q_evt_range_sql's window-vs-window sibling: the same
    * session-interval overlap as q_evt_overlap_join written as PLAIN
    * ANSI SQL (`ON user match AND s_lo <= w_hi AND w_lo <= s_hi`),
    * the shape Spark plans as a per-key cartesian, which
    * [[graft.plans.RangeJoinRewrite]] rebuckets on
    * BOTH interval sides into the canonical-first-shared-bucket equi
    * join (inverted/over-wide rows take the wide-row fallback union
    * branch). A construction-time `require` pins that the double
    * explode actually fired; the oracle replays the same SQL in
    * DuckDB.
    */
  private def qEvtOverlapSql(s: SparkSession, dir: String): DataFrame = {
    val (clicks, errors) = overlapIntervals(s, dir)
    val df = sqlOver(s, "__osql", Seq(
      "c" -> clicks, "e" -> errors.withColumnRenamed("user_id", "e_user"))) {
      v => s"""SELECT c.user_id, c.s_lo, c.s_hi, c.n_clicks,
              |       e.w_lo, e.w_hi, e.n_errors,
              |       least(c.s_hi, e.w_hi) - greatest(c.s_lo, e.w_lo)
              |         AS overlap_us
              |FROM ${v("c")} c JOIN ${v("e")} e
              |  ON c.user_id = e.e_user
              | AND c.s_lo <= e.w_hi
              | AND e.w_lo <= c.s_hi""".stripMargin
    }
    val opt = df.queryExecution.optimizedPlan.toString
    require(opt.contains("__graft_bkt") && opt.contains("__graft_rbkt"),
      "naive overlap rewrite did not fire on the SQL-surface join")
    df.orderBy("user_id", "s_lo", "w_lo")
  }

  /** Event-type transition counts: lag over the per-user ordered
    * stream, then census of (prev -> curr) transitions — the Markov
    * summary of the event stream.
    */
  private def qEvtTransitions(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t(s, dir, "events")
      .withColumn("prev_type", lag("event_type", 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy("prev_type", "event_type")
      .agg(count(lit(1)).as("n"))
      .orderBy("prev_type", "event_type")
  }

  /** Rolling per-key anomaly detection: each event z-scored against
    * its user's trailing-10-event window (the online data-quality
    * monitor every ingestion pipeline runs). The window is
    * user-partitioned — the computation distributes per key with no
    * global ordering — and the frame is ROWS-bounded, so per-row state
    * is O(10) regardless of history length.
    *
    * Numeric parity: the windowed mean/σ are derived from EXACT
    * decimal window sums (`sum(v)`, `sum(v²)` over DECIMAL — order-
    * independent, identical in any engine), then combined in double
    * with one fixed expression (`ss/n - mu²`, clamped at 0). A
    * floating avg/stddev window aggregate would instead inherit each
    * engine's frame-summation order (Spark sliding re-eval vs DuckDB
    * segment tree) and flake the hash at the 6th decimal.
    */
  private def qEvtAnomaly(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(-10, -1)
    val v = dec("value")
    val mu = col("s1") / col("n_prev")
    val sd = sqrt(greatest(col("s2") / col("n_prev") - mu * mu, lit(0.0)))
    t(s, dir, "events")
      // all three window aggregates in ONE select so they land in a
      // single Window node (an interleaved Project blocks
      // CollapseWindow and doubles the per-partition passes)
      .select(col("user_id"), col("event_id"), col("value"),
        sum(v).over(w).cast("double").as("s1"),
        sum(v * v).over(w).cast("double").as("s2"),
        count(lit(1)).over(w).as("n_prev"))
      .filter(col("n_prev") >= 5)
      .select(col("user_id"), col("event_id"), col("value"),
        round(mu, 6).as("mu"), round(sd, 6).as("sd"),
        (sd > 0 && abs(col("value") - mu) > lit(3.0) * sd).as("is_anomaly"))
      .orderBy("user_id", "event_id")
  }

  /** Ordered conversion funnel (view -> click -> purchase, strictly
    * increasing times): per user, the first view, the earliest click
    * after that view, and the earliest purchase after that click.
    * The naive encoding is two self-joins with inequality predicates
    * (quadratic per user); this is the one-pass form — a cascade of
    * running `min(when(...))` windows over a single per-user sort, so
    * the whole funnel costs ONE shuffle + ONE sort and O(1) state per
    * row regardless of history length. Stage cascade:
    * fv = running first view; a click qualifies only after fv;
    * fc = running first qualifying click; a purchase qualifies only
    * after fc. Times compare as integer microseconds (see qEvtAsof's
    * ns-truncation note).
    */
  private def qEvtFunnel(s: SparkSession, dir: String): DataFrame = {
    val wRun = Window.partitionBy("user_id").orderBy("us", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("fv",
        min(when(col("event_type") === "view", col("us"))).over(wRun))
      .withColumn("cc",
        when(col("event_type") === "click" && col("fv") < col("us"), col("us")))
      .withColumn("fc", min(col("cc")).over(wRun))
      .withColumn("pc",
        when(col("event_type") === "purchase" && col("fc") < col("us"), col("us")))
      .groupBy("user_id")
      .agg(
        min(when(col("event_type") === "view", col("us"))).as("first_view_us"),
        min("cc").as("first_click_us"),
        min("pc").as("first_purchase_us"))
      .withColumn("stage",
        when(col("first_purchase_us").isNotNull, 3)
          .when(col("first_click_us").isNotNull, 2)
          .when(col("first_view_us").isNotNull, 1)
          .otherwise(0))
      .orderBy("user_id")
  }

  /** Cohort retention matrix: users bucketed by first-active day, the
    * count of distinct active users per (cohort, day-offset) cell —
    * the standard product-analytics retention table. Shape: the
    * per-user-day `distinct` does map-side partial aggregation before
    * its shuffle (raw events never cross the wire), the cohort is a
    * per-user window `min` over that already-tiny distinct relation
    * (no join-back), and the final cell count is one hash aggregation
    * — so the whole matrix is two shuffles of (user, day) rows, which
    * at 100 TB is bounded by users x days, not by event count. Days
    * are session-UTC calendar days (the qEvtHourly date convention).
    */
  private def qEvtRetention(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
    t(s, dir, "events")
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
      .withColumn("cohort", min("day").over(w))
      .groupBy(date_format(col("cohort"), "yyyy-MM-dd").as("cohort_day"),
        datediff(col("day"), col("cohort")).as("day_offset"))
      .agg(countDistinct(col("user_id")).as("n_active"))
      .orderBy("cohort_day", "day_offset")
  }

  /** Rolling 7-day distinct users per day, twice: EXACTLY (the
    * hash-gated claim) and via mergeable Datasketches HLL sketches
    * (the 100 TB path), with the sketch's accuracy emitted as an
    * oracle-visible contract column.
    *
    * Scale shape: the sketch path aggregates each day's users into ONE
    * ~2 KB HLL partial (map-side combinable), then re-aggregates
    * day-sketches into rolling windows with `hll_union_agg` — per-day
    * state instead of per-user state crosses the second shuffle, the
    * standard sketch-reaggregation pattern that replaces a
    * count-distinct shuffle of raw user ids at every window endpoint.
    * The exact twin (distinct (day,user) exploded to its <=7 target
    * windows) is the verification baseline — linear, but its shuffle
    * carries user ids 7x; at 100 TB you ship the sketches.
    *
    * Determinism: Datasketches HLL register state is input-set-
    * determined (order-independent), so `hll_within_5pct` is a stable
    * boolean; the DuckDB oracle asserts it TRUE — a sketch drifting
    * out of tolerance flips the hash gate, making accuracy part of
    * correctness rather than a rows-only self-check.
    */
  private def qEvtHllRolling(s: SparkSession, dir: String): DataFrame = {
    val du = t(s, dir, "events")
      .select(to_date(col("ts")).as("day"), col("user_id"))
      .distinct()
    val days = du.select(col("day")).distinct()
    // exact: each (day,user) contributes to target days [day, day+6]
    val exact = du
      .select(explode(sequence(col("day"), date_add(col("day"), 6))).as("tday"),
        col("user_id"))
      .join(days.withColumnRenamed("day", "tday"), Seq("tday"), "left_semi")
      .groupBy("tday")
      .agg(countDistinct(col("user_id")).as("n_users_7d"))
    // sketch path: one HLL per day, rolling union of day-sketches
    val approx = du
      .groupBy("day")
      .agg(hll_sketch_agg(col("user_id"), lit(12)).as("sk"))
      .select(explode(sequence(col("day"), date_add(col("day"), 6))).as("tday"), col("sk"))
      .join(days.withColumnRenamed("day", "tday"), Seq("tday"), "left_semi")
      .groupBy("tday")
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("n_est"))
    exact.join(approx, Seq("tday"))
      .select(date_format(col("tday"), "yyyy-MM-dd").as("day"),
        col("n_users_7d"),
        (abs(col("n_est") - col("n_users_7d")).cast("double") /
          col("n_users_7d") <= 0.05).as("hll_within_5pct"))
      .orderBy("day")
  }

  /** Per-user exponentially-weighted moving average of `value` over a
    * trailing 8-event frame — the classic online feature (anomaly
    * baselines, engagement decay). α = 1/2 ON PURPOSE: every weight
    * 2^-j is a pure exponent shift, so v·2^-j is EXACT in double and
    * the ≤8-term fold replays bit-identically in DuckDB — a dyadic α
    * turns an otherwise noise-prone floating recursion into a
    * hash-gated feature. One window over the (user_id) exchange,
    * bounded frame → bounded per-row state at any corpus size.
    */
  private def qEvtEwma(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(-7, Window.currentRow)
    t(s, dir, "events")
      .withColumn("frame", collect_list(col("value")).over(w))
      .select(col("user_id"), col("event_id"), col("value"),
        round(
          aggregate(zip_with(reverse(col("frame")),
              sequence(lit(0), size(col("frame")) - 1),
              (v, j) => v / pow(lit(2.0), j)),
            lit(0.0), _ + _) /
          aggregate(transform(sequence(lit(0), size(col("frame")) - 1),
              j => lit(1.0) / pow(lit(2.0), j)),
            lit(0.0), _ + _), 6).as("ewma"))
      .orderBy("user_id", "event_id")
  }

  /** Distribution-drift monitor: per-day KL divergence of the
    * event-type mix against the whole-corpus mix — the ingest-health
    * check a training-data pipeline runs on every partition before
    * admitting it (a day whose event mix diverges is a collection bug
    * or a behavior shift). KL(p_day ‖ q_global) = Σ_t p_t·ln(p_t/q_t)
    * over the types present that day.
    *
    * Scale shape: one (day, type) partial-aggregatable count, a
    * per-day window for the daily total, the 5-row global mix and the
    * 1-row corpus total broadcast — nothing scales with event volume
    * except the first aggregate. The drift verdict compares the
    * ROUNDED divergence so the boolean is stable under last-ulp ln
    * noise (the q_txt_unigram_lp ln-in-hash-path precedent).
    */
  private def qEvtDrift(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
      .select(to_date(col("ts")).as("day"), col("event_type"))
    val daily = e.groupBy("day", "event_type").agg(count(lit(1)).as("n_dt"))
      .withColumn("n_d", sum("n_dt").over(Window.partitionBy("day")))
    val global = e.groupBy("event_type").agg(count(lit(1)).as("n_t"))
    val tot = global.agg(sum("n_t").as("n_total"))
    daily.join(broadcast(global), Seq("event_type"))
      .crossJoin(broadcast(tot))
      .withColumn("term",
        (col("n_dt").cast("double") / col("n_d")) *
          log((col("n_dt").cast("double") / col("n_d")) /
            (col("n_t").cast("double") / col("n_total"))))
      .groupBy("day")
      .agg(sum(col("n_dt")).as("n_events"), round(sum("term"), 6).as("kl"))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("n_events"), col("kl"), (col("kl") > 0.01).as("drifted"))
      .orderBy("day")
  }

  /** MATCH_RECOGNIZE-lite: per-user sequence pattern matching over the
    * time-ordered event journey (the Flink-CEP / Trino
    * MATCH_RECOGNIZE operator family, re-expressed relationally).
    * Each user's events collapse to a journey string of event-type
    * initials in (ts, event_id) order; patterns are then regexes over
    * that string — `vc*p` "view, any clicks, purchase" (the funnel
    * with noise tolerance), `ee+` "a run of repeated errors" (the
    * frustration signal), `s[^p]*p` "signup that eventually converts".
    * Greedy leftmost non-overlapping match semantics are identical in
    * java.util.regex and RE2-style engines for these star-free-ish
    * patterns, so counts are engine-portable.
    *
    * Scale shape: ONE shuffle (groupBy user_id); the journey is
    * bounded by per-user activity (it never aggregates across users),
    * and the regex NFA scan is linear in journey length — exactly the
    * per-key state machine a CEP engine compiles, with no cross-key
    * state. At 100 TB the hot keys are bot-like users with long
    * journeys; those order within a key and stay single-pass.
    */
  private def qEvtPattern(s: SparkSession, dir: String): DataFrame = {
    val j = t(s, dir, "events")
      .select(col("user_id"),
        struct(col("ts"), col("event_id"),
          substring(col("event_type"), 1, 1).as("letter")).as("ev"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        array_join(transform(array_sort(collect_list(col("ev"))),
          e => e.getField("letter")), "").as("journey"))
    j.select(col("user_id"), col("n_events"),
        size(regexp_extract_all(col("journey"), lit("vc*p"), lit(0))).as("n_conv"),
        size(regexp_extract_all(col("journey"), lit("ee+"), lit(0))).as("n_err_runs"),
        (size(regexp_extract_all(col("journey"), lit("s[^p]*p"), lit(0))) > 0)
          .as("signup_converted"),
        md5(col("journey")).as("journey_fp"))
      .orderBy("user_id")
  }

  /** Exact nearest-rank percentiles (p50/p95/p99) of `value` per event
    * type, each cross-checked against the mergeable KLL-style sketch
    * (`approx_percentile`, accuracy 10000). The exact side is ONE
    * window pass — row_number + count over the type partition, pick
    * the ceil(q·n)-th row (percentile_disc semantics; identical rank
    * arithmetic in any engine, no interpolation to diverge) — the
    * same idiom as q_a1_median. The sketch side is the 100 TB path:
    * map-side mergeable, no per-group sort; its verdict checks the
    * RANK of the sketch estimate lands within ±1% of the target — the
    * sketch's actual guarantee, so the verdict is deterministic-true
    * for a correct sketch and hash-fails for a broken one.
    */
  private def qEvtValuePctl(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events").select(col("event_type"), col("event_id"), col("value"))
    val w = Window.partitionBy("event_type").orderBy("value", "event_id")
    val cw = Window.partitionBy("event_type")
    val ranked = e.withColumn("rn", row_number().over(w))
      .withColumn("cnt", count(lit(1)).over(cw))
    val exact = ranked
      .filter(col("rn") === ceil(col("cnt") * 0.5) ||
        col("rn") === ceil(col("cnt") * 0.95) ||
        col("rn") === ceil(col("cnt") * 0.99))
      .groupBy("event_type")
      .agg(first("cnt").as("n"),
        min(when(col("rn") === ceil(col("cnt") * 0.5), col("value"))).as("p50"),
        min(when(col("rn") === ceil(col("cnt") * 0.95), col("value"))).as("p95"),
        min(when(col("rn") === ceil(col("cnt") * 0.99), col("value"))).as("p99"))
    val sketch = e.groupBy("event_type")
      .agg(percentile_approx(col("value"),
        array(lit(0.5), lit(0.95), lit(0.99)), lit(10000)).as("sk"))
    val rankOf = e.join(broadcast(sketch), Seq("event_type"))
      .groupBy("event_type")
      .agg(
        sum(when(col("value") <= col("sk")(0), 1L).otherwise(0L)).as("r50"),
        sum(when(col("value") <= col("sk")(1), 1L).otherwise(0L)).as("r95"),
        sum(when(col("value") <= col("sk")(2), 1L).otherwise(0L)).as("r99"))
    exact.join(rankOf, Seq("event_type"))
      .select(col("event_type"), col("n"), col("p50"), col("p95"), col("p99"),
        (col("r50") >= col("n") * 0.49 && col("r50") <= col("n") * 0.51).as("sk50_ok"),
        (col("r95") >= col("n") * 0.94 && col("r95") <= col("n") * 0.96).as("sk95_ok"),
        (col("r99") >= col("n") * 0.98 && col("r99") <= col("n")).as("sk99_ok"))
      .orderBy("event_type")
  }

  /** Seasonality profile: the (day-of-week × hour) traffic matrix with
    * exact per-myriad shares and the peak cell — the load-shaping
    * readout behind capacity planning and anomaly baselines. Weekday
    * comes from pure epoch-day arithmetic (days since 1970-01-01 mod
    * 7; 0 = Thursday) because named/indexed dow functions disagree
    * across engines (Spark 1=Sunday, DuckDB 0=Sunday, ISO 1=Monday);
    * the share is floor(10000·n/total) — integer, no double division
    * in the hash. One partial-aggregatable groupBy; the total is a
    * broadcast 1-row aggregate; the peak-ranking window runs over the
    * CELL table — ≤ 7×24 = 168 rows by construction at any data
    * scale, so its single partition is a declared bounded dimension,
    * not a row-scale funnel.
    */
  private def qEvtSeasonality(s: SparkSession, dir: String): DataFrame = {
    val cells = t(s, dir, "events")
      .select(pmod(datediff(to_date(col("ts")), lit("1970-01-01").cast("date")),
        lit(7)).as("dow_idx"),
        hour(col("ts")).as("hour"))
      .groupBy("dow_idx", "hour")
      .agg(count(lit(1)).as("n"))
    val total = cells.agg(sum("n").as("total"))
    cells.crossJoin(broadcast(total))
      .select(col("dow_idx"), col("hour"), col("n"),
        floor(lit(10000L) * col("n") / col("total")).as("share_myriad"))
      .withColumn("is_peak",
        row_number().over(Window.partitionBy(lit(1))
          .orderBy(desc("n"), col("dow_idx"), col("hour"))) === 1)
      .orderBy("dow_idx", "hour")
  }

  /** Inter-arrival hazard census: the distribution of per-user gaps
    * between consecutive events, in exact log2(microsecond) buckets —
    * the telemetry readout that separates bot cadence (tight bucket
    * spike) from human browsing (heavy right tail), and the
    * empirical basis for choosing a sessionization gap. The bucket
    * is `length(bin(gap_us)) - 1` — the same pure integer/string
    * floor(log2) both engines agree on at exact powers of two
    * (q_graph_degree_dist's trick); sub-microsecond ties land in
    * bucket 0. One lag window per user (the event key breaks ts
    * ties, so the gap sequence is deterministic), then a
    * partial-aggregatable census over ≤ 64 buckets — no row-scale
    * funnel anywhere.
    */
  private def qEvtInterarrival(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t(s, dir, "events")
      .withColumn("gap_us", unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w))
      .filter(col("gap_us").isNotNull)
      .select((length(bin(col("gap_us"))) - 1).as("bucket"), col("gap_us"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_gaps"),
        min("gap_us").as("min_gap_us"), max("gap_us").as("max_gap_us"),
        sum("gap_us").as("sum_gap_us"))
      .orderBy("bucket")
  }

  /** Audience-overlap matrix: exact user-set Jaccard between every
    * pair of event types — the cohort-overlap readout behind
    * "do purchasers also convert?" segmentation decisions. The
    * user↔type incidence is reduced FIRST (distinct on the ~6-type ×
    * user key, one partial-aggregatable shuffle), then the pair
    * expansion self-joins per user with fan-out ≤ C(types,2) = a
    * constant per user at any corpus size; audience sizes broadcast
    * back onto the ≤ C(types,2)-row pair table. All exact integers;
    * Jaccard reported in floor-myriad.
    */
  private def qEvtAudienceOverlap(s: SparkSession, dir: String): DataFrame = {
    val inc = t(s, dir, "events")
      .select(col("event_type"), col("user_id")).distinct()
    val sizes = inc.groupBy("event_type").agg(count(lit(1)).as("n_users"))
    val both = inc.as("a")
      .join(inc.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("type_a"), col("b.event_type").as("type_b"))
      .agg(count(lit(1)).as("n_both"))
    both
      .join(broadcast(sizes.select(col("event_type").as("type_a"), col("n_users").as("n_a"))), Seq("type_a"))
      .join(broadcast(sizes.select(col("event_type").as("type_b"), col("n_users").as("n_b"))), Seq("type_b"))
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"), col("n_both"),
        floor(lit(10000L) * col("n_both") / (col("n_a") + col("n_b") - col("n_both")))
          .as("jac_myriad"))
      .orderBy("type_a", "type_b")
  }

  /** Top journey prefixes: the 20 most common 5-step session
    * openings with their user counts and conversion incidence — the
    * Sankey-diagram source behind onboarding-flow analysis. Reuses
    * q_evt_pattern's journey construction (ONE groupBy(user) shuffle;
    * the sort is per-key inside the aggregated array, never global);
    * the top-20 is orderBy+limit, which Spark plans as
    * TakeOrderedAndProject — per-partition heaps plus a 20-row driver
    * merge, NOT a global sort and NOT an unpartitioned window, so
    * the selection stays scale-free. Ties at the boundary are
    * deterministic under the (count desc, prefix) total order.
    */
  private def qEvtTopPaths(s: SparkSession, dir: String): DataFrame = {
    val j = t(s, dir, "events")
      .select(col("user_id"),
        struct(col("ts"), col("event_id"),
          substring(col("event_type"), 1, 1).as("letter")).as("ev"))
      .groupBy("user_id")
      .agg(array_join(transform(array_sort(collect_list(col("ev"))),
        e => e.getField("letter")), "").as("journey"))
    j.select(substring(col("journey"), 1, 5).as("path_prefix"),
        when(col("journey").contains("p"), 1L).otherwise(0L).as("conv"))
      .groupBy("path_prefix")
      .agg(count(lit(1)).as("n_users"), sum("conv").as("n_converted"))
      .orderBy(desc("n_users"), col("path_prefix"))
      .limit(20)
  }

  /** Cohort lifetime-value triangle over orders: customers grouped by
    * first-purchase month, revenue laid out by months-since-first —
    * the retention-economics readout every subscription/commerce
    * dashboard leads with. Months are pure integer arithmetic
    * (year·12+month−1) so cohort/age bucketing cannot drift across
    * engines; revenue is exact integer cents via the deterministic
    * floor(x·100+0.5) IEEE sequence; the cumulative column is a
    * window PARTITIONED by cohort over the ≤ months² triangle — a
    * bounded dimension, not row scale. Shapes: one groupBy(custkey)
    * for first-purchase, one shuffle join back on custkey, one
    * partial-aggregatable census.
    */
  private def qEvtCohortLtv(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
      .select(col("o_custkey"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1).as("m"),
        floor(col("o_totalprice") * 100.0 + 0.5).as("rev_cents"))
    val first = o.groupBy("o_custkey").agg(min("m").as("m0"))
    val tri = o.join(first, Seq("o_custkey"))
      .groupBy(format_string("%04d-%02d", floor(col("m0") / 12).cast("int"),
          (pmod(col("m0"), lit(12)) + 1).cast("int")).as("cohort"),
        (col("m") - col("m0")).as("age_months"))
      .agg(countDistinct(col("o_custkey")).as("n_custs"),
        count(lit(1)).as("n_orders"), sum("rev_cents").as("rev_cents"))
    tri.withColumn("cum_rev_cents",
        sum("rev_cents").over(Window.partitionBy("cohort").orderBy("age_months")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .orderBy("cohort", "age_months")
  }

  /** CUSUM changepoint detection on daily event volume per type
    * (Page 1954), via the drawdown duality: the one-sided CUSUM
    * S_i = max(0, S_{i-1} + dev_i) equals P_i − min_{j≤i} P_j where
    * P is the running prefix sum of deviations — so the "recursive"
    * statistic becomes two ordinary day-ordered windows (cumulative
    * sum + cumulative min) per type, no iteration anywhere. The
    * deviation is exact-integer: dev_i = n_days·y_i − total (sums to
    * zero by construction, no rational mean enters), so the statistic
    * and its argmax replay exactly in any engine. Output per type:
    * the peak upward CUSUM (scaled by n_days), the day it peaks
    * (first peak on ties), and a shift verdict at the 2·total/n_days
    * threshold (≈ two mean days of excess volume).
    */
  private def qEvtCusum(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    val byType = Window.partitionBy("event_type")
    val ordered = byType.orderBy("day")
    val cum = ordered.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val scored = daily
      .withColumn("n_days", count(lit(1)).over(byType))
      .withColumn("total", sum("n").over(byType))
      .withColumn("dev", col("n_days") * col("n") - col("total"))
      .withColumn("p", sum("dev").over(cum))
      .withColumn("minp", min(least(col("p"), lit(0L))).over(cum))
      .withColumn("cusum", col("p") - col("minp"))
    val peak = Window.partitionBy("event_type")
      .orderBy(desc("cusum"), col("day"))
    scored
      .withColumn("rk", row_number().over(peak))
      .filter(col("rk") === 1)
      .select(col("event_type"), col("n_days").cast("int").as("n_days"),
        col("total"), col("cusum").as("peak_cusum"),
        date_format(col("day"), "yyyy-MM-dd").as("peak_day"),
        (col("cusum") > col("total") * 2).as("shift_detected"))
      .orderBy("event_type")
  }

  /** Holt double-exponential forecast of daily event volume per type —
    * trend-aware smoothing, the capacity-planning readout. α = β = 1/2
    * (the dyadic choice, same reason as q_evt_ewma): every update is
    * halvings of a FIXED-ORDER three-term sum, so the recursion is
    * bit-exactly replayable — the fold init is {l: y₁, b: 0} and each
    * later day applies l' = (y + l + b)/2, b' = (l' − l)/2 + b/2;
    * forecast = l + b. The daily rollup is the only event-scale
    * shuffle; the per-type fold runs over ~30 doubles (a HOF
    * `aggregate` — interpreted, but the PCA per-row-cost lesson does
    * not apply to a 5-row aggregate table).
    */
  private def qEvtForecast(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    val lb = (y: Column, l: Column, b: Column) => (y + l + b) / 2
    daily.groupBy("event_type")
      .agg(sort_array(collect_list(struct(col("day"), col("n")))).as("srt"))
      .withColumn("ys", transform(col("srt"), _.getField("n").cast("double")))
      .withColumn("fit",
        aggregate(
          slice(col("ys"), lit(2), greatest(size(col("ys")) - 1, lit(0))),
          struct(element_at(col("ys"), 1).as("l"), lit(0.0).as("b")),
          (acc, y) => struct(
            lb(y, acc.getField("l"), acc.getField("b")).as("l"),
            ((lb(y, acc.getField("l"), acc.getField("b")) - acc.getField("l")) / 2 +
              acc.getField("b") / 2).as("b"))))
      .select(col("event_type"), size(col("ys")).as("n_days"),
        round(col("fit.l"), 6).as("level"),
        round(col("fit.b"), 6).as("trend"),
        round(col("fit.l") + col("fit.b"), 6).as("forecast_next"))
      .orderBy("event_type")
  }

  /** Events-side flagship COMPOSITION (the q_corpus_build discipline
    * applied to the behavioral pipeline): ONE per-user projection
    * `(n_events, first/last day, conversion, variant, lifetime,
    * engagement bucket)` — a single event-scale shuffle, materialized
    * once via localCheckpoint — drives three product censuses:
    * experiment arms, lifetime-weeks distribution, and log2
    * engagement buckets (exact bins via binary-string length, the
    * q_graph_degree_dist trick). Without the checkpoint each census
    * would re-shuffle the raw events; with it the event scan+rollup
    * runs exactly once and three ≤dozens-row aggregations share it.
    */
  private def qEvtPipeline(s: SparkSession, dir: String): DataFrame = {
    val perUser = t(s, dir, "events")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        min(to_date(col("ts"))).as("first_day"),
        max(to_date(col("ts"))).as("last_day"),
        max(when(col("event_type") === "purchase" && col("value") > 90, 1)
          .otherwise(0)).as("conv"))
      .withColumn("variant",
        pmod(pmod(col("user_id") * 2654435761L, lit(4294967296L)), lit(2)))
      .withColumn("lifetime_weeks",
        floor(datediff(col("last_day"), col("first_day")) / 7))
      .withColumn("bucket", length(bin(col("n_events"))) - 1)
      .localCheckpoint()
    def census(section: String, k: Column): DataFrame =
      perUser.groupBy(k.cast("string").as("k"))
        .agg(count(lit(1)).as("n_users"),
          sum("n_events").as("n_events_sum"),
          sum("conv").cast("long").as("n_conv"))
        .select(lit(section).as("section"), col("k"),
          col("n_users"), col("n_events_sum"), col("n_conv"))
    census("arm", col("variant"))
      .union(census("engagement", col("bucket")))
      .union(census("lifetime", col("lifetime_weeks")))
      .orderBy("section", "k")
  }

  /** Unpivot (wide→long melt) — the inverse reshape of [[qEvtPivot]],
    * applied to the pivoted table itself so the pair proves the
    * round-trip law: unpivot(pivot(events)) reproduces the long-form
    * daily aggregation (zero-count cells melt to 0 rows and are
    * filtered, exactly the cells pivot's na.fill fabricated). Melt is
    * a zero-shuffle projection — each wide row expands map-side.
    */
  private def qEvtUnpivot(s: SparkSession, dir: String): DataFrame =
    qEvtPivot(s, dir)
      .unpivot(Array(col("day")),
        Array(col("click"), col("error"), col("purchase"), col("signup"), col("view")),
        "event_type", "n")
      .filter(col("n") > 0)
      .orderBy("day", "event_type")

  /** RFM segmentation (recency / frequency / monetary quartiles — the
    * classic user-value census): one per-user rollup (the only
    * event-scale shuffle), recency anchored to the corpus max
    * timestamp (1-row broadcast — declared bounded cross join), then
    * quartile assignment by ntile over each dimension with a user_id
    * tiebreak, rolled up to the ≤64-cell segment census. The ntile
    * windows sort USERS, not events — bounded by the user population;
    * a 1e9-user deployment would swap exact ntile for broadcast
    * approx-quantile thresholds, which changes only the cut points,
    * not the operator contract.
    */
  private def qEvtRfm(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
    val anchor = e.agg(max(col("ts")).as("ts_max"))
    val perUser = e.groupBy("user_id")
      .agg(max(col("ts")).as("last_ts"),
        count(lit(1)).as("freq"),
        sum(when(col("event_type") === "purchase", dec(col("value")))
          .otherwise(dec(lit(0.0)))).as("monetary"))
      .crossJoin(broadcast(anchor))
      .withColumn("recency_days",
        datediff(to_date(col("ts_max")), to_date(col("last_ts"))))
    val rW = Window.orderBy(col("recency_days"), col("user_id"))
    val fW = Window.orderBy(desc("freq"), col("user_id"))
    val mW = Window.orderBy(desc("monetary"), col("user_id"))
    perUser
      .withColumn("r_q", ntile(4).over(rW))
      .withColumn("f_q", ntile(4).over(fW))
      .withColumn("m_q", ntile(4).over(mW))
      .groupBy("r_q", "f_q", "m_q")
      .agg(count(lit(1)).as("n_users"),
        sum("freq").as("n_events"),
        sum("monetary").cast("double").as("monetary_total"))
      .orderBy("r_q", "f_q", "m_q")
  }

  /** Pivot (long→wide transpose): daily event-type counts as one
    * column per type. The value list is EXPLICIT — `pivot(col)`
    * without it runs an eager distinct scan to discover columns
    * (a planning-time job over the full table, and at 100 TB a
    * schema that drifts with the data); pinning the five types keeps
    * construction lazy and the output schema stable. Plans as a
    * single partial-aggregatable groupBy(day) with conditional
    * counts — one shuffle, no join.
    */
  private def qEvtPivot(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(asDate(col("ts")).as("day"), col("event_type"))
      .groupBy("day")
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .count()
      .na.fill(0L)
      .orderBy("day")

  /** Experiment (A/B) analysis — the readout loop of data-curation
    * ablations: users hash-assign to two variants (same Knuth
    * multiplicative hash as every seeded split here — assignment is
    * stable under traffic growth), conversion is "ever purchased",
    * and the two-proportion pooled z-score decides significance.
    * Conversion is "ever made a high-value purchase" (value > 90 —
    * every synthetic user purchases SOMETHING, so the plain flag
    * would be 1.0 in both arms and degenerate the pooled variance).
    * Shape: per-user rollup (one shuffle on user_id), then a single
    * conditional aggregation to ONE row — no join, no second shuffle;
    * the z arithmetic is one fixed double expression rounded to 1e-6
    * so both engines agree on the hash.
    */
  private def qEvtAbtest(s: SparkSession, dir: String): DataFrame = {
    val perUser = t(s, dir, "events")
      .groupBy("user_id")
      .agg(max(when(col("event_type") === "purchase" && col("value") > 90, 1)
        .otherwise(0)).as("conv"))
      .withColumn("variant",
        pmod(pmod(col("user_id") * 2654435761L, lit(4294967296L)), lit(2)))
    val agg = perUser.groupBy()
      .agg(
        sum(when(col("variant") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("variant") === 1, 1L).otherwise(0L)).as("n_b"),
        sum(when(col("variant") === 0, col("conv")).otherwise(0)).as("c_a"),
        sum(when(col("variant") === 1, col("conv")).otherwise(0)).as("c_b"))
    agg.select(col("n_a"), col("n_b"), col("c_a"), col("c_b"),
        round(col("c_a").cast("double") / col("n_a"), 6).as("rate_a"),
        round(col("c_b").cast("double") / col("n_b"), 6).as("rate_b"),
        round(
          (col("c_b").cast("double") / col("n_b") - col("c_a").cast("double") / col("n_a")) /
            sqrt(((col("c_a") + col("c_b")).cast("double") / (col("n_a") + col("n_b"))) *
              (lit(1.0) - (col("c_a") + col("c_b")).cast("double") / (col("n_a") + col("n_b"))) *
              (lit(1.0) / col("n_a") + lit(1.0) / col("n_b"))), 6).as("z"))
      .withColumn("significant", abs(col("z")) > 1.96)
  }

  /** Multi-touch marketing attribution census: every purchase credits
    * the user's preceding `click`/`view` touches under two standard
    * models — last-touch (the whole conversion to the most recent
    * touch) and linear (1/n to each preceding touch's channel) — and
    * the census reports, per channel, conversions + revenue under
    * each model.
    *
    * One window sort per user on (time, event_id) carries everything:
    * the last-touch channel (`last(... ignoreNulls)` over the
    * strictly-preceding rows-frame — the as-of carry pattern) and the
    * per-channel touch counts ride the SAME frame, so Catalyst plans
    * ONE WindowExec and one user_id exchange; the census then stacks
    * two channel rows map-side. Lookback is full user history (the
    * frame is all preceding rows); a bounded-lookback variant swaps
    * in a microsecond range-frame per channel count — same shape, one
    * more window pass. Fractional linear credits are made
    * order-invariant (hence engine-exact) by rounding each purchase's
    * credit to integer parts-per-million BEFORE the sum: per-row
    * `round` of a correctly-rounded IEEE quotient is bit-identical in
    * any engine, and integer sums commute.
    */
  private def qEvtAttribution(s: SparkSession, dir: String): DataFrame = {
    val isTouch = col("event_type").isin("click", "view")
    val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val purchases = t(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"),
        round(col("value") * 100).cast("long").as("cents"))
      .withColumn("lt_type",
        last(when(isTouch, col("event_type")), ignoreNulls = true).over(w))
      .withColumn("n_click", count(when(col("event_type") === "click", 1)).over(w))
      .withColumn("n_view", count(when(col("event_type") === "view", 1)).over(w))
      .filter(col("event_type") === "purchase" && (col("n_click") + col("n_view")) > 0)
      .withColumn("n_tot", col("n_click") + col("n_view"))
    purchases.agg(
      count(when(col("lt_type") === "click", 1)).as("nlt_c"),
      sum(when(col("lt_type") === "click", col("cents")).otherwise(0L)).as("ltc_c"),
      sum(round(lit(1000000.0) * col("n_click") / col("n_tot")).cast("long")).as("lin_c"),
      sum(round(col("cents") * lit(1000000.0) * col("n_click") / col("n_tot"))
        .cast("long")).as("linc_c"),
      count(when(col("lt_type") === "view", 1)).as("nlt_v"),
      sum(when(col("lt_type") === "view", col("cents")).otherwise(0L)).as("ltc_v"),
      sum(round(lit(1000000.0) * col("n_view") / col("n_tot")).cast("long")).as("lin_v"),
      sum(round(col("cents") * lit(1000000.0) * col("n_view") / col("n_tot"))
        .cast("long")).as("linc_v"))
      .select(expr(
        """stack(2,
          |  'click', nlt_c, ltc_c, lin_c, linc_c,
          |  'view',  nlt_v, ltc_v, lin_v, linc_v)
          |  AS (channel, n_last_touch, lt_cents, lin_credit_ppm, lin_cents_ppm)
          |""".stripMargin))
      .orderBy("channel")
  }

  /** Time-series gap fill — the resample step every monitoring/
    * training pipeline runs before a forecast: densify each event
    * type's hourly series onto its full [min, max] hour grid, filling
    * absent hours with a zero count and forward-filling the last
    * observed hourly revenue (the "carry last observation" rule).
    *
    * The dense grid comes from `sequence` + explode of each type's
    * 2-value span row — generated data, not a join against a
    * calendar table — so the grid size is (types × span hours),
    * bounded by wall-clock time, never by event volume. One groupBy
    * builds the sparse series (the only full-data shuffle); the
    * left join onto the grid and the forward-fill window both run on
    * the already-aggregated series. Revenue is exact integer cents.
    */
  private def qEvtGapFill(s: SparkSession, dir: String): DataFrame = {
    val hourly = t(s, dir, "events")
      .groupBy(col("event_type"),
        expr("unix_micros(ts) div 3600000000").as("h"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("cents"))
    val grid = hourly.groupBy("event_type")
      .agg(min("h").as("h0"), max("h").as("h1"))
      .select(col("event_type"),
        explode(sequence(col("h0"), col("h1"))).as("h"))
    val wFill = Window.partitionBy("event_type").orderBy("h")
      .rowsBetween(Window.unboundedPreceding, 0)
    grid.join(hourly, Seq("event_type", "h"), "left_outer")
      .withColumn("n", coalesce(col("n"), lit(0L)))
      .withColumn("cents_ffill",
        last(col("cents"), ignoreNulls = true).over(wFill))
      .select(col("event_type"), col("h"), col("n"),
        col("cents_ffill"), col("cents").isNull.as("filled"))
      .orderBy("event_type", "h")
  }

  /** Autocorrelation census of the hourly traffic series at the lags
    * an on-call engineer actually reads (1 h, 2 h, 3 h, 6 h, 12 h,
    * 24 h) — the diagnostic behind [[qEvtSeasonality]]: a spike at
    * lag 24 says daily rhythm, decay over 1–3 says burstiness.
    *
    * The series is the per-hour event count — one partial-agg shuffle
    * over the corpus, then every lag correlation runs on the tiny
    * (hours × 6) self-join, broadcast both sides. Pearson r is
    * assembled from INTEGER power sums (counts are longs, so
    * Σx/Σy/Σxy/Σx²/Σy² are exact and order-invariant); the single
    * double expression over them is evaluated with an identical tree
    * by any engine, emitted as ppm. At petabyte scale the integer
    * sums still fit i64 (they overflow only past ~3e9 events/hour);
    * the exactness-through-i64 discipline is the q_evt_cohort_ltv
    * cents rule applied to moments.
    */
  private def qEvtAcf(s: SparkSession, dir: String): DataFrame = {
    val hourly = t(s, dir, "events")
      .groupBy(expr("unix_micros(ts) div 3600000000").as("h"))
      .agg(count(lit(1)).as("y"))
    import s.implicits._
    val lags = Seq(1, 2, 3, 6, 12, 24).toDF("lag")
    val pairs = broadcast(hourly.select(col("h"), col("y").as("x")))
      .crossJoin(broadcast(lags))
      .withColumn("h2", col("h") + col("lag"))
      .join(broadcast(hourly.select(col("h").as("h2"), col("y"))),
        Seq("h2"))
    pairs.groupBy("lag")
      .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("lag"), col("n"),
        round(lit(1000000.0) * (col("n") * col("sxy") - col("sx") * col("sy")) /
          sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double") *
            (col("n") * col("syy") - col("sy") * col("sy")).cast("double")))
          .cast("long").as("r_ppm"))
      .orderBy("lag")
  }

  /** Depth/width of the q_evt_countmin sketch (shared with the oracle
    * SQL and the streaming twin). w=256 forces real collisions once
    * the user population outgrows a few hundred (sf0.1+), so the
    * overestimates the gate replays are non-trivial.
    */
  val cmsD = 4
  val cmsW = 256

  /** Point-frequency estimation via the native Count-Min sketch
    * aggregate ([[graft.functions.CountMinSketchAgg]]): ONE pass folds
    * every event into a d×w counter matrix (only d·w longs cross the
    * shuffle — the 100 TB frequency-oracle shape), then a deterministic
    * probe set (user_id ≡ 0 mod 13) reads `est = min_j M[j][h_j(k)]`
    * against its exact per-key count. Because every counter is an
    * exact SUM (order-invariant, unlike Misra–Gries' retained set),
    * the raw estimates hash-gate directly: the DuckDB oracle rebuilds
    * each probed counter as a COUNT(*) over the same
    * `((a_j·x + b_j) mod p) mod w` bucket predicate and takes the same
    * min — values, not verdicts. `over_ok` pins the CMS no-underestimate
    * law. The probe lookup is pure Column arithmetic over the
    * broadcast one-row sketch (element_at + pmod, codegen'd, no UDF).
    *
    * Reference analog: dataset_builder.py:137-158 exact per-category
    * counts — the sketch answer to the same census once keys outgrow
    * memory.
    */
  private def qEvtCountmin(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.CountMin
    val ev = t(s, dir, "events")
    cmsProbeTable(ev,
      ev.agg(CountMin.cmsSketch(col("user_id"), cmsD, cmsW).as("sk")))
  }

  /** Probe-set verdict over a one-row `sk` sketch relation — shared
    * verbatim by the batch query and the streaming twin
    * (q_stream_countmin): because the CMS matrix is an exact sum, a
    * complete-mode drain over ANY file slicing commits the identical
    * array, so both paths hash to the same oracle values.
    */
  private[graft] def cmsProbeTable(ev: DataFrame, sk: DataFrame): DataFrame = {
    import graft.functions.CountMin
    val probes = ev.filter(col("user_id") % 13 === 0)
      .groupBy("user_id").agg(count(lit(1)).as("n_exact"))
    def bucket(j: Int) =
      pmod(pmod(lit(CountMin.A(j)) * pmod(col("user_id"), lit(CountMin.P))
        + lit(CountMin.B(j)), lit(CountMin.P)), lit(cmsW.toLong))
    val est = least((0 until cmsD).map { j =>
      element_at(col("sk"), (lit(j * cmsW) + bucket(j) + lit(1)).cast("int"))
    }: _*)
    probes.crossJoin(broadcast(sk))
      .select(col("user_id"), col("n_exact"), est.as("est"),
        (est >= col("n_exact")).as("over_ok"))
      .orderBy("user_id")
  }

  /** Sample-ratio-mismatch audit (Fabijan et al., KDD 2019 — the
    * standard A/B trust check): under q_evt_abtest's Knuth-hash 50/50
    * assignment, a healthy experiment has variant counts within
    * sampling noise; χ² = (n_a − n_b)²/(n_a + n_b) against the 0.95
    * one-df critical value. Computed per event-type cohort (users
    * OBSERVED in that slice — where real SRM bugs hide) plus overall,
    * entirely in int64 (χ² emitted as floor-ppm; the srm flag is the
    * cross-multiplied integer compare, so no float enters the gate).
    * One distinct-users aggregate per cohort, partial-aggregatable;
    * the census is |event types| + 1 rows.
    */
  private def qEvtSrm(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val users = ev.select(col("event_type"), col("user_id")).distinct()
      .union(ev.select(lit("_all").as("event_type"), col("user_id")).distinct())
      .withColumn("variant",
        pmod(pmod(col("user_id") * 2654435761L, lit(4294967296L)), lit(2)))
    users.groupBy("event_type")
      .agg(sum(when(col("variant") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("variant") === 1, 1L).otherwise(0L)).as("n_b"))
      .select(col("event_type"), col("n_a"), col("n_b"),
        floor(lit(1000000L) * (col("n_a") - col("n_b")) * (col("n_a") - col("n_b"))
          / (col("n_a") + col("n_b"))).as("chi2_ppm"),
        ((col("n_a") - col("n_b")) * (col("n_a") - col("n_b")) * lit(1000000L) >
          lit(3841459L) * (col("n_a") + col("n_b"))).as("srm"))
      .orderBy("event_type")
  }

  /** Semi-structured props via Spark 4's VARIANT type — the
    * open-schema ingestion path next to q_evt_json's string-probing
    * get_json_object: `parse_json` builds the binary variant once,
    * `variant_get` does typed shredded access, and
    * `schema_of_variant` audits the observed shape. At scale variant
    * decode beats per-field JSON re-parsing (one parse, n typed
    * reads) and survives schema drift without a declared struct. The
    * per-type stats over the extracted field are exact int64; the
    * shape audit enters the gate as a pinned verdict (the ENGINE
    * computes it from the real variant binary — a parse/shredding
    * defect flips it and fails the hash).
    */
  private def qEvtVariant(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(col("event_type"),
        expr("variant_get(parse_json(props), '$.k', 'long')").as("k"),
        expr("schema_of_variant(parse_json(props))").as("shape"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("k").as("sum_k"),
        min("k").as("min_k"), max("k").as("max_k"),
        countDistinct(col("k")).as("ndv_k"),
        (count(when(col("shape") === "OBJECT<k: BIGINT>", 1)) === count(lit(1)))
          .as("shape_ok"))
      .orderBy("event_type")

  /** CUPED variance reduction (Deng, Xu, Kohavi, Walker, WSDM 2013) —
    * the experimentation-platform companion to q_evt_abtest/q_evt_srm:
    * each user's PRE-period value total is the covariate x, the
    * POST-period total the metric y (period split at the corpus
    * time-range midpoint, a 1-row bounded aggregate), and the adjusted
    * metric is y − θ(x − x̄) with θ = cov(x,y)/var(x) estimated POOLED.
    * Everything enters as exact int64 power sums over floor-of-value
    * whole units (floor, not round: both engines floor identically,
    * while round diverges on half-unit ties) (order-invariant; at 10× this scale n·Σxy stays under
    * 2^63), and θ / means / the variance-reduction ratio (= ρ², in
    * ppm) are single double expressions over those sums — identical
    * trees in both engines, the q_evt_acf moment discipline. Per
    * variant: user count, raw sums, raw and CUPED-adjusted post means;
    * pooled θ and the ppm variance reduction ride both rows.
    */
  private def qEvtCuped(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val mid = ev.agg(((min(unix_micros(col("ts"))) + max(unix_micros(col("ts")))) / 2)
      .cast("long").as("mid_us"))
    val perUser = ev.crossJoin(broadcast(mid))
      .groupBy("user_id")
      .agg(sum(when(unix_micros(col("ts")) < col("mid_us"),
          floor(col("value")).cast("long")).otherwise(0L)).as("x"),
        sum(when(unix_micros(col("ts")) >= col("mid_us"),
          floor(col("value")).cast("long")).otherwise(0L)).as("y"))
      .withColumn("variant",
        pmod(pmod(col("user_id") * 2654435761L, lit(4294967296L)), lit(2)))
    val pooled = perUser.agg(count(lit(1)).as("n"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("n"), col("sx"), col("sy"),
        ((col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx"))).as("theta"),
        floor(lit(1000000.0) *
          ((col("n") * col("sxy") - col("sx") * col("sy")) *
            ((col("n") * col("sxy") - col("sx") * col("sy")) /
              ((col("n") * col("sxx") - col("sx") * col("sx")).cast("double") *
                (col("n") * col("syy") - col("sy") * col("sy")).cast("double")))))
          .cast("long").as("var_red_ppm"))
    perUser.groupBy("variant")
      .agg(count(lit(1)).as("n_users"),
        sum("x").as("sum_x"), sum("y").as("sum_y"))
      .crossJoin(broadcast(pooled))
      .select(col("variant"), col("n_users"), col("sum_x"), col("sum_y"),
        round(col("sum_y") / col("n_users"), 6).as("mean_y"),
        round(col("sum_y") / col("n_users") -
          col("theta") * (col("sum_x") / col("n_users") - col("sx") / col("n")), 6)
          .as("mean_y_cuped"),
        round(col("theta"), 6).as("theta"),
        col("var_red_ppm"))
      .orderBy("variant")
  }

  /** Power-user concentration readout: the Gini coefficient of
    * per-user event counts plus the Lorenz share of the top decile —
    * the inequality census a telemetry owner reads before trusting
    * per-user averages (and a skew early-warning: high Gini on a key
    * predicts hot partitions downstream). Exact arithmetic end to
    * end: one groupBy(user_id), one rank window over the USER
    * dimension (already reduced from events; the q_evt_rfm bounded-
    * dimension declaration), then Gini from the integer identity
    * G = (2·Σᵢ i·xᵢ − (n+1)·Σx) / (n·Σx) over counts ranked
    * ascending with a user_id tiebreak — Σ i·xᵢ ≤ n²·max stays in
    * int64 far past this scale; the single division is the only
    * double. Emitted as ppm.
    */
  private def qEvtGini(s: SparkSession, dir: String): DataFrame = {
    val perUser = t(s, dir, "events").groupBy("user_id")
      .agg(count(lit(1)).as("x"))
    val nUsers = perUser.agg(count(lit(1)).as("n"))
    val ranked = perUser.withColumn("i",
      row_number().over(Window.orderBy(col("x"), col("user_id"))).cast("long"))
    ranked.crossJoin(broadcast(nUsers))
      .agg(max("n").as("n"), sum("x").as("sx"),
        sum(col("i") * col("x")).as("six"),
        sum(when(col("i") * 10 > col("n") * 9, col("x")).otherwise(0L))
          .as("top_decile_events"))
      .select(col("n"), col("sx").as("n_events"),
        floor(lit(1000000.0) * (lit(2L) * col("six") - (col("n") + 1) * col("sx"))
          / (col("n") * col("sx"))).cast("long").as("gini_ppm"),
        col("top_decile_events"),
        floor(lit(1000000.0) * col("top_decile_events") / col("sx"))
          .cast("long").as("top_decile_ppm"))
  }

  /** Benford first-digit audit (Nigrini's forensic-accounting screen):
    * the first significant digit of each event's cent amount, censused
    * against the Benford expectation log10(1+1/d). The expectations are
    * LITERAL ppm constants shared with the oracle — no runtime log, so
    * no libm-rounding divergence can enter the gate (the
    * q_graph_degree_dist lesson). Digit extraction is pure integer/
    * string arithmetic on exact cents; the census is one tiny groupBy.
    * Synthetic uniform values won't fit Benford — the DEVIATION is the
    * point: the readout a release gate inspects for fabricated-value
    * columns.
    */
  private def qEvtBenford(s: SparkSession, dir: String): DataFrame = {
    val benfordPpm = Map(1 -> 301030L, 2 -> 176091L, 3 -> 124939L,
      4 -> 96910L, 5 -> 79181L, 6 -> 66947L, 7 -> 57992L, 8 -> 51153L,
      9 -> 45757L)
    val expected = benfordPpm.toSeq.sortBy(_._1).tail
      .foldLeft(when(col("digit") === 1, benfordPpm(1))) {
        case (acc, (d, p)) => acc.when(col("digit") === d, p)
      }
    val cents = t(s, dir, "events")
      .select(round(col("value") * 100).cast("long").as("cents"))
      .filter(col("cents") > 0)
    val digits = cents
      .select(substring(col("cents").cast("string"), 1, 1).cast("long").as("digit"))
    val total = digits.agg(count(lit(1)).as("n_total"))
    digits.groupBy("digit").agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(total))
      .select(col("digit"), col("n"),
        floor(lit(1000000L) * col("n") / col("n_total")).as("share_ppm"),
        expected.as("benford_ppm"))
      .withColumn("dev_ppm", abs(col("share_ppm") - col("benford_ppm")))
      .orderBy("digit")
  }

  /** DAU/MAU stickiness per calendar month — the product-health ratio
    * (how much of the monthly audience shows up on an average day)
    * every telemetry stack reports: per-day distinct users roll up to
    * a per-month Σdau and day count (one partial-aggregatable
    * two-level distinct), MAU is the month-level distinct, and
    * stickiness = Σdau / (n_days · mau) in exact floor-ppm. Two
    * distinct aggregations over (day, user) and (month, user)
    * projections — both key-partitioned shuffles, no windows.
    */
  private def qEvtStickiness(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(date_format(col("ts"), "yyyy-MM").as("month"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"), col("user_id"))
    val daily = ev.select("month", "day", "user_id").distinct()
      .groupBy("month", "day").agg(count(lit(1)).as("dau"))
      .groupBy("month").agg(count(lit(1)).as("n_days"),
        sum("dau").as("sum_dau"), max("dau").as("peak_dau"))
    val mau = ev.select("month", "user_id").distinct()
      .groupBy("month").agg(count(lit(1)).as("mau"))
    daily.join(mau, Seq("month"))
      .select(col("month"), col("n_days"), col("sum_dau"), col("peak_dau"),
        col("mau"),
        floor(lit(1000000L) * col("sum_dau") / (col("n_days") * col("mau")))
          .as("stickiness_ppm"))
      .orderBy("month")
  }

  /** Kaplan–Meier survival estimator (Kaplan & Meier, JASA 1958) for
    * time-to-first-purchase: per user, the elapsed whole hours from
    * first observed event to first `purchase`, right-censored at a
    * 72-hour observation window (users not converting inside the
    * window are censored — they contribute to every risk set but no
    * death). Output: one row per conversion time t with the risk-set
    * size n(t), deaths d(t), and the product-limit survival
    * S(t) = Π_{u≤t} (1 − d(u)/n(u)).
    *
    * Scale shape: one partial-aggregatable groupBy(user) collapses the
    * corpus to a per-user (first_ts, first_buy) pair; a second
    * groupBy(t) collapses users to the ≤ window-width event-time
    * relation. Only those few dozen rows enter the two unpartitioned
    * windows (risk sets via a DESC running sum, the product limit via
    * an ASC one) — single-partition but bounded by the window width in
    * hours, not the corpus. Elapsed hours come from exact
    * `unix_micros` integer arithmetic; S(t) is exp∘Σln of exact
    * integer ratios accumulated in deterministic t-order in both
    * engines, rounded to 1e-6.
    */
  private def qEvtSurvival(s: SparkSession, dir: String): DataFrame = {
    val windowH = 72L
    val perUser = t(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(min(unix_micros(col("ts"))).as("first_us"),
        min(when(col("event_type") === "purchase", unix_micros(col("ts"))))
          .as("buy_us"))
      .select(floor((col("buy_us") - col("first_us")) / lit(3600000000L))
        .cast("long").as("t_h"))
      .withColumn("died", col("t_h").isNotNull && col("t_h") <= windowH)
    val censored = perUser.filter(!col("died"))
      .agg(count(lit(1)).as("n_c"))
    val ev = perUser.filter(col("died"))
      .groupBy(col("t_h")).agg(count(lit(1)).as("d"))
    val wRisk = Window.orderBy(desc("t_h"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wSurv = Window.orderBy(col("t_h"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.crossJoin(broadcast(censored))
      .withColumn("n_risk", col("n_c") + sum(col("d")).over(wRisk))
      .select(col("t_h").as("t_hours"), col("n_risk"), col("d").as("n_death"),
        round(exp(sum(log(lit(1.0) - col("d").cast("double") / col("n_risk")))
          .over(wSurv)), 6).as("surv"))
      .orderBy("t_hours")
  }

  /** Exact ROC AUC via the Mann–Whitney U statistic (the rank-sum
    * identity: AUC = P(score_pos > score_neg) + ½P(tie)) for two
    * propensity features — per-user event count and active-day count —
    * against the "big spender" label: any purchase of $200+ (plain
    * "ever purchased" is degenerate here — every user converts,
    * leaving an empty negative class). Ties are handled exactly by
    * the ½-credit convention, with every cross-row term an INTEGER:
    * grouping by distinct score gives (pos_s, neg_s) counts, and
    * 2·U = Σ_s pos_s · (2·neg_below_s + neg_s), so the only float op
    * is the final ppm division. The eval census a labeling pipeline
    * runs before trusting a ranking feature at corpus scale.
    *
    * Scale shape: one partial-aggregatable groupBy(user) collapses
    * events to the user dimension; a second groupBy(score) collapses
    * users to the score-support relation — bounded by the per-user
    * activity RANGE, not the corpus row count — and only that small
    * relation enters the unpartitioned cumulative window. (At extreme
    * user counts the ppm division's 2·n_pos·n_neg product would want
    * DecimalType; the division-first form keeps it in range for any
    * realistic cohort.)
    */
  /** Per-user propensity rollup shared by [[qEvalAuc]] and
    * [[qEvalLift]]: activity features + the $200 big-spender label.
    */
  private def bigSpenderPerUser(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(to_date(col("ts"))).as("active_days"),
        max(when(col("event_type") === "purchase" && col("value") >= 200.0, 1L)
          .otherwise(0L)).as("pos"))

  private def qEvalAuc(s: SparkSession, dir: String): DataFrame = {
    val perUser = bigSpenderPerUser(s, dir)
    def auc(feature: String): DataFrame = {
      val grp = perUser.groupBy(col(feature).as("score"))
        .agg(sum(col("pos")).as("p"), sum(lit(1L) - col("pos")).as("q"))
      val w = Window.orderBy("score")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grp.withColumn("below_q", sum(col("q")).over(w) - col("q"))
        .agg(sum(col("p")).as("n_pos"), sum(col("q")).as("n_neg"),
          sum(col("p") * (lit(2L) * col("below_q") + col("q"))).as("two_u"))
        .select(lit(feature).as("score_feature"), col("n_pos"), col("n_neg"),
          round(lit(1000000.0) * (col("two_u").cast("double") /
            (lit(2.0) * col("n_pos") * col("n_neg")))).cast("long").as("auc_ppm"))
    }
    auc("n_events").unionByName(auc("active_days")).orderBy("score_feature")
  }

  /** Mutual information + χ² independence census between event type
    * and hour-of-day — the feature-dependence audit run before
    * treating two columns as independent signals. The contingency
    * table is bounded by construction (|event types| × 24 cells), so
    * per-cell terms are scalar expressions over exact integer counts:
    * the MI term quantizes to nano-nats and the χ² term (rational — no
    * transcendental) to micro-units BEFORE summing, so every cross-row
    * sum is order-invariant integer arithmetic; ln enters once per
    * cell on identical operands in both engines. The table is the FULL
    * margin grid (row margins × column margins), not just the observed
    * support — a zero-observed cell contributes nothing to MI (the
    * 0·ln 0 = 0 convention) but its full expectation to χ².
    *
    * Scale shape: three partial-aggregatable groupBys (cell, row
    * margin, column margin) + a 1-row total; the grid is the cross
    * join of the two margin AGGREGATES (never raw rows), everything
    * joins by BROADCAST, and nothing larger than the 120-cell table
    * ever joins.
    */
  private def qEvtMi(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events").select(col("event_type"), hour(col("ts")).as("hr"))
    val cells = e.groupBy("event_type", "hr").agg(count(lit(1)).as("n_obs"))
    val rowM = e.groupBy("event_type").agg(count(lit(1)).as("n_x"))
    val colM = e.groupBy("hr").agg(count(lit(1)).as("n_y"))
    val total = e.agg(count(lit(1)).as("n_tot"))
    rowM.crossJoin(broadcast(colM)).crossJoin(broadcast(total))
      .join(broadcast(cells), Seq("event_type", "hr"), "left")
      .withColumn("n_xy", coalesce(col("n_obs"), lit(0L)))
      .withColumn("mi_nnat",
        when(col("n_xy") === 0L, 0L).otherwise(
          round(lit(1e9) * (col("n_xy").cast("double") / col("n_tot")) *
            log(col("n_xy").cast("double") * col("n_tot") /
              (col("n_x").cast("double") * col("n_y")))).cast("long")))
      .withColumn("e_xy", col("n_x").cast("double") * col("n_y") / col("n_tot"))
      .withColumn("chi2_micro",
        round(lit(1e6) * pow(col("n_xy") - col("e_xy"), 2) / col("e_xy")).cast("long"))
      .groupBy("event_type")
      .agg(sum("n_xy").as("n"), count(lit(1)).as("n_cells"),
        sum("mi_nnat").as("mi_nnat"), sum("chi2_micro").as("chi2_micro"))
      .orderBy("event_type")
  }

  /** Two-sample Kolmogorov–Smirnov drift test between cohorts' `value`
    * distributions (view vs click, purchase vs error) — the
    * distribution-shift gate run between corpus slices before mixing
    * them. D = max |F_a − F_b| is computed EXACTLY by
    * cross-multiplication: with values quantized to cents, per distinct
    * cent the statistic numerator is |cum_a·n_b − cum_b·n_a| — integers
    * on both sides — and only the final ppm emission divides. The
    * report carries D in ppm, the cent value where the max is first
    * attained, and both cohort sizes.
    *
    * Scale shape: one partial-aggregatable groupBy(cent) collapses each
    * cohort pair to the VALUE-SUPPORT relation (bounded by the price
    * range in cents, not the corpus), which alone enters the ordered
    * cumulative window; cohort totals and the arg-max resolve through
    * 1-row broadcast cross joins.
    */
  /** Shared two-cohort ECDF scaffold for [[qEvtKs]] and
    * [[qEvtWasserstein]]: the cents-support relation with per-cohort
    * cumulative counts and the 1-row broadcast totals. Columns:
    * v_c, ca, cb, cum_a, cum_b, n_a, n_b.
    */
  private def cohortEcdf(s: SparkSession, dir: String,
                         a: String, b: String): DataFrame = {
    val e = t(s, dir, "events")
      .filter(col("event_type").isin(a, b))
      .select(col("event_type"), round(col("value") * 100).cast("long").as("v_c"))
    val grp = e.groupBy("v_c")
      .agg(sum(when(col("event_type") === a, 1L).otherwise(0L)).as("ca"),
        sum(when(col("event_type") === b, 1L).otherwise(0L)).as("cb"))
    val tot = grp.agg(sum("ca").as("n_a"), sum("cb").as("n_b"))
    val w = Window.orderBy("v_c")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grp
      .withColumn("cum_a", sum(col("ca")).over(w))
      .withColumn("cum_b", sum(col("cb")).over(w))
      .crossJoin(broadcast(tot))
  }

  /** NULL-guarded ppm emission: an EMPTY cohort must report NULL, not
    * the silent 0 that 0/0 → NaN → cast produces (and the oracle's
    * CAST(NaN) would crash on instead of mismatching).
    */
  private def cohortGuard(out: Column): Column =
    when(col("n_a") === 0L || col("n_b") === 0L, lit(null).cast("long"))
      .otherwise(out)

  private def qEvtKs(s: SparkSession, dir: String): DataFrame = {
    def ks(a: String, b: String): DataFrame = {
      val ecdf = cohortEcdf(s, dir, a, b)
        .withColumn("d_num", abs(col("cum_a") * col("n_b") - col("cum_b") * col("n_a")))
      val dmax = ecdf.agg(max("d_num").as("d_max"))
      ecdf.crossJoin(broadcast(dmax))
        .filter(col("d_num") === col("d_max"))
        .agg(first(col("n_a")).as("n_a"), first(col("n_b")).as("n_b"),
          first(col("d_max")).as("dm"), min(col("v_c")).as("at_value_cents"))
        .select(lit(a).as("cohort_a"), lit(b).as("cohort_b"),
          col("n_a"), col("n_b"),
          cohortGuard(round(lit(1000000.0) * (col("dm").cast("double") /
            (col("n_a").cast("double") * col("n_b")))).cast("long")).as("d_ppm"),
          col("at_value_cents"))
    }
    ks("view", "click").unionByName(ks("purchase", "error"))
      .orderBy("cohort_a")
  }

  /** Cumulative gains / lift table — [[qEvalAuc]]'s companion census
    * (the campaign-targeting readout): users ranked by the n_events
    * propensity score into DESC deciles (ties broken by user_id so the
    * binning is deterministic in any engine), then per decile the
    * big-spender capture rate (cumulative recall) and lift vs the base
    * rate. Every cumulative quantity is an integer count; ppm division
    * happens once per output cell.
    *
    * Scale shape: one partial-aggregatable groupBy(user) collapses
    * events to the user dimension, which alone enters the ntile
    * window ([[qEvtRfm]]'s declared class — a 1e9-user deployment
    * swaps in the pre-aggregated-histogram binning); the cumulative
    * window then runs over the 10-row decile census.
    */
  private def qEvalLift(s: SparkSession, dir: String): DataFrame = {
    val perUser = bigSpenderPerUser(s, dir)
    val ranked = perUser.withColumn("decile",
      ntile(10).over(Window.orderBy(desc("n_events"), col("user_id"))))
    val bins = ranked.groupBy("decile")
      .agg(count(lit(1)).as("n"), sum("pos").as("n_pos"))
    val w = Window.orderBy("decile")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bins
      .withColumn("cum_n", sum(col("n")).over(w))
      .withColumn("cum_pos", sum(col("n_pos")).over(w))
      .crossJoin(broadcast(bins.agg(sum("n").as("n_tot"), sum("n_pos").as("p_tot"))))
      .select(col("decile"), col("n"), col("n_pos"),
        floor(lit(1000000L) * col("cum_pos") / col("p_tot"))
          .cast("long").as("capture_ppm"),
        round(lit(1000000.0) * (col("cum_pos").cast("double") / col("p_tot")) /
          (col("cum_n").cast("double") / col("n_tot"))).cast("long").as("lift_ppm"))
      .orderBy("decile")
  }

  /** Pearson + Spearman correlation census between two per-user
    * metrics (activity = event count, spend = exact cents sum) — the
    * feature-redundancy audit run before both enter a model. Pearson
    * comes from exact integer power sums (Σx, Σy, Σxy, Σx², Σy² — the
    * [[qEvtAcf]] discipline: order-invariant, one double expression at
    * emission). Spearman is Pearson over DOUBLED average ranks — for a
    * tie group of k values starting at min-rank r the average rank is
    * r + (k−1)/2, so 2·avg = 2r + k − 1 stays an exact integer — and
    * rank correlation is invariant under that common scaling.
    *
    * Scale shape: one partial-aggregatable groupBy(user) collapses
    * events to the user dimension; the rank windows run over that
    * rollup (the [[qEvtRfm]] declared class) and every cross-row sum
    * thereafter is a long. (Power sums of doubled ranks grow as 4n³ —
    * past ~1e5 users a deployment swaps the longs for DecimalType.)
    */
  private def qEvtSpearman(s: SparkSession, dir: String): DataFrame = {
    val perUser = t(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("x"),
        sum(round(col("value") * 100).cast("long")).as("y"))
    def rank2(c: String): Column =
      lit(2L) * rank().over(Window.orderBy(col(c))) +
        count(lit(1)).over(Window.partitionBy(col(c))) - lit(1L)
    val ranked = perUser
      .withColumn("rx", rank2("x")).withColumn("ry", rank2("y"))
    // the power sums stay exact longs; the single scalar combination
    // casts each to double FIRST (n·Σy² overflows int64 at sf1 whale
    // spend) — mirrored operand-for-operand in the oracle so both
    // engines run the identical IEEE sequence
    def d(c: String): Column = col(c).cast("double")
    val pearsonPpm: Column =
      round(lit(1000000.0) *
        (d("n") * d("sxy") - d("sx") * d("sy")) /
        sqrt((d("n") * d("sxx") - d("sx") * d("sx")) *
          (d("n") * d("syy") - d("sy") * d("sy")))).cast("long")
    def corr2(df: DataFrame, xc: String, yc: String): DataFrame =
      df.agg(count(lit(1)).as("n"),
        sum(col(xc)).as("sx"), sum(col(yc)).as("sy"),
        sum(col(xc) * col(yc)).as("sxy"),
        sum(col(xc) * col(xc)).as("sxx"),
        sum(col(yc) * col(yc)).as("syy"))
    val p = corr2(ranked, "x", "y")
      .select(col("n").as("n_users"), pearsonPpm.as("pearson_ppm"))
    val sp = corr2(ranked, "rx", "ry")
      .select(pearsonPpm.as("spearman_ppm"))
    p.crossJoin(broadcast(sp)).select("n_users", "pearson_ppm", "spearman_ppm")
  }

  /** Markov entropy-rate census of the event-type process (Shannon's
    * H(X_t | X_{t−1}) under the empirical transition matrix): per
    * source state, the conditional entropy of its outgoing
    * distribution; overall, the rate Σ_i p_i·H_i with p_i the
    * empirical share of outgoing transitions. The
    * sequence-predictability audit behind any next-event model. Every
    * per-cell term −(n_ij/n_i)·ln(n_ij/n_i) quantizes to nano-nats
    * BEFORE summation, so cross-row sums are exact longs; the rate
    * weights those per-state integer sums by integer counts and
    * divides once.
    *
    * Scale shape: transitions come from one lag window PARTITIONED by
    * user (ordered by event time; no global window), collapse to the
    * ≤|types|² cell table in a partial-aggregatable groupBy, and
    * everything after is arithmetic on that tiny relation.
    */
  private def qEvtEntropyRate(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val trans = t(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev", lag(col("event_type"), 1).over(w))
      .filter(col("prev").isNotNull)
    val cells = trans.groupBy(col("prev"), col("event_type"))
      .agg(count(lit(1)).as("n_ij"))
    val rows = cells.groupBy("prev").agg(sum("n_ij").as("n_i"))
    val perState = cells.join(broadcast(rows), "prev")
      .withColumn("h_cell",
        round(lit(-1e9) * (col("n_ij").cast("double") / col("n_i")) *
          log(col("n_ij").cast("double") / col("n_i"))).cast("long"))
      .groupBy(col("prev"))
      .agg(first(col("n_i")).as("n_out"), sum(col("h_cell")).as("h_nnat"))
    val tot = perState.agg(sum("n_out").as("t_tot"),
      sum(col("n_out") * col("h_nnat")).as("wh"))
    val overall = tot.select(lit("__RATE__").as("event_type"),
      col("t_tot").as("n_out"),
      round(col("wh").cast("double") / col("t_tot")).cast("long").as("h_nnat"))
    perState.select(col("prev").as("event_type"), col("n_out"), col("h_nnat"))
      .unionByName(overall)
      .orderBy("event_type")
  }

  // --- one-pass Poisson bootstrap (q_evt_bootstrap) constants ---
  // Per-replicate universal hash ((a·x + c) mod p) mod 2^20, the
  // q_evt_countmin convention; the Poisson(1) multiplicity comes from
  // comparing that 20-bit integer against PRE-SCALED integer CDF
  // thresholds floor(CDF_k · 2^20) — no float ever enters a weight.
  private val bootB = 32
  private val bootP = 2147483647L
  private def bootA(b: Int): Long = (1000003L * (b + 1)) % bootP
  private def bootC(b: Int): Long = (7919L * (b + 1) + 104729L) % bootP
  /** floor(Poisson(1) CDF(k) · 2^20) for k = 0..9; 10+ is the tail. */
  private val bootCdf20 = Seq(385749L, 771499L, 964373L, 1028665L,
    1044738L, 1047952L, 1048488L, 1048565L, 1048574L, 1048575L)

  /** One-pass Poisson bootstrap of total purchase revenue (Efron's
    * resampling with Poisson(1) replicate weights — the only bootstrap
    * that works in one distributed scan, since each row's weight per
    * replicate is a pure function of (row id, replicate id), no
    * sampling shuffle): B = 32 replicates, each an exact integer
    * Σ w_b(e)·cents(e) accumulated as one conditional-sum column of a
    * SINGLE aggregate, weights from integer hash-vs-integer-CDF
    * comparisons. The replicate spread then yields the bootstrap SE
    * and a 95% normal CI for total revenue — error bars at 100 TB
    * without a second pass or a sampling shuffle. The scalar
    * mean/variance combination casts the 32 exact longs to double in
    * a FIXED textual order mirrored by the oracle (Σ s_b² overflows
    * int64 at sf1).
    *
    * Scale shape: one partial-aggregatable aggregate over the
    * purchase scan — 33 sums wide, map-side combined; the output is a
    * single row. Nothing shuffles but partial aggregates.
    */
  private def qEvtBootstrap(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), round(col("value") * 100).cast("long").as("cents"))
    def weight(b: Int): Column = {
      val h = ((lit(bootA(b)) * (col("event_id") % bootP) + lit(bootC(b)))
        % bootP) % 1048576L
      bootCdf20.zipWithIndex.reverse.foldLeft(lit(10L)) {
        case (acc, (thr, k)) => when(h < lit(thr), lit(k.toLong)).otherwise(acc)
      }
    }
    val repCols = (0 until bootB).map(b => sum(weight(b) * col("cents")).as(s"s_$b"))
    val base = e.agg(count(lit(1)).as("n_purchases"),
      (sum(col("cents")).as("point_cents") +: repCols): _*)
    val ssD = (0 until bootB).map(b => col(s"s_$b").cast("double")).reduce(_ + _)
    val ss2D = (0 until bootB)
      .map(b => col(s"s_$b").cast("double") * col(s"s_$b").cast("double"))
      .reduce(_ + _)
    base
      .withColumn("mean_d", ssD / lit(bootB.toDouble))
      .withColumn("se_d",
        sqrt((ss2D - ssD * ssD / lit(bootB.toDouble)) / lit((bootB - 1).toDouble)))
      .select(col("n_purchases"), col("point_cents"),
        round(col("mean_d")).cast("long").as("boot_mean_cents"),
        round(col("se_d")).cast("long").as("boot_se_cents"),
        round(col("mean_d") - lit(1.96) * col("se_d")).cast("long").as("ci_lo_cents"),
        round(col("mean_d") + lit(1.96) * col("se_d")).cast("long").as("ci_hi_cents"))
  }

  // --- PSI drift monitor (q_evt_psi batch / q_stream_psi twin) ---
  // 20 fixed $25 value buckets; population stability index per hour
  // against the whole-corpus reference histogram, Laplace-+1 smoothed
  // so empty buckets stay finite. Per-bucket terms quantize to micro
  // units BEFORE the order-invariant long sum.
  private[graft] val psiNBuckets = 20

  private[graft] def psiBucket(v: Column): Column =
    least(lit(19L), greatest(lit(0L), floor(v / 25.0).cast("long")))

  private[graft] def psiBucketSums(v: Column, prefix: String): Seq[Column] =
    (0 until psiNBuckets).map(b =>
      sum(when(psiBucket(v) === b.toLong, 1L).otherwise(0L)).as(s"$prefix$b"))

  /** Σ_b micro-quantized (p_b − r_b)·ln(p_b/r_b) over columns
    * b_0..b_19 / r_0..r_19 with totals n_events / r_tot present.
    */
  private[graft] def psiMicro: Column =
    (0 until psiNBuckets).map { b =>
      val p = (col(s"b_$b") + lit(1L)).cast("double") /
        (col("n_events") + lit(20L)).cast("double")
      val r = (col(s"r_$b") + lit(1L)).cast("double") /
        (col("r_tot") + lit(20L)).cast("double")
      round(lit(1e6) * (p - r) * log(p / r)).cast("long")
    }.reduce(_ + _)

  private[graft] def psiTotals(df: DataFrame): DataFrame = df
    .withColumn("n_events",
      (0 until psiNBuckets).map(b => col(s"b_$b")).reduce(_ + _))
    .withColumn("r_tot",
      (0 until psiNBuckets).map(b => col(s"r_$b")).reduce(_ + _))

  /** Population stability index per hour vs the whole-corpus value
    * distribution — the distribution-shift monitor ([[qEvtKs]] gives
    * the one-shot two-cohort verdict; this is the per-window
    * production readout, and [[graft.streaming.StreamOps.psiDriftAppend]]
    * runs the IDENTICAL plan as an append-mode stream whose windows
    * emit on watermark close). 20 fixed $25 buckets, Laplace-+1
    * smoothing, per-bucket micro-quantization before the integer sum;
    * drifted at the classic 0.2 threshold.
    *
    * Scale shape: ONE groupBy(hour) with the 20 bucket counts as
    * sibling conditional sums (map-side combined — no second shuffle,
    * no pivot), a 1-row broadcast reference, and scalar arithmetic on
    * the hour census.
    */
  private def qEvtPsi(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
      .select(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss")
        .as("hour"), col("value"))
    val bSums = psiBucketSums(col("value"), "b_")
    val rSums = psiBucketSums(col("value"), "r_")
    val hourly = e.groupBy("hour").agg(bSums.head, bSums.tail: _*)
    val ref = e.agg(rSums.head, rSums.tail: _*)
    psiTotals(hourly.crossJoin(broadcast(ref)))
      .select(col("hour"), col("n_events"), psiMicro.as("psi_micro"))
      .withColumn("drifted", col("psi_micro") > 200000L)
      .orderBy("hour")
  }

  /** Generated PSI oracle; `emissionLaw = true` adds the append-mode
    * window-finality predicate (end ≤ final watermark), the
    * q_stream_hourly_append convention.
    */
  private[queries] def psiOracle(emissionLaw: Boolean): String = {
    val bSums = (0 until psiNBuckets)
      .map(b => s"    CAST(sum(CASE WHEN bkt = $b THEN 1 ELSE 0 END) AS BIGINT) AS b_$b")
      .mkString(",\n")
    val rSums = (0 until psiNBuckets)
      .map(b => s"    CAST(sum(CASE WHEN bkt = $b THEN 1 ELSE 0 END) AS BIGINT) AS r_$b")
      .mkString(",\n")
    val nTot = (0 until psiNBuckets).map(b => s"b_$b").mkString(" + ")
    val rTot = (0 until psiNBuckets).map(b => s"r_$b").mkString(" + ")
    val terms = (0 until psiNBuckets).map { b =>
      val p = s"CAST(b_$b + 1 AS DOUBLE) / CAST(n_events + 20 AS DOUBLE)"
      val r = s"CAST(r_$b + 1 AS DOUBLE) / CAST(r_tot + 20 AS DOUBLE)"
      s"CAST(round(1e6 * (($p) - ($r)) * ln(($p) / ($r))) AS BIGINT)"
    }.mkString(" +\n    ")
    val law = if (emissionLaw)
      """, wm AS (SELECT CAST(floor(epoch_us(max(ts)) / 1000) AS BIGINT) - 7200000 AS wm_ms
        |         FROM events)""".stripMargin else ""
    val lawJoin = if (emissionLaw) ", wm" else ""
    val lawPred = if (emissionLaw)
      "WHERE CAST(floor(epoch_us(CAST(t.hour AS TIMESTAMP) + INTERVAL 1 HOUR) / 1000) AS BIGINT) <= wm_ms"
    else ""
    s"""WITH e AS (
       |  SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
       |    least(19, greatest(0, CAST(floor(value / 25.0) AS BIGINT))) AS bkt
       |  FROM events),
       |h AS (SELECT hour,
       |$bSums
       |  FROM e GROUP BY 1),
       |r AS (SELECT
       |$rSums
       |  FROM e),
       |t AS (SELECT h.*, r.*, ($nTot) AS n_events, ($rTot) AS r_tot
       |      FROM h, r)$law
       |SELECT t.hour, t.n_events,
       |  ($terms) AS psi_micro,
       |  ($terms) > 200000 AS drifted
       |FROM t$lawJoin
       |$lawPred
       |ORDER BY t.hour""".stripMargin
  }

  /** Difference-in-differences (the Card–Krueger quasi-experimental
    * estimator): treatment by the [[qEvtAbtest]] Knuth-hash user
    * assignment, periods split at the corpus midpoint (2024-01-16),
    * outcome = mean event value in exact cents. The 2×2 cell counts
    * and sums come from ONE conditional aggregation (no join, no
    * second shuffle); the interaction estimate
    * (post_T − pre_T) − (post_C − pre_C) is a single fixed double
    * expression over the exact integer sums, emitted in milli-cents.
    */
  private def qEvtDid(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
      .select(col("user_id"), col("ts"),
        round(col("value") * 100).cast("long").as("cents"))
      .withColumn("treat",
        pmod(pmod(col("user_id") * 2654435761L, lit(4294967296L)), lit(2)))
      .withColumn("post",
        (col("ts") >= lit("2024-01-16").cast("timestamp")).cast("int"))
    def cell(t0: Int, p0: Int, suffix: String) = Seq(
      sum(when(col("treat") === t0 && col("post") === p0, 1L).otherwise(0L))
        .as(s"n_$suffix"),
      sum(when(col("treat") === t0 && col("post") === p0, col("cents"))
        .otherwise(0L)).as(s"s_$suffix"))
    val cells = cell(0, 0, "pre_ctl") ++ cell(0, 1, "post_ctl") ++
      cell(1, 0, "pre_trt") ++ cell(1, 1, "post_trt")
    val agg = e.agg(cells.head, cells.tail: _*)
    def mean(sfx: String): Column =
      col(s"s_$sfx").cast("double") / col(s"n_$sfx")
    // an empty 2x2 cell means the design is undefined: emit NULL, not
    // the silent 0 that 0/0 NaN->cast would produce
    val anyEmpty = Seq("pre_ctl", "post_ctl", "pre_trt", "post_trt")
      .map(sfx => col(s"n_$sfx") === 0L).reduce(_ || _)
    def guarded(c: Column): Column =
      when(anyEmpty, lit(null).cast("long")).otherwise(c)
    agg.select(
      col("n_pre_ctl"), col("n_post_ctl"), col("n_pre_trt"), col("n_post_trt"),
      guarded(round(lit(1000.0) * mean("pre_ctl")).cast("long")).as("m_pre_ctl_milli"),
      guarded(round(lit(1000.0) * mean("post_ctl")).cast("long")).as("m_post_ctl_milli"),
      guarded(round(lit(1000.0) * mean("pre_trt")).cast("long")).as("m_pre_trt_milli"),
      guarded(round(lit(1000.0) * mean("post_trt")).cast("long")).as("m_post_trt_milli"),
      guarded(round(lit(1000.0) * ((mean("post_trt") - mean("pre_trt")) -
        (mean("post_ctl") - mean("pre_ctl")))).cast("long")).as("did_milli"))
  }

  /** Winsorized robust means (the metric-hygiene census every
    * revenue dashboard needs — one whale event should not move the
    * mean): per event type, the EXACT p1/p99 cents bounds read off
    * the cents-support cumulative distribution with cross-multiplied
    * integer rank predicates (smallest v with 100·cum ≥ n, resp.
    * ≥ 99·n — no float percentile, no approx_percentile
    * nondeterminism), then the winsorized mean from a second pass
    * clamping into [lo, hi]. Raw and winsorized means emitted in
    * milli-cents from exact integer sums.
    *
    * Scale shape: the support relation (one partial-aggregatable
    * groupBy(type, cents)) is bounded by the price range per type and
    * carries the PARTITIONED cumulative window; the |types|-row bounds
    * table broadcasts back into a map-side clamp.
    */
  private def qEvtWinsor(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
      .select(col("event_type"), round(col("value") * 100).cast("long").as("cents"))
    val w = Window.partitionBy("event_type").orderBy("cents")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sup = e.groupBy("event_type", "cents").agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum(col("cnt")).over(w))
      .withColumn("n_t", sum(col("cnt")).over(Window.partitionBy("event_type")))
    val bounds = sup.groupBy("event_type")
      .agg(min(when(col("cum") * 100L >= col("n_t"), col("cents"))).as("lo_cents"),
        min(when(col("cum") * 100L >= col("n_t") * 99L, col("cents"))).as("hi_cents"))
    e.join(broadcast(bounds), "event_type")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        first(col("lo_cents")).as("lo_cents"),
        first(col("hi_cents")).as("hi_cents"),
        sum(col("cents")).as("raw_sum"),
        sum(greatest(col("lo_cents"), least(col("hi_cents"), col("cents"))))
          .as("win_sum"))
      .select(col("event_type"), col("n"), col("lo_cents"), col("hi_cents"),
        round(lit(1000.0) * col("raw_sum").cast("double") / col("n"))
          .cast("long").as("mean_milli"),
        round(lit(1000.0) * col("win_sum").cast("double") / col("n"))
          .cast("long").as("winsor_mean_milli"))
      .orderBy("event_type")
  }

  /** 1-Wasserstein (earth-mover) distance between cohort value
    * distributions — the INTEGRAL sibling of [[qEvtKs]]'s max:
    * W₁ = ∫|F_a − F_b| dv, which on the cents support is the exact sum
    * Σᵢ |cum_a·n_b − cum_b·n_a|·(vᵢ₊₁ − vᵢ) / (n_a·n_b) — every term
    * integer until the single closing division. KS asks "how far apart
    * do the ECDFs get"; W₁ asks "how much value must move" — the drift
    * monitor pair every distribution gate wants side by side.
    *
    * Scale shape: identical to [[qEvtKs]] (shared [[cohortEcdf]]
    * scaffold) — the support relation (bounded by the price range)
    * carries the ordered cumulative and lead windows; totals ride a
    * 1-row broadcast cross join.
    */
  private def qEvtWasserstein(s: SparkSession, dir: String): DataFrame = {
    def w1(a: String, b: String): DataFrame = {
      val wl = Window.orderBy("v_c")
      cohortEcdf(s, dir, a, b)
        // last support point gets gap 0 (its |F_a−F_b| is 0 anyway —
        // both ECDFs are 1 there), which also keeps a single-point
        // support from emptying the relation
        .withColumn("gap",
          coalesce(lead(col("v_c"), 1).over(wl) - col("v_c"), lit(0L)))
        .agg(first(col("n_a")).as("n_a"), first(col("n_b")).as("n_b"),
          sum(abs(col("cum_a") * col("n_b") - col("cum_b") * col("n_a")) *
            col("gap")).as("mass"))
        .select(lit(a).as("cohort_a"), lit(b).as("cohort_b"),
          col("n_a"), col("n_b"),
          cohortGuard(round(lit(1000.0) * (col("mass").cast("double") /
            (col("n_a").cast("double") * col("n_b")))).cast("long"))
            .as("w1_millicents"))
    }
    w1("view", "click").unionByName(w1("purchase", "error"))
      .orderBy("cohort_a")
  }

  /** Kruskal–Wallis H — the k-group nonparametric location test
    * ([[qEvtKs]] compares two cohorts; this ranks ALL event types at
    * once): doubled average ranks over the cents support (the
    * [[qEvtSpearman]] integer-tie discipline — 2·avg = 2·below + t + 1
    * stays exact), per-group doubled rank sums R2ᵢ as exact longs, and
    * H = 3·Σᵢ (R2ᵢ − nᵢ(N+1))²/nᵢ / (N(N+1)) with the standard tie
    * correction 1 − Σ(t³−t)/(N³−N). Per-group quadratic terms quantize
    * to unit longs BEFORE the cross-group sum (their squares overflow
    * int64 raw); everything else is integer until the one emission
    * division. The census reports each group's mean doubled rank
    * beside the shared H — the "is any cohort's spend distribution
    * shifted" gate.
    *
    * Scale shape: one groupBy(type, cent) builds the per-group support
    * (bounded by the price range); the global doubled ranks come from
    * ONE unpartitioned cumulative window over the ≤|support|-row value
    * census (support-bounded, never corpus-bounded) broadcast back;
    * group sums and the H combination are |types|-row arithmetic.
    */
  private def qEvtKruskal(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
      .select(col("event_type"), round(col("value") * 100).cast("long").as("v_c"))
    val byVal = e.groupBy("v_c").agg(count(lit(1)).as("t"))
    val w = Window.orderBy("v_c")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranks = byVal
      .withColumn("r2", lit(2L) * (sum(col("t")).over(w) - col("t")) + col("t") + 1L)
    val grpVal = e.groupBy("event_type", "v_c").agg(count(lit(1)).as("cnt"))
    val groups = grpVal.join(broadcast(ranks.select(col("v_c"), col("r2"))), "v_c")
      .groupBy("event_type")
      .agg(sum(col("cnt")).as("n_i"), sum(col("cnt") * col("r2")).as("r2_i"))
    // t³ overflows int64 once a single cent value carries >2^21 events
    // — accumulate the tie sum in DECIMAL(38,0) (the oracle uses
    // HUGEINT), exact to 1e38, cast to double only inside corrFactor
    val ties = byVal.agg(
      sum(col("t").cast(org.apache.spark.sql.types.DecimalType(38, 0)) *
        col("t") * col("t") - col("t")).as("tie_sum"))
    val tot = groups.agg(sum(col("n_i")).as("n"), count(lit(1)).as("k"))
    val terms = groups.crossJoin(broadcast(tot))
      .withColumn("d", col("r2_i") - col("n_i") * (col("n") + 1L))
      .withColumn("q",
        round(col("d").cast("double") * col("d") / col("n_i")).cast("long"))
    val corrFactor = lit(1.0) - col("tie_sum").cast("double") /
      (col("n").cast("double") * col("n") * col("n") - col("n"))
    val h = terms
      .agg(first(col("n")).as("n"), first(col("k")).as("k"), sum(col("q")).as("qs"))
      .crossJoin(broadcast(ties))
      .select(col("n"), col("k"),
        round(lit(1000.0) * lit(3.0) * col("qs").cast("double") /
          (col("n").cast("double") * (col("n") + 1L))).cast("long").as("h_milli"),
        // an all-tied corpus zeroes the tie correction (H undefined):
        // emit NULL, never a cast-infinity crash
        when(corrFactor > 0.0,
          round(lit(1000.0) * (lit(3.0) * col("qs").cast("double") /
            (col("n").cast("double") * (col("n") + 1L))) / corrFactor)
            .cast("long"))
          .otherwise(lit(null).cast("long")).as("h_corr_milli"))
    groups.crossJoin(broadcast(h))
      .select(col("event_type"), col("n_i"),
        round(lit(1000.0) * col("r2_i").cast("double") / (lit(2.0) * col("n_i")))
          .cast("long").as("mean_rank_milli"),
        col("h_milli"), col("h_corr_milli"))
      .orderBy("event_type")
  }

  /** One-way ANOVA F across event types — [[qEvtKruskal]]'s PARAMETRIC
    * sibling on the raw cents (KW asks about rank shift; F about mean
    * variance). All moments are exact integer sums (n_g, Σx, Σx² per
    * group); the only inexact quantity, s_g²/n_g, is computed by the
    * IDENTICAL double expression in both engines and quantized to a
    * unit long PER GROUP before any cross-group sum, so
    * SSB = Σ_g round(s_g²/n_g) − round(S²/N) and
    * SSW = Σx²_total − Σ_g round(s_g²/n_g) are order-invariant integer
    * arithmetic end to end; F and η² divide once at emission.
    *
    * Scale shape: one partial-aggregatable groupBy(type) carrying
    * three sums; everything after is |types|-row arithmetic plus a
    * 1-row broadcast total.
    */
  private def qEvtAnova(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
      .select(col("event_type"), round(col("value") * 100).cast("long").as("x"))
    val g = e.groupBy("event_type")
      .agg(count(lit(1)).as("n_g"), sum(col("x")).as("s_g"),
        sum(col("x") * col("x")).as("ssq_g"))
      .withColumn("q_g",
        round(col("s_g").cast("double") * col("s_g") / col("n_g")).cast("long"))
    val tot = g.agg(sum("n_g").as("n"), count(lit(1)).as("k"),
      sum("s_g").as("s"), sum("ssq_g").as("ssq"), sum("q_g").as("qs"))
    tot.select(col("k"), col("n"),
        (col("qs") - round(col("s").cast("double") * col("s") / col("n"))
          .cast("long")).as("ssb"),
        (col("ssq") - col("qs")).as("ssw"))
      .select(col("k"), col("n"), col("ssb"), col("ssw"),
        // degenerate corpora (k=1, or every group internally constant so
        // ssw=0) make F a 0-division -> Infinity -> Long.MaxValue on cast;
        // emit NULL instead, mirroring the Kruskal all-tied guard
        when(col("ssw") > 0L && col("k") > 1L,
          round(lit(1000.0) *
            (col("ssb").cast("double") / (col("k") - 1L)) /
            (col("ssw").cast("double") / (col("n") - col("k"))))
            .cast("long"))
          .otherwise(lit(null).cast("long")).as("f_milli"),
        when(col("ssb") + col("ssw") > 0L,
          round(lit(1000000.0) * col("ssb").cast("double") /
            (col("ssb") + col("ssw")).cast("double")).cast("long"))
          .otherwise(lit(null).cast("long")).as("eta2_ppm"))
  }

  /** SCD2 (slowly-changing-dimension type 2) interval build — the
    * warehouse-staple temporal operator: collapse each user's purchase
    * stream into versioned validity intervals of a derived attribute
    * (the spend tier), `valid_from`/`valid_to` half-open in integer
    * microseconds, `valid_to IS NULL` marking the current version.
    *
    * Classic gaps-and-islands in three window steps over ONE
    * partitioning: change flag vs `lag(tier)`, running-sum of flags as
    * the version number, then per-(user, version) min/count plus a
    * `lead` to close each interval. Every window and the groupBy
    * cluster on `user_id`, so Catalyst reuses a single exchange and
    * the whole build is one shuffle, linear per user — the shape that
    * turns a 100 TB event log into a dimension table without a
    * self-join. Ties inside a microsecond break on `event_id` so both
    * engines fold runs identically.
    */
  private def qEvtScd2(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val p = t(s, dir, "events").filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("event_id"),
        when(col("value") < 10, "low").when(col("value") < 20, "mid")
          .otherwise("high").as("tier"))
    val wSeq = Window.partitionBy("user_id").orderBy("us", "event_id")
    val byVersion = Window.partitionBy("user_id").orderBy("version")
    p.withColumn("chg",
        when(lag("tier", 1).over(wSeq).isNull ||
             col("tier") =!= lag("tier", 1).over(wSeq), 1).otherwise(0))
      .withColumn("version", sum("chg").over(
        wSeq.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("version"))
      .agg(min("tier").as("tier"), min("us").as("valid_from_us"),
        count(lit(1)).as("n_events"))
      .withColumn("valid_to_us", lead("valid_from_us", 1).over(byVersion))
      .withColumn("is_current", col("valid_to_us").isNull)
      .select("user_id", "version", "tier", "valid_from_us", "valid_to_us",
        "is_current", "n_events")
      .orderBy("user_id", "version")
  }

  /** Peak-concurrency sweep line: each event opens a 5-minute activity
    * interval `[ts, ts+5m)`; the query reports, per day, the maximum
    * number of simultaneously open intervals and the earliest
    * microsecond at which that peak is reached — the capacity-planning
    * readout (max concurrent sessions/connections).
    *
    * The textbook +1/−1 sweep needs a running sum over the ordered
    * timeline — a GLOBAL window that cannot scale. Here the sweep is
    * day-partitioned: an interval contributes its boundary points to
    * every day it covers, clipped to that day's range (the standard
    * interval-split at partition boundaries; a 5-minute interval
    * covers ≤ 2 days), so each day's sweep is independent, exact, and
    * the window always has a partition key. Half-open semantics: at
    * equal timestamps the −1 sorts before the +1 (`ORDER BY us,
    * delta`), so an interval ending exactly when another starts never
    * counts as overlap. Peak and its timestamp are deterministic under
    * ties because equal-delta runs pass through a fixed value
    * sequence at one timestamp.
    */
  private def qEvtConcurrency(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val D = 86400000000L
    val iv = t(s, dir, "events")
      .select(unix_micros(col("ts")).as("st"))
      .withColumn("en", col("st") + lit(300000000L))
    val pts = iv
      .withColumn("day", explode(sequence(expr(s"st div ${D}L"),
        expr(s"(en - 1) div ${D}L"))))
      .withColumn("pt", explode(array(
        struct(greatest(col("st"), col("day") * D).as("us"), lit(1).as("delta")),
        struct(least(col("en"), (col("day") + 1) * D).as("us"), lit(-1).as("delta")))))
      .select(col("day"), col("pt.us").as("us"), col("pt.delta").as("delta"))
    val sweep = Window.partitionBy("day").orderBy("us", "delta")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    pts.withColumn("conc", sum("delta").over(sweep))
      .withColumn("mx", max("conc").over(Window.partitionBy("day")))
      .filter(col("conc") === col("mx"))
      .groupBy("day")
      .agg(max("conc").as("peak_concurrent"), min("us").as("peak_us"))
      .orderBy("day")
  }

  /** CDC MERGE (upsert) — the lakehouse `MERGE INTO` shape as a
    * queryable operator: a latest-wins dimension snapshot built from
    * the first 15 days of purchases merges with the delta built from
    * the rest, via ONE full outer join on the key. Every output row
    * carries its merge `action` (insert / update / unchanged / carry),
    * so the result doubles as the CDC audit report. Latest-wins
    * compaction is a per-key window (row_number DESC = 1) on each
    * side — the standard dedup-before-merge; both sides and the join
    * cluster on `user_id`, so the whole merge is the minimal two
    * sorts + one join shuffle, no driver state. Ties inside a
    * microsecond break on event_id.
    */
  private def qEvtMergeUpsert(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = t(s, dir, "events").filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("event_id"),
        when(col("value") < 10, "low").when(col("value") < 20, "mid")
          .otherwise("high").as("tier"),
        expr("unix_micros(ts) div 86400000000").as("day"))
    val cutoff = 19723L + 15L
    def latest(df: DataFrame): DataFrame = {
      val w = Window.partitionBy("user_id")
        .orderBy(col("us").desc, col("event_id").desc)
      df.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("user_id"), col("tier"), col("us"))
    }
    val snap = latest(e.filter(col("day") < cutoff)).as("s")
    val delta = latest(e.filter(col("day") >= cutoff)).as("d")
    snap.join(delta, col("s.user_id") === col("d.user_id"), "full_outer")
      .select(coalesce(col("s.user_id"), col("d.user_id")).as("user_id"),
        coalesce(col("d.tier"), col("s.tier")).as("tier"),
        coalesce(col("d.us"), col("s.us")).as("as_of_us"),
        when(col("s.tier").isNull, "insert")
          .when(col("d.tier").isNull, "carry")
          .when(col("d.tier") === col("s.tier"), "unchanged")
          .otherwise("update").as("action"))
      .orderBy("user_id")
  }

  /** The sketch scale-path of [[qEvtAudienceOverlap]]: pairwise
    * audience intersections from mergeable per-type HLL sketches via
    * inclusion–exclusion (est(A) + est(B) − est(A∪B), the union being
    * a scalar `hll_union` of two ~4 KB sketches) instead of the exact
    * per-user self-join. At 100 TB the exact pair join reshuffles the
    * full (type, user) incidence; the sketch report needs ONE pass to
    * k·|types| bytes, and new days/partitions merge in for free.
    * Exactly as in q_evt_hll_rolling, the sketch estimate itself
    * never enters the output (it is implementation-defined): the
    * output carries the EXACT pair counts plus the oracle-asserted
    * contract column `hll_inter_ok` = |est − exact| ≤ 5% of the exact
    * union — so sketch accuracy is part of the hash gate while the
    * hash stays engine-portable.
    */
  private def qEvtAudienceHll(s: SparkSession, dir: String): DataFrame = {
    val inc = t(s, dir, "events")
      .select(col("event_type"), col("user_id")).distinct()
    val sk = inc.groupBy("event_type")
      .agg(hll_sketch_agg(col("user_id"), lit(12)).as("sk"),
        count(lit(1)).as("n"))
    val est = sk.as("a")
      .join(sk.as("b"), col("a.event_type") < col("b.event_type"))
      .select(col("a.event_type").as("type_a"), col("b.event_type").as("type_b"),
        col("a.n").as("n_a"), col("b.n").as("n_b"),
        (hll_sketch_estimate(col("a.sk")) + hll_sketch_estimate(col("b.sk")) -
          hll_sketch_estimate(hll_union(col("a.sk"), col("b.sk")))).as("est_inter"))
    val exact = inc.as("x")
      .join(inc.as("y"),
        col("x.user_id") === col("y.user_id") &&
          col("x.event_type") < col("y.event_type"))
      .groupBy(col("x.event_type").as("type_a"), col("y.event_type").as("type_b"))
      .agg(count(lit(1)).as("n_both"))
    est.join(exact, Seq("type_a", "type_b"))
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"), col("n_both"),
        (abs(col("est_inter") - col("n_both")) <=
          lit(0.05) * (col("n_a") + col("n_b") - col("n_both"))).as("hll_inter_ok"))
      .orderBy("type_a", "type_b")
  }

  /** Generated bootstrap-replay SQL: the identical integer hash and
    * integer-CDF weight CASE per replicate, the identical fixed-order
    * double combination (the q_evt_countmin generated-oracle
    * convention).
    */
  private def bootstrapOracle: String = {
    def kCase(b: Int): String = {
      val h = s"(((${bootA(b)} * (event_id % $bootP) + ${bootC(b)}) % $bootP) % 1048576)"
      val whens = bootCdf20.zipWithIndex
        .map { case (thr, k) => s"WHEN $h < $thr THEN $k" }.mkString(" ")
      s"(CASE $whens ELSE 10 END)"
    }
    val repSums = (0 until bootB)
      .map(b => s"    CAST(sum(${kCase(b)} * cents) AS BIGINT) AS s_$b")
      .mkString(",\n")
    val ssD = (0 until bootB).map(b => s"CAST(s_$b AS DOUBLE)").mkString(" + ")
    val ss2D = (0 until bootB)
      .map(b => s"CAST(s_$b AS DOUBLE) * CAST(s_$b AS DOUBLE)").mkString(" + ")
    s"""WITH e AS (
       |  SELECT event_id, CAST(round(value * 100) AS BIGINT) AS cents
       |  FROM events WHERE event_type = 'purchase'),
       |b AS (
       |  SELECT count(*) AS n_purchases, CAST(sum(cents) AS BIGINT) AS point_cents,
       |$repSums
       |  FROM e),
       |m AS (
       |  SELECT n_purchases, point_cents,
       |    ($ssD) / 32.0 AS mean_d,
       |    sqrt((($ss2D) - ($ssD) * ($ssD) / 32.0) / 31.0) AS se_d
       |  FROM b)
       |SELECT n_purchases, point_cents,
       |  CAST(round(mean_d) AS BIGINT) AS boot_mean_cents,
       |  CAST(round(se_d) AS BIGINT) AS boot_se_cents,
       |  CAST(round(mean_d - 1.96 * se_d) AS BIGINT) AS ci_lo_cents,
       |  CAST(round(mean_d + 1.96 * se_d) AS BIGINT) AS ci_hi_cents
       |FROM m""".stripMargin
  }

  // Counter replay, not a verdict: each probed CMS cell is a
  // COUNT(*) over the identical bucket predicate (params literal-
  // shared with graft.functions.CountMin), so the estimate VALUES
  // hash-match — any hash or merge defect in the native aggregate
  // shifts a counter and fails the gate.
  private[queries] val countminOracle: String =
    s"""WITH params AS (SELECT * FROM (VALUES (0, 131, 7), (1, 1031, 911),
       |    (2, 131071, 3571), (3, 524287, 77377)) AS t(j, a, b)),
       |counters AS (
       |  SELECT p.j,
       |    ((p.a * (e.user_id % 1000000007) + p.b) % 1000000007) % $cmsW AS bucket,
       |    count(*) AS c
       |  FROM events e CROSS JOIN params p GROUP BY 1, 2),
       |probes AS (SELECT user_id, count(*) AS n_exact FROM events
       |  WHERE user_id % 13 = 0 GROUP BY 1)
       |SELECT pr.user_id, pr.n_exact, CAST(min(c.c) AS BIGINT) AS est,
       |  (min(c.c) >= pr.n_exact) AS over_ok
       |FROM probes pr CROSS JOIN params p
       |JOIN counters c ON c.j = p.j
       |  AND c.bucket = ((p.a * (pr.user_id % 1000000007) + p.b) % 1000000007) % $cmsW
       |GROUP BY 1, 2 ORDER BY user_id""".stripMargin

  private[queries] val attributionOracle: String =
    """WITH e AS (
      |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
      |         CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events),
      |w AS (
      |  SELECT *,
      |    last_value(CASE WHEN event_type IN ('click','view')
      |                    THEN event_type END IGNORE NULLS) OVER (
      |      PARTITION BY user_id ORDER BY us, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lt_type,
      |    count(CASE WHEN event_type = 'click' THEN 1 END) OVER (
      |      PARTITION BY user_id ORDER BY us, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS n_click,
      |    count(CASE WHEN event_type = 'view' THEN 1 END) OVER (
      |      PARTITION BY user_id ORDER BY us, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS n_view
      |  FROM e),
      |p AS (
      |  SELECT *, n_click + n_view AS n_tot FROM w
      |  WHERE event_type = 'purchase' AND n_click + n_view > 0),
      |a AS (
      |  SELECT
      |    count(CASE WHEN lt_type = 'click' THEN 1 END) AS nlt_c,
      |    CAST(coalesce(sum(CASE WHEN lt_type = 'click' THEN cents ELSE 0 END), 0) AS BIGINT) AS ltc_c,
      |    CAST(sum(CAST(round(1000000.0 * n_click / n_tot) AS BIGINT)) AS BIGINT) AS lin_c,
      |    CAST(sum(CAST(round(cents * 1000000.0 * n_click / n_tot) AS BIGINT)) AS BIGINT) AS linc_c,
      |    count(CASE WHEN lt_type = 'view' THEN 1 END) AS nlt_v,
      |    CAST(coalesce(sum(CASE WHEN lt_type = 'view' THEN cents ELSE 0 END), 0) AS BIGINT) AS ltc_v,
      |    CAST(sum(CAST(round(1000000.0 * n_view / n_tot) AS BIGINT)) AS BIGINT) AS lin_v,
      |    CAST(sum(CAST(round(cents * 1000000.0 * n_view / n_tot) AS BIGINT)) AS BIGINT) AS linc_v
      |  FROM p)
      |SELECT 'click' AS channel, nlt_c AS n_last_touch, ltc_c AS lt_cents,
      |       lin_c AS lin_credit_ppm, linc_c AS lin_cents_ppm FROM a
      |UNION ALL
      |SELECT 'view', nlt_v, ltc_v, lin_v, linc_v FROM a
      |ORDER BY channel""".stripMargin

  val registry: Seq[QueryDef] = Seq(
    QueryDef("q_evt_anova", qEvtAnova,
      """WITH e AS (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS x
        |           FROM events),
        |g AS (
        |  SELECT event_type, count(*) AS n_g, CAST(sum(x) AS BIGINT) AS s_g,
        |         CAST(sum(x * x) AS BIGINT) AS ssq_g
        |  FROM e GROUP BY 1),
        |g2 AS (SELECT *, CAST(round(CAST(s_g AS DOUBLE) * s_g / n_g) AS BIGINT) AS q_g
        |       FROM g),
        |tot AS (
        |  SELECT CAST(sum(n_g) AS BIGINT) AS n, count(*) AS k,
        |         CAST(sum(s_g) AS BIGINT) AS s, CAST(sum(ssq_g) AS BIGINT) AS ssq,
        |         CAST(sum(q_g) AS BIGINT) AS qs
        |  FROM g2),
        |d AS (
        |  SELECT k, n,
        |    qs - CAST(round(CAST(s AS DOUBLE) * s / n) AS BIGINT) AS ssb,
        |    ssq - qs AS ssw
        |  FROM tot)
        |SELECT k, n, ssb, ssw,
        |  CASE WHEN ssw > 0 AND k > 1 THEN
        |    CAST(round(1000.0 * (CAST(ssb AS DOUBLE) / (k - 1))
        |      / (CAST(ssw AS DOUBLE) / (n - k))) AS BIGINT) END AS f_milli,
        |  CASE WHEN ssb + ssw > 0 THEN
        |    CAST(round(1000000.0 * CAST(ssb AS DOUBLE)
        |      / CAST(ssb + ssw AS DOUBLE)) AS BIGINT) END AS eta2_ppm
        |FROM d""".stripMargin),
    QueryDef("q_evt_kruskal", qEvtKruskal,
      """WITH e AS (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v_c
        |           FROM events),
        |bv AS (SELECT v_c, count(*) AS t FROM e GROUP BY 1),
        |rk AS (SELECT v_c,
        |    2 * (sum(t) OVER (ORDER BY v_c
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - t) + t + 1 AS r2
        |  FROM bv),
        |gv AS (SELECT event_type, v_c, count(*) AS cnt FROM e GROUP BY 1, 2),
        |g AS (SELECT event_type, CAST(sum(cnt) AS BIGINT) AS n_i,
        |        CAST(sum(cnt * r2) AS BIGINT) AS r2_i
        |      FROM gv JOIN rk USING (v_c) GROUP BY 1),
        |ties AS (SELECT sum(CAST(t AS HUGEINT)*t*t - t) AS tie_sum FROM bv),
        |tot AS (SELECT CAST(sum(n_i) AS BIGINT) AS n, count(*) AS k FROM g),
        |terms AS (
        |  SELECT g.*, n, k,
        |    CAST(round(CAST(r2_i - n_i * (n + 1) AS DOUBLE)
        |      * (r2_i - n_i * (n + 1)) / n_i) AS BIGINT) AS q
        |  FROM g, tot),
        |h AS (
        |  SELECT min(n) AS n, min(k) AS k,
        |    CAST(round(1000.0 * 3.0 * CAST(sum(q) AS DOUBLE)
        |      / (CAST(min(n) AS DOUBLE) * (min(n) + 1))) AS BIGINT) AS h_milli,
        |    CASE WHEN 1.0 - CAST((SELECT tie_sum FROM ties) AS DOUBLE)
        |           / (CAST(min(n) AS DOUBLE) * min(n) * min(n) - min(n)) > 0.0
        |      THEN CAST(round(1000.0 * (3.0 * CAST(sum(q) AS DOUBLE)
        |        / (CAST(min(n) AS DOUBLE) * (min(n) + 1)))
        |        / (1.0 - CAST((SELECT tie_sum FROM ties) AS DOUBLE)
        |           / (CAST(min(n) AS DOUBLE) * min(n) * min(n) - min(n))))
        |        AS BIGINT) END AS h_corr_milli
        |  FROM terms)
        |SELECT event_type, n_i,
        |  CAST(round(1000.0 * CAST(r2_i AS DOUBLE) / (2.0 * n_i)) AS BIGINT)
        |    AS mean_rank_milli,
        |  h_milli, h_corr_milli
        |FROM g, h ORDER BY event_type""".stripMargin),
    QueryDef("q_evt_wasserstein", qEvtWasserstein,
      """WITH pairs(cohort_a, cohort_b) AS (VALUES ('view', 'click'), ('purchase', 'error')),
        |e AS (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v_c FROM events),
        |grp AS (
        |  SELECT cohort_a, cohort_b, v_c,
        |    sum(CASE WHEN event_type = cohort_a THEN 1 ELSE 0 END) AS ca,
        |    sum(CASE WHEN event_type = cohort_b THEN 1 ELSE 0 END) AS cb
        |  FROM pairs JOIN e ON event_type IN (cohort_a, cohort_b)
        |  GROUP BY 1, 2, 3),
        |ecdf AS (
        |  SELECT cohort_a, cohort_b, v_c,
        |    sum(ca) OVER w AS cum_a, sum(cb) OVER w AS cum_b,
        |    coalesce(lead(v_c) OVER (PARTITION BY cohort_a, cohort_b ORDER BY v_c) - v_c, 0) AS gap,
        |    sum(ca) OVER (PARTITION BY cohort_a, cohort_b) AS n_a,
        |    sum(cb) OVER (PARTITION BY cohort_a, cohort_b) AS n_b
        |  FROM grp
        |  WINDOW w AS (PARTITION BY cohort_a, cohort_b ORDER BY v_c
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT cohort_a, cohort_b,
        |  CAST(min(n_a) AS BIGINT) AS n_a, CAST(min(n_b) AS BIGINT) AS n_b,
        |  CASE WHEN min(n_a) = 0 OR min(n_b) = 0 THEN NULL
        |       ELSE CAST(round(1000.0 * (CAST(sum(abs(cum_a * n_b - cum_b * n_a) * gap) AS DOUBLE)
        |         / (CAST(min(n_a) AS DOUBLE) * min(n_b)))) AS BIGINT)
        |  END AS w1_millicents
        |FROM ecdf
        |GROUP BY 1, 2 ORDER BY 1""".stripMargin),
    QueryDef("q_evt_did", qEvtDid,
      """WITH e AS (
        |  SELECT ((user_id * 2654435761) % 4294967296) % 2 AS treat,
        |    CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00' THEN 1 ELSE 0 END AS post,
        |    CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |a AS (
        |  SELECT
        |    CAST(sum(CASE WHEN treat = 0 AND post = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pre_ctl,
        |    CAST(sum(CASE WHEN treat = 0 AND post = 0 THEN cents ELSE 0 END) AS BIGINT) AS s_pre_ctl,
        |    CAST(sum(CASE WHEN treat = 0 AND post = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_post_ctl,
        |    CAST(sum(CASE WHEN treat = 0 AND post = 1 THEN cents ELSE 0 END) AS BIGINT) AS s_post_ctl,
        |    CAST(sum(CASE WHEN treat = 1 AND post = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pre_trt,
        |    CAST(sum(CASE WHEN treat = 1 AND post = 0 THEN cents ELSE 0 END) AS BIGINT) AS s_pre_trt,
        |    CAST(sum(CASE WHEN treat = 1 AND post = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_post_trt,
        |    CAST(sum(CASE WHEN treat = 1 AND post = 1 THEN cents ELSE 0 END) AS BIGINT) AS s_post_trt
        |  FROM e)
        |SELECT n_pre_ctl, n_post_ctl, n_pre_trt, n_post_trt,
        |  CASE WHEN n_pre_ctl = 0 OR n_post_ctl = 0 OR n_pre_trt = 0 OR n_post_trt = 0 THEN NULL
        |    ELSE CAST(round(1000.0 * (CAST(s_pre_ctl AS DOUBLE) / n_pre_ctl)) AS BIGINT) END AS m_pre_ctl_milli,
        |  CASE WHEN n_pre_ctl = 0 OR n_post_ctl = 0 OR n_pre_trt = 0 OR n_post_trt = 0 THEN NULL
        |    ELSE CAST(round(1000.0 * (CAST(s_post_ctl AS DOUBLE) / n_post_ctl)) AS BIGINT) END AS m_post_ctl_milli,
        |  CASE WHEN n_pre_ctl = 0 OR n_post_ctl = 0 OR n_pre_trt = 0 OR n_post_trt = 0 THEN NULL
        |    ELSE CAST(round(1000.0 * (CAST(s_pre_trt AS DOUBLE) / n_pre_trt)) AS BIGINT) END AS m_pre_trt_milli,
        |  CASE WHEN n_pre_ctl = 0 OR n_post_ctl = 0 OR n_pre_trt = 0 OR n_post_trt = 0 THEN NULL
        |    ELSE CAST(round(1000.0 * (CAST(s_post_trt AS DOUBLE) / n_post_trt)) AS BIGINT) END AS m_post_trt_milli,
        |  CASE WHEN n_pre_ctl = 0 OR n_post_ctl = 0 OR n_pre_trt = 0 OR n_post_trt = 0 THEN NULL
        |    ELSE CAST(round(1000.0 * ((CAST(s_post_trt AS DOUBLE) / n_post_trt - CAST(s_pre_trt AS DOUBLE) / n_pre_trt)
        |      - (CAST(s_post_ctl AS DOUBLE) / n_post_ctl - CAST(s_pre_ctl AS DOUBLE) / n_pre_ctl)))
        |      AS BIGINT) END AS did_milli
        |FROM a""".stripMargin),
    QueryDef("q_evt_winsor", qEvtWinsor,
      """WITH e AS (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
        |           FROM events),
        |sup AS (
        |  SELECT event_type, cents, count(*) AS cnt FROM e GROUP BY 1, 2),
        |c AS (
        |  SELECT event_type, cents,
        |    sum(cnt) OVER (PARTITION BY event_type ORDER BY cents
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(cnt) OVER (PARTITION BY event_type) AS n_t
        |  FROM sup),
        |b AS (
        |  SELECT event_type,
        |    min(CASE WHEN cum * 100 >= n_t THEN cents END) AS lo_cents,
        |    min(CASE WHEN cum * 100 >= n_t * 99 THEN cents END) AS hi_cents
        |  FROM c GROUP BY 1)
        |SELECT e.event_type, count(*) AS n, min(lo_cents) AS lo_cents,
        |  min(hi_cents) AS hi_cents,
        |  CAST(round(1000.0 * CAST(sum(cents) AS DOUBLE) / count(*)) AS BIGINT)
        |    AS mean_milli,
        |  CAST(round(1000.0 * CAST(sum(greatest(lo_cents, least(hi_cents, cents)))
        |    AS DOUBLE) / count(*)) AS BIGINT) AS winsor_mean_milli
        |FROM e JOIN b ON e.event_type = b.event_type
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    QueryDef("q_evt_psi", qEvtPsi, psiOracle(emissionLaw = false)),
    QueryDef("q_evt_bootstrap", qEvtBootstrap, bootstrapOracle),
    QueryDef("q_evt_spearman", qEvtSpearman,
      """WITH u AS (
        |  SELECT user_id, count(*) AS x,
        |         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
        |  FROM events GROUP BY 1),
        |r AS (SELECT x, y,
        |    2 * rank() OVER (ORDER BY x) + count(*) OVER (PARTITION BY x) - 1 AS rx,
        |    2 * rank() OVER (ORDER BY y) + count(*) OVER (PARTITION BY y) - 1 AS ry
        |  FROM u),
        |p AS (SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS sx,
        |        CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x*y) AS BIGINT) AS sxy,
        |        CAST(sum(x*x) AS BIGINT) AS sxx, CAST(sum(y*y) AS BIGINT) AS syy
        |      FROM r),
        |sp AS (SELECT count(*) AS n, CAST(sum(rx) AS BIGINT) AS sx,
        |        CAST(sum(ry) AS BIGINT) AS sy, CAST(sum(rx*ry) AS BIGINT) AS sxy,
        |        CAST(sum(rx*rx) AS BIGINT) AS sxx, CAST(sum(ry*ry) AS BIGINT) AS syy
        |      FROM r)
        |SELECT p.n AS n_users,
        |  CAST(round(1000000.0 *
        |    (CAST(p.n AS DOUBLE)*CAST(p.sxy AS DOUBLE) - CAST(p.sx AS DOUBLE)*CAST(p.sy AS DOUBLE)) /
        |    sqrt((CAST(p.n AS DOUBLE)*CAST(p.sxx AS DOUBLE) - CAST(p.sx AS DOUBLE)*CAST(p.sx AS DOUBLE)) *
        |         (CAST(p.n AS DOUBLE)*CAST(p.syy AS DOUBLE) - CAST(p.sy AS DOUBLE)*CAST(p.sy AS DOUBLE))))
        |    AS BIGINT) AS pearson_ppm,
        |  CAST(round(1000000.0 *
        |    (CAST(sp.n AS DOUBLE)*CAST(sp.sxy AS DOUBLE) - CAST(sp.sx AS DOUBLE)*CAST(sp.sy AS DOUBLE)) /
        |    sqrt((CAST(sp.n AS DOUBLE)*CAST(sp.sxx AS DOUBLE) - CAST(sp.sx AS DOUBLE)*CAST(sp.sx AS DOUBLE)) *
        |         (CAST(sp.n AS DOUBLE)*CAST(sp.syy AS DOUBLE) - CAST(sp.sy AS DOUBLE)*CAST(sp.sy AS DOUBLE))))
        |    AS BIGINT) AS spearman_ppm
        |FROM p, sp""".stripMargin),
    QueryDef("q_evt_entropy_rate", qEvtEntropyRate,
      """WITH t0 AS (
        |  SELECT event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events),
        |cells AS (SELECT prev, event_type, count(*) AS n_ij
        |          FROM t0 WHERE prev IS NOT NULL GROUP BY 1, 2),
        |rows_ AS (SELECT prev, CAST(sum(n_ij) AS BIGINT) AS n_i
        |          FROM cells GROUP BY 1),
        |per AS (
        |  SELECT cells.prev, CAST(min(n_i) AS BIGINT) AS n_out,
        |    CAST(sum(CAST(round(-1e9 * (CAST(n_ij AS DOUBLE) / n_i) *
        |      ln(CAST(n_ij AS DOUBLE) / n_i)) AS BIGINT)) AS BIGINT) AS h_nnat
        |  FROM cells JOIN rows_ USING (prev) GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_out) AS BIGINT) AS t_tot,
        |               CAST(sum(n_out * h_nnat) AS BIGINT) AS wh FROM per)
        |SELECT prev AS event_type, n_out, h_nnat FROM per
        |UNION ALL
        |SELECT '__RATE__', t_tot,
        |  CAST(round(CAST(wh AS DOUBLE) / t_tot) AS BIGINT) FROM tot
        |ORDER BY event_type""".stripMargin),
    QueryDef("q_eval_lift", qEvalLift,
      """WITH u AS (
        |  SELECT user_id, count(*) AS n_events,
        |         max(CASE WHEN event_type = 'purchase' AND value >= 200.0
        |             THEN 1 ELSE 0 END) AS pos
        |  FROM events GROUP BY 1),
        |r AS (SELECT pos,
        |        ntile(10) OVER (ORDER BY n_events DESC, user_id) AS decile
        |      FROM u),
        |bins AS (SELECT decile, count(*) AS n, sum(pos) AS n_pos
        |         FROM r GROUP BY 1),
        |c AS (SELECT decile, n, n_pos,
        |        sum(n) OVER w AS cum_n, sum(n_pos) OVER w AS cum_pos,
        |        sum(n) OVER () AS n_tot, sum(n_pos) OVER () AS p_tot
        |      FROM bins
        |      WINDOW w AS (ORDER BY decile
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT decile, n, CAST(n_pos AS BIGINT) AS n_pos,
        |  CAST(floor(1000000 * cum_pos / p_tot) AS BIGINT) AS capture_ppm,
        |  CAST(round(1000000.0 * (CAST(cum_pos AS DOUBLE) / p_tot) /
        |    (CAST(cum_n AS DOUBLE) / n_tot)) AS BIGINT) AS lift_ppm
        |FROM c ORDER BY decile""".stripMargin),
    QueryDef("q_eval_auc", qEvalAuc,
      """WITH u AS (
        |  SELECT user_id, count(*) AS n_events,
        |         count(DISTINCT CAST(ts AS DATE)) AS active_days,
        |         max(CASE WHEN event_type = 'purchase' AND value >= 200.0
        |             THEN 1 ELSE 0 END) AS pos
        |  FROM events GROUP BY 1),
        |feat AS (
        |  SELECT 'n_events' AS score_feature, n_events AS score, pos FROM u
        |  UNION ALL
        |  SELECT 'active_days', active_days, pos FROM u),
        |grp AS (
        |  SELECT score_feature, score, sum(pos) AS p, sum(1 - pos) AS q
        |  FROM feat GROUP BY 1, 2),
        |cum AS (
        |  SELECT score_feature, p, q,
        |    sum(q) OVER (PARTITION BY score_feature ORDER BY score
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - q AS below_q
        |  FROM grp)
        |SELECT score_feature, CAST(sum(p) AS BIGINT) AS n_pos,
        |  CAST(sum(q) AS BIGINT) AS n_neg,
        |  CAST(round(1000000.0 * (CAST(sum(p * (2 * below_q + q)) AS DOUBLE)
        |    / (2.0 * sum(p) * sum(q)))) AS BIGINT) AS auc_ppm
        |FROM cum GROUP BY 1 ORDER BY 1""".stripMargin),
    QueryDef("q_evt_mi", qEvtMi,
      """WITH e AS (SELECT event_type, hour(ts) AS hr FROM events),
        |cells AS (SELECT event_type, hr, count(*) AS n_obs FROM e GROUP BY 1, 2),
        |rm AS (SELECT event_type, count(*) AS n_x FROM e GROUP BY 1),
        |cm AS (SELECT hr, count(*) AS n_y FROM e GROUP BY 1),
        |tot AS (SELECT count(*) AS n_tot FROM e),
        |grid AS (
        |  SELECT rm.event_type, cm.hr, n_x, n_y, n_tot,
        |         coalesce(n_obs, 0) AS n_xy
        |  FROM rm CROSS JOIN cm CROSS JOIN tot
        |  LEFT JOIN cells ON cells.event_type = rm.event_type
        |                 AND cells.hr = cm.hr),
        |terms AS (
        |  SELECT event_type, n_xy,
        |    CASE WHEN n_xy = 0 THEN 0 ELSE
        |      CAST(round(1e9 * (CAST(n_xy AS DOUBLE) / n_tot) *
        |        ln(CAST(n_xy AS DOUBLE) * n_tot / (CAST(n_x AS DOUBLE) * n_y)))
        |        AS BIGINT) END AS mi_nnat,
        |    CAST(round(1e6 * pow(n_xy - CAST(n_x AS DOUBLE) * n_y / n_tot, 2)
        |      / (CAST(n_x AS DOUBLE) * n_y / n_tot)) AS BIGINT) AS chi2_micro
        |  FROM grid)
        |SELECT event_type, CAST(sum(n_xy) AS BIGINT) AS n, count(*) AS n_cells,
        |  CAST(sum(mi_nnat) AS BIGINT) AS mi_nnat,
        |  CAST(sum(chi2_micro) AS BIGINT) AS chi2_micro
        |FROM terms GROUP BY 1 ORDER BY 1""".stripMargin),
    QueryDef("q_evt_ks", qEvtKs,
      """WITH pairs(cohort_a, cohort_b) AS (VALUES ('view', 'click'), ('purchase', 'error')),
        |e AS (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v_c FROM events),
        |grp AS (
        |  SELECT cohort_a, cohort_b, v_c,
        |    sum(CASE WHEN event_type = cohort_a THEN 1 ELSE 0 END) AS ca,
        |    sum(CASE WHEN event_type = cohort_b THEN 1 ELSE 0 END) AS cb
        |  FROM pairs JOIN e ON event_type IN (cohort_a, cohort_b)
        |  GROUP BY 1, 2, 3),
        |ecdf AS (
        |  SELECT cohort_a, cohort_b, v_c,
        |    sum(ca) OVER w AS cum_a, sum(cb) OVER w AS cum_b,
        |    sum(ca) OVER (PARTITION BY cohort_a, cohort_b) AS n_a,
        |    sum(cb) OVER (PARTITION BY cohort_a, cohort_b) AS n_b
        |  FROM grp
        |  WINDOW w AS (PARTITION BY cohort_a, cohort_b ORDER BY v_c
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |d AS (SELECT *, abs(cum_a * n_b - cum_b * n_a) AS d_num FROM ecdf),
        |dm AS (SELECT cohort_a, cohort_b, max(d_num) AS d_max
        |       FROM d GROUP BY 1, 2)
        |SELECT d.cohort_a, d.cohort_b,
        |  CAST(min(n_a) AS BIGINT) AS n_a, CAST(min(n_b) AS BIGINT) AS n_b,
        |  CASE WHEN min(n_a) = 0 OR min(n_b) = 0 THEN NULL
        |       ELSE CAST(round(1000000.0 * (CAST(min(d_max) AS DOUBLE)
        |         / (CAST(min(n_a) AS DOUBLE) * min(n_b)))) AS BIGINT)
        |  END AS d_ppm,
        |  min(v_c) AS at_value_cents
        |FROM d JOIN dm ON d.cohort_a = dm.cohort_a AND d.cohort_b = dm.cohort_b
        |WHERE d_num = d_max
        |GROUP BY 1, 2 ORDER BY 1""".stripMargin),
    QueryDef("q_evt_survival", qEvtSurvival,
      """WITH u AS (
        |  SELECT user_id, min(epoch_us(ts)) AS first_us,
        |         min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS buy_us
        |  FROM events GROUP BY 1),
        |lf AS (
        |  SELECT CAST(floor((buy_us - first_us) / 3600000000.0) AS BIGINT) AS t_h
        |  FROM u),
        |cls AS (SELECT t_h, (t_h IS NOT NULL AND t_h <= 72) AS died FROM lf),
        |cens AS (SELECT count(*) AS n_c FROM cls WHERE NOT died),
        |ev AS (SELECT t_h, count(*) AS d FROM cls WHERE died GROUP BY 1),
        |risk AS (
        |  SELECT t_h, d,
        |    (SELECT n_c FROM cens) + sum(d) OVER (ORDER BY t_h DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_risk
        |  FROM ev)
        |SELECT t_h AS t_hours, CAST(n_risk AS BIGINT) AS n_risk,
        |  CAST(d AS BIGINT) AS n_death,
        |  round(exp(sum(ln(1 - CAST(d AS DOUBLE) / n_risk)) OVER (ORDER BY t_h
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6) AS surv
        |FROM risk ORDER BY t_hours""".stripMargin),
    QueryDef("q_evt_stickiness", qEvtStickiness,
      """WITH e AS (SELECT strftime(ts, '%Y-%m') AS month,
        |    strftime(ts, '%Y-%m-%d') AS day, user_id FROM events),
        |daily AS (SELECT month, day, CAST(count(DISTINCT user_id) AS BIGINT) AS dau
        |  FROM e GROUP BY 1, 2),
        |dm AS (SELECT month, CAST(count(*) AS BIGINT) AS n_days,
        |    CAST(sum(dau) AS BIGINT) AS sum_dau, max(dau) AS peak_dau
        |  FROM daily GROUP BY 1),
        |mm AS (SELECT month, CAST(count(DISTINCT user_id) AS BIGINT) AS mau
        |  FROM e GROUP BY 1)
        |SELECT dm.month, n_days, sum_dau, peak_dau, mau,
        |  CAST(floor(1000000 * sum_dau / (n_days * mau)) AS BIGINT) AS stickiness_ppm
        |FROM dm JOIN mm ON dm.month = mm.month ORDER BY dm.month""".stripMargin),
    QueryDef("q_evt_benford", qEvtBenford,
      """WITH c AS (SELECT CAST(round(value * 100) AS BIGINT) AS cents FROM events
        |  WHERE CAST(round(value * 100) AS BIGINT) > 0),
        |d AS (SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS BIGINT) AS digit FROM c),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM d),
        |g AS (SELECT digit, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1),
        |e(digit, benford_ppm) AS (VALUES (1, 301030), (2, 176091), (3, 124939),
        |  (4, 96910), (5, 79181), (6, 66947), (7, 57992), (8, 51153), (9, 45757))
        |SELECT g.digit, g.n,
        |  CAST(floor(1000000 * g.n / n_total) AS BIGINT) AS share_ppm,
        |  CAST(e.benford_ppm AS BIGINT) AS benford_ppm,
        |  CAST(abs(floor(1000000 * g.n / n_total) - e.benford_ppm) AS BIGINT) AS dev_ppm
        |FROM g JOIN e ON g.digit = e.digit CROSS JOIN tot
        |ORDER BY g.digit""".stripMargin),
    QueryDef("q_evt_gini", qEvtGini,
      """WITH pu AS (SELECT user_id, CAST(count(*) AS BIGINT) AS x FROM events GROUP BY 1),
        |r AS (SELECT x, CAST(row_number() OVER (ORDER BY x, user_id) AS BIGINT) AS i FROM pu),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM pu),
        |s AS (SELECT max(n.n) AS n, CAST(sum(x) AS BIGINT) AS sx,
        |    CAST(sum(i * x) AS BIGINT) AS six,
        |    CAST(sum(CASE WHEN i * 10 > n.n * 9 THEN x ELSE 0 END) AS BIGINT)
        |      AS top_decile_events
        |  FROM r, n)
        |SELECT n, sx AS n_events,
        |  CAST(floor(1000000.0 * (2 * six - (n + 1) * sx) / (n * sx)) AS BIGINT) AS gini_ppm,
        |  top_decile_events,
        |  CAST(floor(1000000.0 * top_decile_events / sx) AS BIGINT) AS top_decile_ppm
        |FROM s""".stripMargin),
    QueryDef("q_evt_cuped", qEvtCuped,
      """WITH mid AS (SELECT (min(epoch_us(ts)) + max(epoch_us(ts))) // 2 AS mid_us FROM events),
        |pu AS (SELECT user_id,
        |    CAST(sum(CASE WHEN epoch_us(ts) < mid_us THEN CAST(floor(value) AS BIGINT) ELSE 0 END) AS BIGINT) AS x,
        |    CAST(sum(CASE WHEN epoch_us(ts) >= mid_us THEN CAST(floor(value) AS BIGINT) ELSE 0 END) AS BIGINT) AS y,
        |    ((user_id * 2654435761) % 4294967296) % 2 AS variant
        |  FROM events, mid GROUP BY user_id, mid_us),
        |pool AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx,
        |    CAST(sum(y * y) AS BIGINT) AS syy FROM pu),
        |th AS (SELECT n, sx, sy,
        |    (n * sxy - sx * sy) / (n * sxx - sx * sx) AS theta,
        |    CAST(floor(1000000.0 * ((n * sxy - sx * sy) *
        |      ((n * sxy - sx * sy) /
        |        (CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE)))))
        |      AS BIGINT) AS var_red_ppm
        |  FROM pool),
        |v AS (SELECT variant, CAST(count(*) AS BIGINT) AS n_users,
        |    CAST(sum(x) AS BIGINT) AS sum_x, CAST(sum(y) AS BIGINT) AS sum_y
        |  FROM pu GROUP BY variant)
        |SELECT variant, n_users, sum_x, sum_y,
        |  round(sum_y / n_users, 6) AS mean_y,
        |  round(sum_y / n_users - theta * (sum_x / n_users - sx / n), 6) AS mean_y_cuped,
        |  round(theta, 6) AS theta, var_red_ppm
        |FROM v, th ORDER BY variant""".stripMargin),
    // Typed-extraction values replay via DuckDB's JSON path; the
    // variant SHAPE audit is engine-side reality pinned TRUE (the
    // round-9 multimodal verdict pattern).
    QueryDef("q_evt_variant", qEvtVariant,
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  min(CAST(json_extract(props, '$.k') AS BIGINT)) AS min_k,
        |  max(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k,
        |  count(DISTINCT CAST(json_extract(props, '$.k') AS BIGINT)) AS ndv_k,
        |  TRUE AS shape_ok
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),
    QueryDef("q_evt_srm", qEvtSrm,
      """WITH u AS (SELECT event_type, user_id FROM (SELECT DISTINCT event_type, user_id FROM events)
        |  UNION ALL SELECT '_all', user_id FROM (SELECT DISTINCT user_id FROM events)),
        |v AS (SELECT event_type,
        |    ((user_id * 2654435761) % 4294967296) % 2 AS variant FROM u),
        |c AS (SELECT event_type,
        |    sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS n_a,
        |    sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS n_b FROM v GROUP BY 1)
        |SELECT event_type, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
        |  CAST(floor(1000000 * (n_a - n_b) * (n_a - n_b) / (n_a + n_b)) AS BIGINT) AS chi2_ppm,
        |  ((n_a - n_b) * (n_a - n_b) * 1000000 > 3841459 * (n_a + n_b)) AS srm
        |FROM c ORDER BY event_type""".stripMargin),
    QueryDef("q_evt_countmin", qEvtCountmin, countminOracle),
    QueryDef("q_evt_gap_fill", qEvtGapFill,
      """WITH hourly AS (
        |  SELECT event_type, epoch_us(ts) // 3600000000 AS h,
        |         count(*) AS n,
        |         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM events GROUP BY 1, 2),
        |grid AS (
        |  SELECT event_type, unnest(generate_series(min(h), max(h))) AS h
        |  FROM hourly GROUP BY event_type)
        |SELECT g.event_type, g.h, coalesce(hourly.n, 0) AS n,
        |  last_value(hourly.cents IGNORE NULLS) OVER (
        |    PARTITION BY g.event_type ORDER BY g.h
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cents_ffill,
        |  hourly.cents IS NULL AS filled
        |FROM grid g LEFT JOIN hourly
        |  ON g.event_type = hourly.event_type AND g.h = hourly.h
        |ORDER BY g.event_type, g.h""".stripMargin),
    QueryDef("q_evt_acf", qEvtAcf,
      """WITH hourly AS (
        |  SELECT epoch_us(ts) // 3600000000 AS h, count(*) AS y
        |  FROM events GROUP BY 1),
        |pairs AS (
        |  SELECT l.lag, a.y AS x, b.y AS y
        |  FROM (VALUES (1), (2), (3), (6), (12), (24)) l(lag)
        |  CROSS JOIN hourly a JOIN hourly b ON b.h = a.h + l.lag),
        |m AS (
        |  SELECT lag, count(*) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * y) AS BIGINT) AS sxy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx,
        |    CAST(sum(y * y) AS BIGINT) AS syy
        |  FROM pairs GROUP BY lag)
        |SELECT CAST(lag AS INT) AS lag, n,
        |  CAST(round(1000000.0 * (n * sxy - sx * sy) /
        |    sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
        |         * CAST(n * syy - sy * sy AS DOUBLE))) AS BIGINT) AS r_ppm
        |FROM m ORDER BY lag""".stripMargin),
    QueryDef("q_evt_attribution", qEvtAttribution, attributionOracle),
    QueryDef("q_evt_merge_upsert", qEvtMergeUpsert,
      """WITH p AS (
        |  SELECT user_id, epoch_us(ts) AS us, event_id,
        |    CASE WHEN value < 10 THEN 'low' WHEN value < 20 THEN 'mid'
        |         ELSE 'high' END AS tier,
        |    epoch_us(ts) // 86400000000 AS day
        |  FROM events WHERE event_type = 'purchase'),
        |snap AS (SELECT user_id, tier, us FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id
        |    ORDER BY us DESC, event_id DESC) AS rn
        |  FROM p WHERE day < 19738) WHERE rn = 1),
        |delta AS (SELECT user_id, tier, us FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id
        |    ORDER BY us DESC, event_id DESC) AS rn
        |  FROM p WHERE day >= 19738) WHERE rn = 1)
        |SELECT coalesce(s.user_id, d.user_id) AS user_id,
        |  coalesce(d.tier, s.tier) AS tier,
        |  coalesce(d.us, s.us) AS as_of_us,
        |  CASE WHEN s.tier IS NULL THEN 'insert'
        |       WHEN d.tier IS NULL THEN 'carry'
        |       WHEN d.tier = s.tier THEN 'unchanged'
        |       ELSE 'update' END AS action
        |FROM snap s FULL OUTER JOIN delta d ON s.user_id = d.user_id
        |ORDER BY user_id""".stripMargin),
    QueryDef("q_evt_audience_hll", qEvtAudienceHll,
      """WITH inc AS (SELECT DISTINCT event_type, user_id FROM events),
        |sz AS (SELECT event_type, count(*) AS n_users FROM inc GROUP BY 1),
        |b AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    count(*) AS n_both
        |  FROM inc a JOIN inc b
        |    ON a.user_id = b.user_id AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT type_a, type_b, s1.n_users AS n_a, s2.n_users AS n_b, n_both,
        |  TRUE AS hll_inter_ok
        |FROM b JOIN sz s1 ON s1.event_type = type_a
        |       JOIN sz s2 ON s2.event_type = type_b
        |ORDER BY type_a, type_b""".stripMargin),
    QueryDef("q_evt_concurrency", qEvtConcurrency,
      """WITH iv AS (
        |  SELECT epoch_us(ts) AS st, epoch_us(ts) + 300000000 AS en FROM events),
        |dd AS (
        |  SELECT st, en, unnest(range(st // 86400000000,
        |    (en - 1) // 86400000000 + 1)) AS day
        |  FROM iv),
        |pts AS (
        |  SELECT day, greatest(st, day * 86400000000) AS us, 1 AS delta FROM dd
        |  UNION ALL
        |  SELECT day, least(en, (day + 1) * 86400000000) AS us, -1 AS delta FROM dd),
        |c AS (
        |  SELECT day, us, CAST(sum(delta) OVER (PARTITION BY day ORDER BY us, delta
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS conc
        |  FROM pts),
        |m AS (SELECT *, max(conc) OVER (PARTITION BY day) AS mx FROM c)
        |SELECT day, max(conc) AS peak_concurrent, min(us) AS peak_us
        |FROM m WHERE conc = mx GROUP BY day ORDER BY day""".stripMargin),
    QueryDef("q_evt_scd2", qEvtScd2,
      """WITH p AS (
        |  SELECT user_id, epoch_us(ts) AS us, event_id,
        |    CASE WHEN value < 10 THEN 'low' WHEN value < 20 THEN 'mid'
        |         ELSE 'high' END AS tier
        |  FROM events WHERE event_type = 'purchase'),
        |r AS (
        |  SELECT *, CASE WHEN lag(tier) OVER w IS NULL
        |                   OR tier <> lag(tier) OVER w THEN 1 ELSE 0 END AS chg
        |  FROM p WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |v AS (
        |  SELECT *, CAST(sum(chg) OVER (PARTITION BY user_id ORDER BY us, event_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS version FROM r),
        |g AS (
        |  SELECT user_id, version, min(tier) AS tier, min(us) AS valid_from_us,
        |    count(*) AS n_events
        |  FROM v GROUP BY user_id, version)
        |SELECT user_id, version, tier, valid_from_us,
        |  lead(valid_from_us) OVER w2 AS valid_to_us,
        |  (lead(valid_from_us) OVER w2 IS NULL) AS is_current,
        |  CAST(n_events AS BIGINT) AS n_events
        |FROM g WINDOW w2 AS (PARTITION BY user_id ORDER BY version)
        |ORDER BY user_id, version""".stripMargin),
    QueryDef("q_evt_top_paths", qEvtTopPaths,
      """WITH j AS (
        |  SELECT user_id,
        |    string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id) AS journey
        |  FROM events GROUP BY user_id)
        |SELECT substr(journey, 1, 5) AS path_prefix, count(*) AS n_users,
        |  CAST(sum(CASE WHEN journey LIKE '%p%' THEN 1 ELSE 0 END) AS BIGINT) AS n_converted
        |FROM j GROUP BY 1 ORDER BY n_users DESC, path_prefix LIMIT 20""".stripMargin),
    QueryDef("q_evt_cohort_ltv", qEvtCohortLtv,
      """WITH o AS (SELECT o_custkey,
        |    year(o_orderdate) * 12 + month(o_orderdate) - 1 AS m,
        |    CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS rev_cents
        |  FROM orders),
        |f AS (SELECT o_custkey, min(m) AS m0 FROM o GROUP BY 1),
        |tri AS (SELECT printf('%04d-%02d', m0 // 12, m0 % 12 + 1) AS cohort,
        |    CAST(m - m0 AS BIGINT) AS age_months,
        |    count(DISTINCT o.o_custkey) AS n_custs, count(*) AS n_orders,
        |    CAST(sum(rev_cents) AS BIGINT) AS rev_cents
        |  FROM o JOIN f USING (o_custkey) GROUP BY 1, 2)
        |SELECT cohort, age_months, n_custs, n_orders, rev_cents,
        |  CAST(sum(rev_cents) OVER (PARTITION BY cohort ORDER BY age_months
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_rev_cents
        |FROM tri ORDER BY cohort, age_months""".stripMargin),
    QueryDef("q_evt_audience_overlap", qEvtAudienceOverlap,
      """WITH inc AS (SELECT DISTINCT event_type, user_id FROM events),
        |sz AS (SELECT event_type, count(*) AS n_users FROM inc GROUP BY 1),
        |b AS (SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS n_both
        |  FROM inc a JOIN inc b
        |    ON a.user_id = b.user_id AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT type_a, type_b, s1.n_users AS n_a, s2.n_users AS n_b, n_both,
        |  CAST(floor(10000 * n_both / (s1.n_users + s2.n_users - n_both)) AS BIGINT)
        |    AS jac_myriad
        |FROM b JOIN sz s1 ON s1.event_type = type_a
        |       JOIN sz s2 ON s2.event_type = type_b
        |ORDER BY type_a, type_b""".stripMargin),
    QueryDef("q_evt_interarrival", qEvtInterarrival,
      """WITH g AS (SELECT epoch_us(ts) -
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
        |  FROM events)
        |SELECT CAST(length(bin(gap_us)) - 1 AS INTEGER) AS bucket,
        |  count(*) AS n_gaps, min(gap_us) AS min_gap_us, max(gap_us) AS max_gap_us,
        |  CAST(sum(gap_us) AS BIGINT) AS sum_gap_us
        |FROM g WHERE gap_us IS NOT NULL
        |GROUP BY 1 ORDER BY bucket""".stripMargin),
    QueryDef("q_evt_seasonality", qEvtSeasonality,
      """WITH c AS (
        |  SELECT (CAST(ts AS DATE) - DATE '1970-01-01') % 7 AS dow_idx,
        |    CAST(hour(ts) AS INTEGER) AS hour, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c)
        |SELECT CAST(dow_idx AS INTEGER) AS dow_idx, hour, n,
        |  CAST(floor(10000 * n / total) AS BIGINT) AS share_myriad,
        |  row_number() OVER (ORDER BY n DESC, dow_idx, hour) = 1 AS is_peak
        |FROM c, t ORDER BY dow_idx, hour""".stripMargin),
    QueryDef("q_evt_cusum", qEvtCusum,
      """WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |s AS (SELECT event_type, day, n,
        |    count(*) OVER (PARTITION BY event_type) AS n_days,
        |    CAST(sum(n) OVER (PARTITION BY event_type) AS BIGINT) AS total
        |  FROM d),
        |c1 AS (SELECT event_type, day, n_days, total,
        |    CAST(sum(n_days * n - total) OVER
        |      (PARTITION BY event_type ORDER BY day
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS p
        |  FROM s),
        |c2 AS (SELECT event_type, day, n_days, total, p,
        |    CAST(min(least(p, 0)) OVER
        |      (PARTITION BY event_type ORDER BY day
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS minp
        |  FROM c1),
        |r AS (SELECT event_type, day, n_days, total, p - minp AS cusum,
        |    row_number() OVER (PARTITION BY event_type ORDER BY p - minp DESC, day) AS rk
        |  FROM c2)
        |SELECT event_type, CAST(n_days AS INTEGER) AS n_days, total,
        |  CAST(cusum AS BIGINT) AS peak_cusum,
        |  strftime(day, '%Y-%m-%d') AS peak_day,
        |  cusum > total * 2 AS shift_detected
        |FROM r WHERE rk = 1 ORDER BY event_type""".stripMargin),
    // recursive-CTE replay of the fold. A struct-accumulator
    // list_reduce is NOT usable here: DuckDB updates accumulator
    // fields sequentially, so the 'b' expression reads the
    // already-updated 'l' (measured, not guessed) — the CTE advances
    // (l, b) atomically per day instead.
    QueryDef("q_evt_forecast", qEvtForecast,
      """WITH RECURSIVE d AS (
        |  SELECT event_type, CAST(n AS DOUBLE) AS y,
        |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
        |  FROM (SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
        |        FROM events GROUP BY 1, 2)),
        |f AS (
        |  SELECT event_type, rn, y AS l, CAST(0 AS DOUBLE) AS b
        |  FROM d WHERE rn = 1
        |  UNION ALL
        |  SELECT d.event_type, d.rn,
        |    (d.y + f.l + f.b) / 2,
        |    ((d.y + f.l + f.b) / 2 - f.l) / 2 + f.b / 2
        |  FROM f JOIN d ON d.event_type = f.event_type AND d.rn = f.rn + 1),
        |last AS (
        |  SELECT event_type, rn, l, b,
        |    row_number() OVER (PARTITION BY event_type ORDER BY rn DESC) AS rev
        |  FROM f)
        |SELECT event_type, CAST(rn AS INTEGER) AS n_days,
        |  round(l, 6) AS level, round(b, 6) AS trend,
        |  round(l + b, 6) AS forecast_next
        |FROM last WHERE rev = 1 ORDER BY event_type""".stripMargin),
    QueryDef("q_evt_pipeline", qEvtPipeline,
      """WITH u AS (
        |  SELECT user_id, count(*) AS n_events,
        |    min(CAST(ts AS DATE)) AS first_day, max(CAST(ts AS DATE)) AS last_day,
        |    max(CASE WHEN event_type = 'purchase' AND value > 90 THEN 1 ELSE 0 END) AS conv
        |  FROM events GROUP BY user_id),
        |x AS (SELECT n_events, conv,
        |    ((user_id * 2654435761) % 4294967296) % 2 AS variant,
        |    datediff('day', first_day, last_day) // 7 AS lifetime_weeks,
        |    length(bin(n_events)) - 1 AS bucket
        |  FROM u)
        |SELECT section, k, n_users, n_events_sum, n_conv FROM (
        |  SELECT 'arm' AS section, CAST(variant AS VARCHAR) AS k, count(*) AS n_users,
        |    CAST(sum(n_events) AS BIGINT) AS n_events_sum, CAST(sum(conv) AS BIGINT) AS n_conv
        |  FROM x GROUP BY 2
        |  UNION ALL
        |  SELECT 'engagement', CAST(bucket AS VARCHAR), count(*),
        |    CAST(sum(n_events) AS BIGINT), CAST(sum(conv) AS BIGINT)
        |  FROM x GROUP BY 2
        |  UNION ALL
        |  SELECT 'lifetime', CAST(lifetime_weeks AS VARCHAR), count(*),
        |    CAST(sum(n_events) AS BIGINT), CAST(sum(conv) AS BIGINT)
        |  FROM x GROUP BY 2)
        |ORDER BY section, k""".stripMargin, eager = true), // localCheckpoint at construction
    // the round-trip law: melting the pivoted table back must equal the
    // direct long-form aggregation
    QueryDef("q_evt_unpivot", qEvtUnpivot,
      """SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
        |  event_type, count(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin),
    QueryDef("q_evt_rfm", qEvtRfm,
      """WITH anchor AS (SELECT max(ts) AS ts_max FROM events),
        |u AS (
        |  SELECT user_id, max(ts) AS last_ts, count(*) AS freq,
        |    sum(CASE WHEN event_type = 'purchase'
        |        THEN CAST(value AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END) AS monetary
        |  FROM events GROUP BY user_id),
        |d AS (
        |  SELECT user_id, freq, monetary,
        |    datediff('day', CAST(last_ts AS DATE), CAST(ts_max AS DATE)) AS recency_days
        |  FROM u, anchor),
        |q AS (
        |  SELECT freq, monetary,
        |    CAST(ntile(4) OVER (ORDER BY recency_days, user_id) AS INTEGER) AS r_q,
        |    CAST(ntile(4) OVER (ORDER BY freq DESC, user_id) AS INTEGER) AS f_q,
        |    CAST(ntile(4) OVER (ORDER BY monetary DESC, user_id) AS INTEGER) AS m_q
        |  FROM d)
        |SELECT r_q, f_q, m_q, count(*) AS n_users,
        |  CAST(sum(freq) AS BIGINT) AS n_events,
        |  CAST(sum(monetary) AS DOUBLE) AS monetary_total
        |FROM q GROUP BY 1, 2, 3 ORDER BY r_q, f_q, m_q""".stripMargin),
    QueryDef("q_evt_pivot", qEvtPivot,
      """SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
        |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
        |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
        |  CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
        |  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS "view"
        |FROM events GROUP BY 1 ORDER BY day""".stripMargin),
    QueryDef("q_evt_value_pctl", qEvtValuePctl,
      """WITH r AS (
        |  SELECT event_type, value,
        |    row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS cnt
        |  FROM events)
        |SELECT event_type, min(cnt) AS n,
        |  min(CASE WHEN rn = CAST(ceil(cnt * 0.5) AS BIGINT) THEN value END) AS p50,
        |  min(CASE WHEN rn = CAST(ceil(cnt * 0.95) AS BIGINT) THEN value END) AS p95,
        |  min(CASE WHEN rn = CAST(ceil(cnt * 0.99) AS BIGINT) THEN value END) AS p99,
        |  TRUE AS sk50_ok, TRUE AS sk95_ok, TRUE AS sk99_ok
        |FROM r
        |WHERE rn IN (CAST(ceil(cnt * 0.5) AS BIGINT), CAST(ceil(cnt * 0.95) AS BIGINT),
        |             CAST(ceil(cnt * 0.99) AS BIGINT))
        |GROUP BY event_type ORDER BY event_type""".stripMargin),
    QueryDef("q_evt_abtest", qEvtAbtest,
      """WITH u AS (
        |  SELECT user_id,
        |    max(CASE WHEN event_type = 'purchase' AND value > 90 THEN 1 ELSE 0 END) AS conv
        |  FROM events GROUP BY user_id),
        |v AS (SELECT conv, ((user_id * 2654435761) % 4294967296) % 2 AS variant FROM u),
        |a AS (SELECT
        |    CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |    CAST(sum(CASE WHEN variant = 0 THEN conv ELSE 0 END) AS BIGINT) AS c_a,
        |    CAST(sum(CASE WHEN variant = 1 THEN conv ELSE 0 END) AS BIGINT) AS c_b
        |  FROM v)
        |SELECT n_a, n_b, c_a, c_b,
        |  round(CAST(c_a AS DOUBLE) / n_a, 6) AS rate_a,
        |  round(CAST(c_b AS DOUBLE) / n_b, 6) AS rate_b,
        |  round((CAST(c_b AS DOUBLE) / n_b - CAST(c_a AS DOUBLE) / n_a)
        |    / sqrt((CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
        |           * (1.0 - CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
        |           * (1.0 / n_a + 1.0 / n_b)), 6) AS z,
        |  abs(round((CAST(c_b AS DOUBLE) / n_b - CAST(c_a AS DOUBLE) / n_a)
        |    / sqrt((CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
        |           * (1.0 - CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
        |           * (1.0 / n_a + 1.0 / n_b)), 6)) > 1.96 AS significant
        |FROM a""".stripMargin),
    QueryDef("q_evt_pattern", qEvtPattern,
      """WITH j AS (
        |  SELECT user_id, count(*) AS n_events,
        |    string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id) AS journey
        |  FROM events GROUP BY user_id)
        |SELECT user_id, n_events,
        |  CAST(len(regexp_extract_all(journey, 'vc*p')) AS INTEGER) AS n_conv,
        |  CAST(len(regexp_extract_all(journey, 'ee+')) AS INTEGER) AS n_err_runs,
        |  len(regexp_extract_all(journey, 's[^p]*p')) > 0 AS signup_converted,
        |  md5(journey) AS journey_fp
        |FROM j ORDER BY user_id""".stripMargin),
    QueryDef("q_evt_drift", qEvtDrift,
      """WITH e AS (SELECT CAST(ts AS DATE) AS day, event_type FROM events),
        |daily AS (SELECT day, event_type, count(*) AS n_dt FROM e GROUP BY day, event_type),
        |dtot AS (SELECT day, CAST(sum(n_dt) AS BIGINT) AS n_d FROM daily GROUP BY day),
        |g AS (SELECT event_type, count(*) AS n_t FROM e GROUP BY event_type),
        |tot AS (SELECT count(*) AS n_total FROM e),
        |terms AS (SELECT d.day, d.n_dt,
        |    (CAST(d.n_dt AS DOUBLE) / t.n_d) *
        |      ln((CAST(d.n_dt AS DOUBLE) / t.n_d) / (CAST(g.n_t AS DOUBLE) / tot.n_total)) AS term
        |  FROM daily d JOIN dtot t USING (day) JOIN g USING (event_type), tot)
        |SELECT strftime(day, '%Y-%m-%d') AS day, CAST(sum(n_dt) AS BIGINT) AS n_events,
        |  round(sum(term), 6) AS kl, (round(sum(term), 6) > 0.01) AS drifted
        |FROM terms GROUP BY day ORDER BY day""".stripMargin),
    QueryDef("q_evt_ewma", qEvtEwma,
      """WITH f AS (SELECT user_id, event_id, value,
        |    list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                      ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS frame
        |  FROM events)
        |SELECT user_id, event_id, value,
        |  round(list_sum(list_transform(range(1, len(frame) + 1),
        |          j -> list_reverse(frame)[j] / pow(2.0, j - 1)))
        |    / list_sum(list_transform(range(1, len(frame) + 1),
        |          j -> 1.0 / pow(2.0, j - 1))), 6) AS ewma
        |FROM f ORDER BY user_id, event_id""".stripMargin),
    // The TRUE literal is the accuracy CONTRACT: the engine's sketch
    // estimate must sit within 5% of exact or the hash gate fails.
    QueryDef("q_evt_hll_rolling", qEvtHllRolling,
      """WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
        |days AS (SELECT DISTINCT day FROM du),
        |ex AS (SELECT d.day AS tday, count(DISTINCT du.user_id) AS n_users_7d
        |       FROM du JOIN days d ON du.day BETWEEN d.day - 6 AND d.day
        |       GROUP BY d.day)
        |SELECT strftime(tday, '%Y-%m-%d') AS day, n_users_7d,
        |  TRUE AS hll_within_5pct
        |FROM ex ORDER BY day""".stripMargin),
    QueryDef("q_evt_anomaly", qEvtAnomaly,
      """WITH x AS (
        |  SELECT user_id, event_id, value,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS s1,
        |    CAST(sum(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2)))
        |         OVER w AS DOUBLE) AS s2,
        |    count(*) OVER w AS n_prev
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING)),
        |y AS (
        |  SELECT user_id, event_id, value,
        |    s1 / n_prev AS mu,
        |    sqrt(greatest(s2 / n_prev - (s1 / n_prev) * (s1 / n_prev), 0.0)) AS sd
        |  FROM x WHERE n_prev >= 5)
        |SELECT user_id, event_id, value, round(mu, 6) AS mu, round(sd, 6) AS sd,
        |  (sd > 0 AND abs(value - mu) > 3.0 * sd) AS is_anomaly
        |FROM y ORDER BY user_id, event_id""".stripMargin),
    QueryDef("q_evt_hourly", qEvtHourly,
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour, event_type,
        |  count(*) AS n, CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin),
    QueryDef("q_evt_sessionize", qEvtSessionize,
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS us,
        |    lag(epoch_us(ts), 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
        |  FROM events)
        |SELECT user_id,
        |  CAST(sum(CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
        |  count(*) AS n_events
        |FROM e GROUP BY user_id ORDER BY user_id""".stripMargin),
    QueryDef("q_evt_session_stats", qEvtSessionStats,
      """WITH e AS (
        |  SELECT user_id, ts, event_id, epoch_us(ts) AS us,
        |    lag(epoch_us(ts), 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
        |  FROM events),
        |flagged AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000 THEN 1 ELSE 0 END AS new_sess
        |  FROM e),
        |sessions AS (
        |  SELECT user_id,
        |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
        |  FROM flagged),
        |lens AS (
        |  SELECT user_id, sess_id, count(*) AS session_len
        |  FROM sessions GROUP BY user_id, sess_id)
        |SELECT session_len, count(*) AS n_sessions
        |FROM lens GROUP BY session_len ORDER BY session_len""".stripMargin),
    QueryDef("q_evt_hopping", qEvtHopping,
      """WITH hopped AS (
        |  SELECT event_type, value,
        |    unnest([to_timestamp(CAST(floor(epoch(ts) / 1800) AS BIGINT) * 1800),
        |            to_timestamp(CAST(floor(epoch(ts) / 1800) AS BIGINT) * 1800 - 1800)]) AS wstart
        |  FROM events)
        |SELECT strftime(wstart, '%Y-%m-%d %H:%M:%S') AS wstart, event_type,
        |  count(*) AS n, CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM hopped GROUP BY 1, 2 ORDER BY wstart, event_type""".stripMargin),
    QueryDef("q_evt_json", qEvtJson,
      """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k, count(*) AS n
        |FROM events GROUP BY 1 ORDER BY k""".stripMargin),
    QueryDef("q_evt_asof", qEvtAsof,
      """WITH p AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS p_us, value
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (
        |  SELECT user_id, epoch_us(ts) AS c_us
        |  FROM events WHERE event_type = 'click')
        |SELECT p.event_id, p.user_id, p.p_us, p.value,
        |  max(c.c_us) AS click_us,
        |  p.p_us - max(c.c_us) AS gap_us
        |FROM p LEFT JOIN c ON c.user_id = p.user_id AND c.c_us <= p.p_us
        |GROUP BY p.event_id, p.user_id, p.p_us, p.value
        |ORDER BY p.event_id""".stripMargin),
    QueryDef("q_evt_range_sql", qEvtRangeSql,
      """WITH p AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS p_us
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (
        |  SELECT user_id AS c_user, epoch_us(ts) AS c_us
        |  FROM events WHERE event_type = 'click')
        |SELECT p.event_id, p.user_id, p.p_us, c.c_us
        |FROM p JOIN c ON p.user_id = c.c_user
        |  AND c.c_us >= p.p_us - 3600000000 AND c.c_us <= p.p_us
        |ORDER BY event_id, c_us""".stripMargin),
    QueryDef("q_evt_asof_native", qEvtAsofNative,
      """WITH p AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS p_us, value
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (
        |  SELECT user_id, epoch_us(ts) AS c_us
        |  FROM events WHERE event_type = 'click')
        |SELECT p.event_id, p.user_id, p.p_us, p.value,
        |  max(c.c_us) AS click_us,
        |  p.p_us - max(c.c_us) AS gap_us
        |FROM p LEFT JOIN c ON c.user_id = p.user_id AND c.c_us <= p.p_us
        |GROUP BY p.event_id, p.user_id, p.p_us, p.value
        |ORDER BY p.event_id""".stripMargin),
    QueryDef("q_evt_asof_tol", qEvtAsofTol,
      """WITH p AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS p_us
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (
        |  SELECT user_id, epoch_us(ts) AS c_us
        |  FROM events WHERE event_type = 'click')
        |SELECT p.event_id, p.user_id, p.p_us,
        |  max(c.c_us) AS click_us,
        |  p.p_us - max(c.c_us) AS gap_us
        |FROM p LEFT JOIN c ON c.user_id = p.user_id
        |  AND c.c_us BETWEEN p.p_us - 900000000 AND p.p_us
        |GROUP BY p.event_id, p.user_id, p.p_us
        |ORDER BY event_id""".stripMargin),
    QueryDef("q_evt_range_join", qEvtRangeJoin,
      """WITH p AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS p_us
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (
        |  SELECT user_id, epoch_us(ts) AS c_us
        |  FROM events WHERE event_type = 'click')
        |SELECT p.event_id, p.user_id, p.p_us,
        |  CAST(count(c.c_us) AS BIGINT) AS n_clicks,
        |  max(c.c_us) AS last_click_us
        |FROM p LEFT JOIN c ON c.user_id = p.user_id
        |  AND c.c_us BETWEEN p.p_us - 3600000000 AND p.p_us
        |GROUP BY p.event_id, p.user_id, p.p_us
        |ORDER BY event_id""".stripMargin),
    QueryDef("q_evt_overlap_join", qEvtOverlapJoin,
      """WITH mk AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS us, event_id,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id, event_type
        |      ORDER BY epoch_us(ts), event_id) AS prev
        |  FROM events WHERE event_type IN ('click', 'error')),
        |f AS (
        |  SELECT user_id, event_type, us, event_id,
        |    CASE WHEN prev IS NULL OR us - prev >
        |      CASE event_type WHEN 'click' THEN 1800000000 ELSE 600000000 END
        |    THEN 1 ELSE 0 END AS ns
        |  FROM mk),
        |g AS (
        |  SELECT user_id, event_type, us,
        |    sum(ns) OVER (PARTITION BY user_id, event_type
        |      ORDER BY us, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM f),
        |sess AS (
        |  SELECT user_id, event_type, sid, min(us) AS lo, max(us) AS hi,
        |    count(*) AS n
        |  FROM g GROUP BY 1, 2, 3)
        |SELECT c.user_id, c.lo AS s_lo, c.hi AS s_hi, c.n AS n_clicks,
        |  e.lo - 3600000000 AS w_lo, e.hi + 3600000000 AS w_hi,
        |  e.n AS n_errors,
        |  least(c.hi, e.hi + 3600000000) - greatest(c.lo, e.lo - 3600000000) AS overlap_us
        |FROM sess c JOIN sess e ON c.user_id = e.user_id
        |  AND c.event_type = 'click' AND e.event_type = 'error'
        |  AND greatest(c.lo, e.lo - 3600000000) <= least(c.hi, e.hi + 3600000000)
        |ORDER BY c.user_id, s_lo, w_lo""".stripMargin),
    // identical relation through the SQL-surface naive overlap join —
    // the rewrite must not change a single row
    QueryDef("q_evt_overlap_sql", qEvtOverlapSql,
      """WITH mk AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS us, event_id,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id, event_type
        |      ORDER BY epoch_us(ts), event_id) AS prev
        |  FROM events WHERE event_type IN ('click', 'error')),
        |f AS (
        |  SELECT user_id, event_type, us, event_id,
        |    CASE WHEN prev IS NULL OR us - prev >
        |      CASE event_type WHEN 'click' THEN 1800000000 ELSE 600000000 END
        |    THEN 1 ELSE 0 END AS ns
        |  FROM mk),
        |g AS (
        |  SELECT user_id, event_type, us,
        |    sum(ns) OVER (PARTITION BY user_id, event_type
        |      ORDER BY us, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM f),
        |sess AS (
        |  SELECT user_id, event_type, sid, min(us) AS lo, max(us) AS hi,
        |    count(*) AS n
        |  FROM g GROUP BY 1, 2, 3)
        |SELECT c.user_id, c.lo AS s_lo, c.hi AS s_hi, c.n AS n_clicks,
        |  e.lo - 3600000000 AS w_lo, e.hi + 3600000000 AS w_hi,
        |  e.n AS n_errors,
        |  least(c.hi, e.hi + 3600000000) - greatest(c.lo, e.lo - 3600000000) AS overlap_us
        |FROM sess c JOIN sess e ON c.user_id = e.user_id
        |  AND c.event_type = 'click' AND e.event_type = 'error'
        |  AND c.lo <= e.hi + 3600000000
        |  AND e.lo - 3600000000 <= c.hi
        |ORDER BY c.user_id, s_lo, w_lo""".stripMargin),
    // The running-min funnel cascade is order-equivalent to global mins:
    // a click qualifies iff SOME view is strictly earlier, i.e. iff
    // min(view_us) < click_us; likewise purchases against min(qual click).
    QueryDef("q_evt_funnel", qEvtFunnel,
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        |fv AS (
        |  SELECT user_id,
        |    min(CASE WHEN event_type = 'view' THEN us END) AS first_view_us
        |  FROM e GROUP BY user_id),
        |fc AS (
        |  SELECT e.user_id, min(e.us) AS first_click_us
        |  FROM e JOIN fv ON e.user_id = fv.user_id
        |  WHERE e.event_type = 'click' AND e.us > fv.first_view_us
        |  GROUP BY e.user_id),
        |fp AS (
        |  SELECT e.user_id, min(e.us) AS first_purchase_us
        |  FROM e JOIN fc ON e.user_id = fc.user_id
        |  WHERE e.event_type = 'purchase' AND e.us > fc.first_click_us
        |  GROUP BY e.user_id)
        |SELECT fv.user_id, fv.first_view_us, fc.first_click_us,
        |  fp.first_purchase_us,
        |  CASE WHEN fp.first_purchase_us IS NOT NULL THEN 3
        |       WHEN fc.first_click_us IS NOT NULL THEN 2
        |       WHEN fv.first_view_us IS NOT NULL THEN 1
        |       ELSE 0 END AS stage
        |FROM fv
        |LEFT JOIN fc ON fv.user_id = fc.user_id
        |LEFT JOIN fp ON fv.user_id = fp.user_id
        |ORDER BY fv.user_id""".stripMargin),
    QueryDef("q_evt_retention", qEvtRetention,
      """WITH d AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |c AS (
        |  SELECT user_id, day,
        |    min(day) OVER (PARTITION BY user_id) AS cohort
        |  FROM d)
        |SELECT strftime(cohort, '%Y-%m-%d') AS cohort_day,
        |  CAST(datediff('day', cohort, day) AS INTEGER) AS day_offset,
        |  count(DISTINCT user_id) AS n_active
        |FROM c GROUP BY 1, 2 ORDER BY cohort_day, day_offset""".stripMargin),
    QueryDef("q_evt_transitions", qEvtTransitions,
      """WITH e AS (
        |  SELECT event_type,
        |    lag(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        |  FROM events)
        |SELECT prev_type, event_type, count(*) AS n
        |FROM e WHERE prev_type IS NOT NULL
        |GROUP BY prev_type, event_type ORDER BY prev_type, event_type""".stripMargin),
  )
}
