package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Q._

/** Feature-engineering audits over the order corpus — the encodings a
  * training pipeline derives from categorical columns before a model
  * ever sees them, censused with exact integer arithmetic so the same
  * numbers come out of any engine. The shared label is "the order had
  * a late lineitem" (>60 days past the order date — the
  * [[RelationalQueries]] Q4 lateness convention), derived once per
  * query from a single lineitem⋈orders shuffle whose groupBy(orderkey)
  * reuses the join partitioning.
  */
object FeatureQueries {

  /** One row per order: its priority class and whether any line shipped
    * late. One fact shuffle; the aggregation is partial-aggregatable.
    */
  private def orderLateLabel(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
    val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_shipdate"))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderkey"), col("o_orderpriority"))
      .agg(max(when(col("l_shipdate") > date_add(col("o_orderdate"), 60), 1L)
        .otherwise(0L)).as("late"))
  }

  /** Leave-one-out target encoding census (the Micci-Barreca 2001
    * family): for category = order priority and target = late flag,
    * the LOO encode of every row takes one of exactly TWO values per
    * category — (pos_c − 1)/(n_c − 1) for positive rows and
    * pos_c/(n_c − 1) for negative ones — so the encoding is emitted in
    * closed form per category rather than per row, alongside the
    * m-estimate smoothed encode (m = 10 against the global prior).
    * Every cross-row quantity is an integer count; division happens
    * once per output cell at ppm emission.
    *
    * Scale shape: the label relation is one fact shuffle
    * ([[orderLateLabel]]); the census is a |priority|-row groupBy plus
    * a 1-row global-prior aggregate joined by broadcast. Nothing
    * row-sized survives past the first aggregation.
    */
  private def qFeatTargetEnc(s: SparkSession, dir: String): DataFrame = {
    val lab = orderLateLabel(s, dir)
    val cat = lab.groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), sum(col("late")).as("n_pos"))
    val prior = lab.agg(count(lit(1)).as("n_tot"), sum(col("late")).as("p_tot"))
    cat.crossJoin(broadcast(prior))
      .select(col("o_orderpriority"), col("n"), col("n_pos"),
        // a singleton category has NO leave-one-out peers: NULL, never
        // the Infinity->Long.MaxValue sentinel a raw /0 would emit
        when(col("n") > 1L,
          floor(lit(1000000L) * (col("n_pos") - 1L) / (col("n") - 1L))
            .cast("long")).as("loo_pos_ppm"),
        when(col("n") > 1L,
          floor(lit(1000000L) * col("n_pos") / (col("n") - 1L))
            .cast("long")).as("loo_neg_ppm"),
        round(lit(1000000.0) *
          (col("n_pos") + lit(10.0) * col("p_tot") / col("n_tot")) /
          (col("n") + lit(10.0))).cast("long").as("smoothed_ppm"))
      .orderBy("o_orderpriority")
  }

  /** Weight-of-evidence + information value census (the credit-scoring
    * feature audit): per priority class, WoE = ln((pos_c/P)/(neg_c/Q))
    * with the standard 0.5 continuity correction on both cell counts
    * (so an empty cell yields a large finite WoE, never ±∞), and the
    * IV term (pos_c/P − neg_c/Q)·WoE. The ln enters once per
    * category on identical integer-ratio operands in both engines;
    * each term quantizes to nano units as a long BEFORE the
    * total-IV sum, so the only cross-row float never exists.
    *
    * Scale shape: identical to [[qFeatTargetEnc]] — one fact shuffle to
    * the label relation, a |priority|-row census, a broadcast 1-row
    * totals join. The IV total is re-emitted on every row (a census
    * column, not a second query).
    */
  private def qFeatWoe(s: SparkSession, dir: String): DataFrame = {
    val lab = orderLateLabel(s, dir)
    val cat = lab.groupBy(col("o_orderpriority"))
      .agg(sum(col("late")).as("pos"),
        sum(lit(1L) - col("late")).as("neg"))
    val tot = lab.agg(sum(col("late")).as("p_tot"),
      sum(lit(1L) - col("late")).as("q_tot"))
    val terms = cat.crossJoin(broadcast(tot))
      .withColumn("woe_nnat",
        round(lit(1e9) * log(((col("pos") + lit(0.5)) * col("q_tot")) /
          ((col("neg") + lit(0.5)) * col("p_tot")))).cast("long"))
      .withColumn("iv_nnat",
        round((col("pos").cast("double") / col("p_tot") -
          col("neg").cast("double") / col("q_tot")) * col("woe_nnat"))
          .cast("long"))
    val ivTot = terms.agg(sum(col("iv_nnat")).as("iv_total_nnat"))
    terms.crossJoin(broadcast(ivTot))
      .select(col("o_orderpriority"), col("pos"), col("neg"),
        col("woe_nnat"), col("iv_nnat"), col("iv_total_nnat"))
      .orderBy("o_orderpriority")
  }

  /** Distributed ordinary least squares by Gram-matrix sufficient
    * statistics — the one-pass linear-model fit every feature pipeline
    * ends in (predict price cents from quantity and discount points,
    * per return flag): the normal equations X'X β = X'y need only the
    * d² = 9 Gram sums and d = 3 moment sums, each an EXACT-integer
    * partial-aggregable aggregate (quantity, discount points and
    * price cents are all exact integers; the one product that can
    * outgrow a long — Σy² — rides a decimal(38)), so the per-group
    * model state crossing the exchange is ~10 numbers regardless of
    * row count. The 'ALL' pooled fit is rebuilt by ADDING the
    * per-mode statistics — Gram matrices merge like counters, which
    * is exactly how a 1000-executor fit (or a federated one) composes
    * without a second scan. The 3×3 solve runs per OUTPUT ROW by
    * Cramer's rule on doubles converted from the exact sums: same
    * integer operands and same expression tree ⇒ bit-identical
    * coefficients in any IEEE engine, which is what lets the fit
    * itself cross the hash gate (R² likewise, from the β'X'y
    * identity). At 100 TB this shape — scan → tiny Gram partials →
    * closed-form solve — replaces a gradient loop for any d where
    * d² doubles fit a partial (thousands of features).
    */
  private def qFeatOls(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").select(
      col("l_returnflag").as("flag"),
      dec("l_quantity").cast("long").as("x1"),
      (dec("l_discount") * 100).cast("long").as("x2"),
      (dec("l_extendedprice") * 100).cast("long").as("y"))
    val gm = li.groupBy("flag").agg(
      count(lit(1)).as("n"),
      sum("x1").as("s1"), sum("x2").as("s2"), sum("y").as("sy"),
      sum(col("x1") * col("x1")).as("s11"),
      sum(col("x1") * col("x2")).as("s12"),
      sum(col("x2") * col("x2")).as("s22"),
      sum(col("x1") * col("y")).as("s1y"),
      sum(col("x2") * col("y")).as("s2y"),
      sum(col("y").cast("decimal(38,0)") * col("y")).as("syy"))
    val pooled = gm.groupBy().agg(
      sum("n").as("n"), sum("s1").as("s1"), sum("s2").as("s2"),
      sum("sy").as("sy"), sum("s11").as("s11"), sum("s12").as("s12"),
      sum("s22").as("s22"), sum("s1y").as("s1y"), sum("s2y").as("s2y"),
      sum("syy").as("syy"))
      .select(lit("ALL").as("flag"), col("n"), col("s1"), col("s2"),
        col("sy"), col("s11"), col("s12"), col("s22"), col("s1y"),
        col("s2y"), col("syy"))
    val st = gm.unionByName(pooled).select(col("flag"), col("n"),
      col("n").cast("double").as("a00"),
      col("s1").cast("double").as("a01"),
      col("s2").cast("double").as("a02"),
      col("s11").cast("double").as("a11"),
      col("s12").cast("double").as("a12"),
      col("s22").cast("double").as("a22"),
      col("sy").cast("double").as("b0"),
      col("s1y").cast("double").as("b1"),
      col("s2y").cast("double").as("b2"),
      col("syy").cast("double").as("byy"))
    val det = col("a00") * (col("a11") * col("a22") - col("a12") * col("a12")) -
      col("a01") * (col("a01") * col("a22") - col("a12") * col("a02")) +
      col("a02") * (col("a01") * col("a12") - col("a11") * col("a02"))
    val detX0 = col("b0") * (col("a11") * col("a22") - col("a12") * col("a12")) -
      col("a01") * (col("b1") * col("a22") - col("a12") * col("b2")) +
      col("a02") * (col("b1") * col("a12") - col("a11") * col("b2"))
    val detX1 = col("a00") * (col("b1") * col("a22") - col("a12") * col("b2")) -
      col("b0") * (col("a01") * col("a22") - col("a12") * col("a02")) +
      col("a02") * (col("a01") * col("b2") - col("b1") * col("a02"))
    val detX2 = col("a00") * (col("a11") * col("b2") - col("b1") * col("a12")) -
      col("a01") * (col("a01") * col("b2") - col("b1") * col("a02")) +
      col("b0") * (col("a01") * col("a12") - col("a11") * col("a02"))
    st.withColumn("c0", detX0 / det)
      .withColumn("c1", detX1 / det)
      .withColumn("c2", detX2 / det)
      .withColumn("sse", col("byy") -
        (col("c0") * col("b0") + col("c1") * col("b1") + col("c2") * col("b2")))
      .withColumn("sst", col("byy") - col("b0") * col("b0") / col("a00"))
      .select(col("flag"), col("n"),
        round(col("c0"), 4).as("b0_cents"),
        round(col("c1"), 4).as("b1_cents"),
        round(col("c2"), 4).as("b2_cents"),
        round(lit(1.0) - col("sse") / col("sst"), 6).as("r2"))
      .orderBy("flag")
  }

  /** Cramer 3×3 solve: (c0, c1, c2) columns from the symmetric system
    * named by (a00,a01,a02,a11,a12,a22) and rhs (r0,r1,r2) — shared
    * expression TREE, so engine replays stay bit-identical.
    */
  private def cramer3(pfx: String): Seq[org.apache.spark.sql.Column] = {
    def c(n: String) = col(pfx + n)
    val det = c("a00") * (c("a11") * c("a22") - c("a12") * c("a12")) -
      c("a01") * (c("a01") * c("a22") - c("a12") * c("a02")) +
      c("a02") * (c("a01") * c("a12") - c("a11") * c("a02"))
    val d0 = c("r0") * (c("a11") * c("a22") - c("a12") * c("a12")) -
      c("a01") * (c("r1") * c("a22") - c("a12") * c("r2")) +
      c("a02") * (c("r1") * c("a12") - c("a11") * c("r2"))
    val d1 = c("a00") * (c("r1") * c("a22") - c("a12") * c("r2")) -
      c("r0") * (c("a01") * c("a22") - c("a12") * c("a02")) +
      c("a02") * (c("a01") * c("r2") - c("r1") * c("a02"))
    val d2 = c("a00") * (c("a11") * c("r2") - c("r1") * c("a12")) -
      c("a01") * (c("a01") * c("r2") - c("r1") * c("a02")) +
      c("r0") * (c("a01") * c("a12") - c("a11") * c("a02"))
    Seq(d0 / det, d1 / det, d2 / det)
  }

  /** Distributed iterative classifier training, bit-reproducible — the
    * logistic-regression-shaped sibling of [[qFeatOls]]: predict the
    * late-lineitem flag from (quantity, discount points) by THREE
    * Gauss-Newton rounds of a least-squares probability fit with the
    * Elliott rational squashing link p(z) = ½ + ½·(z/2)/(1+|z/2|)
    * (Elliott 1993). The rational link is the load-bearing choice:
    * a per-row exp() would put libm's last-ulp freedom inside 10⁷
    * quantization boundaries per iteration (the engine-parity
    * discipline that keeps ln to once-per-cell operands elsewhere —
    * see q_txt_tfidf's rational idf), while add/mul/div/abs are
    * IEEE-exact in every engine. Each round: per-row score and
    * curvature contributions (Jᵀr, JᵀJ for the 3-parameter model)
    * quantize to nano units as LONGS before the exchange — so each
    * iteration ships 9 exact integers per group, the solve is the
    * shared [[cramer3]] tree on identical doubles, and the whole
    * 3-round trajectory (coefficients, SSE, accuracy) hash-gates
    * across engines (the q_emb_pca unrolled-iteration discipline
    * applied to supervised training). Groups train independently per
    * return flag plus a pooled 'ALL' model via a row-doubling
    * explode — one pipeline, four models.
    *
    * Scale shape: one fact join, then per iteration ONE scan with a
    * broadcast 4-row β join and a partial-aggregable 9-long rollup —
    * at 100 TB, 3 scans and ~36 longs of shuffle state total.
    * Nano-quantized curvature terms stay under long range through
    * sf10 (|j12| ≤ 31·1e9 per row × 1.2e8 rows ≈ 4e18 < 2⁶³).
    */
  private def qFeatGlm(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_orderdate"))
    val li = t(s, dir, "lineitem").select(col("l_orderkey"),
      col("l_returnflag"), col("l_shipdate"),
      dec("l_quantity").cast("long").as("x1"),
      (dec("l_discount") * 100).cast("long").as("x2"))
    // The 4 passes (3 steps + metrics) re-derive this relation, but
    // ReuseExchange dedups the join's shuffle WRITE across them, so
    // only the narrow post-exchange projection recomputes. Measured
    // at sf10 (A/B, loads 20-30): recompute 61/70 s vs localCheckpoint
    // 81/180 s — materializing 120M 4-column rows to local disk costs
    // more than recomputing them; the kcore-persist verdict repeats.
    val rows = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .select(explode(array(col("l_returnflag"), lit("ALL"))).as("flag"),
        col("x1"), col("x2"),
        when(col("l_shipdate") > date_add(col("o_orderdate"), 60), 1L)
          .otherwise(0L).as("y"))
    def z = col("b0") + col("b1") * col("x1") + col("b2") * col("x2")
    def pOf(zc: org.apache.spark.sql.Column) =
      lit(0.5) + lit(0.5) * (zc / 2) / (lit(1.0) + abs(zc / 2))
    def dpOf(zc: org.apache.spark.sql.Column) =
      lit(0.25) / ((lit(1.0) + abs(zc / 2)) * (lit(1.0) + abs(zc / 2)))
    def q9(c: org.apache.spark.sql.Column) =
      round(c * lit(1e9)).cast("long")
    val beta0 = rows.select("flag").distinct()
      .withColumn("b0", lit(0.0)).withColumn("b1", lit(0.0))
      .withColumn("b2", lit(0.0))
    def step(beta: DataFrame): DataFrame = {
      val p = pOf(z); val dp = dpOf(z); val r = col("y") - p
      val sums = rows.join(broadcast(beta), Seq("flag"))
        .select(col("flag"),
          q9(dp * dp).as("j00"), q9(dp * dp * col("x1")).as("j01"),
          q9(dp * dp * col("x2")).as("j02"),
          q9(dp * dp * col("x1") * col("x1")).as("j11"),
          q9(dp * dp * col("x1") * col("x2")).as("j12"),
          q9(dp * dp * col("x2") * col("x2")).as("j22"),
          q9(dp * r).as("g0"), q9(dp * r * col("x1")).as("g1"),
          q9(dp * r * col("x2")).as("g2"))
        .groupBy("flag")
        .agg(sum("j00").as("a00"), sum("j01").as("a01"),
          sum("j02").as("a02"), sum("j11").as("a11"),
          sum("j12").as("a12"), sum("j22").as("a22"),
          sum("g0").as("r0"), sum("g1").as("r1"), sum("g2").as("r2"))
        .select(col("flag") +: Seq("a00", "a01", "a02", "a11", "a12",
          "a22", "r0", "r1", "r2").map(n => col(n).cast("double").as(n)): _*)
      val Seq(d0, d1, d2) = cramer3("")
      beta.join(sums, Seq("flag"))
        .select(col("flag"), (col("b0") + d0).as("b0"),
          (col("b1") + d1).as("b1"), (col("b2") + d2).as("b2"))
    }
    val betaF = step(step(step(beta0)))
    rows.join(broadcast(betaF), Seq("flag"))
      .select(col("flag"), col("b0"), col("b1"), col("b2"),
        q9((col("y") - pOf(z)) * (col("y") - pOf(z))).as("se"),
        when((z > 0) === (col("y") === 1L), 1L).otherwise(0L).as("ok"))
      .groupBy("flag")
      .agg(count(lit(1)).as("n"), max("b0").as("b0"), max("b1").as("b1"),
        max("b2").as("b2"), sum("se").as("sse_nano"),
        sum("ok").as("n_correct"))
      .select(col("flag"), col("n"),
        round(col("b0"), 6).as("b0"), round(col("b1"), 6).as("b1"),
        round(col("b2"), 6).as("b2"), col("sse_nano"), col("n_correct"))
      .orderBy("flag")
  }

  /** Deployed-model calibration census (the reliability diagram +
    * expected calibration error every model-monitoring pipeline
    * computes, Naeini et al. 2015 formulation): a FIXED released
    * scorer — the Elliott-link model with pinned coefficients,
    * standing in for whatever artifact serving ships — scores every
    * lineitem, predictions bucket into probability deciles, and per
    * bin the census carries count, positive count, and the
    * nano-quantized confidence mass (per-row quantization BEFORE the
    * sum, as everywhere). ECE rides along per row in ppm, computed
    * from the exact per-bin integers: Σ |n_pos·1e6 − conf_sum/1e3| /
    * n_total — a pure integer expression, so the whole audit hashes.
    * Decile edges compare identical doubles in both engines (same
    * fixed β, same expression tree), so binning can't diverge.
    *
    * Scale shape: scoring is scan-stage scalar algebra; the census
    * is a ≤10-row groupBy plus a broadcast 1-row total — the
    * monitoring query you run per model per day at any corpus size.
    */
  private def qFeatCalibration(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_orderdate"))
    val li = t(s, dir, "lineitem").select(col("l_orderkey"),
      col("l_shipdate"),
      dec("l_quantity").cast("long").as("x1"),
      (dec("l_discount") * 100).cast("long").as("x2"))
    // the released model: fixed coefficients, Elliott link
    val z = lit(-0.55) + lit(0.012) * col("x1") + lit(0.004) * col("x2")
    val p = lit(0.5) + lit(0.5) * (z / 2) / (lit(1.0) + abs(z / 2))
    val scored = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .select(
        when(col("l_shipdate") > date_add(col("o_orderdate"), 60), 1L)
          .otherwise(0L).as("y"),
        least(floor(p * 10).cast("long"), lit(9L)).as("bin"),
        round(p * lit(1e9)).cast("long").as("p_nnat"))
    val bins = scored.groupBy("bin")
      .agg(count(lit(1)).as("n"), sum("y").as("n_pos"),
        sum("p_nnat").as("conf_nnat"))
    val tot = bins.agg(sum("n").as("n_tot"),
      // per-bin |accuracy - confidence| mass in micro units, summed
      // exactly: |n_pos*1e6 - conf_nnat div 1000| is the bin's
      // absolute gap scaled by its count
      sum(abs(col("n_pos") * lit(1000000L) -
        expr("conf_nnat div 1000"))).as("gap_micro"))
    bins.crossJoin(broadcast(tot))
      .select(col("bin"), col("n"), col("n_pos"), col("conf_nnat"),
        expr("gap_micro div n_tot").as("ece_ppm"))
      .orderBy("bin")
  }

  private val labelCte =
    """lab AS (
      |  SELECT o_orderkey, o_orderpriority,
      |         max(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
      |             THEN 1 ELSE 0 END) AS late
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  GROUP BY 1, 2)""".stripMargin

  // --- q_feat_glm oracle: the 3-round Gauss-Newton trajectory
  // unrolled as CTEs (the q_emb_pca discipline). Every per-row term
  // quantizes to nano longs inside the sums; the solve repeats the
  // cramer3 expression tree verbatim.
  private val glmZ = "(b0 + b1 * x1 + b2 * x2)"
  private val glmP =
    s"(0.5 + 0.5 * ($glmZ / 2) / (1.0 + abs($glmZ / 2)))"
  private val glmDp =
    s"(0.25 / ((1.0 + abs($glmZ / 2)) * (1.0 + abs($glmZ / 2))))"
  private def glmQ9(v: String) = s"CAST(round(($v) * 1e9) AS BIGINT)"
  private def glmStep(bIn: String, sN: String, bOut: String): String = {
    def t(v: String, as: String) =
      s"CAST(sum(${glmQ9(v)}) AS DOUBLE) AS $as"
    val r = s"(y - $glmP)"
    s"""$sN AS (
       |  SELECT r.flag,
       |    ${t(s"$glmDp * $glmDp", "a00")},
       |    ${t(s"$glmDp * $glmDp * x1", "a01")},
       |    ${t(s"$glmDp * $glmDp * x2", "a02")},
       |    ${t(s"$glmDp * $glmDp * x1 * x1", "a11")},
       |    ${t(s"$glmDp * $glmDp * x1 * x2", "a12")},
       |    ${t(s"$glmDp * $glmDp * x2 * x2", "a22")},
       |    ${t(s"$glmDp * $r", "r0")},
       |    ${t(s"$glmDp * $r * x1", "r1")},
       |    ${t(s"$glmDp * $r * x2", "r2")}
       |  FROM rows r JOIN $bIn USING (flag) GROUP BY r.flag),
       |$bOut AS (
       |  SELECT s.flag,
       |    b.b0 + (r0*(a11*a22 - a12*a12) - a01*(r1*a22 - a12*r2)
       |            + a02*(r1*a12 - a11*r2))
       |         / (a00*(a11*a22 - a12*a12) - a01*(a01*a22 - a12*a02)
       |            + a02*(a01*a12 - a11*a02)) AS b0,
       |    b.b1 + (a00*(r1*a22 - a12*r2) - r0*(a01*a22 - a12*a02)
       |            + a02*(a01*r2 - r1*a02))
       |         / (a00*(a11*a22 - a12*a12) - a01*(a01*a22 - a12*a02)
       |            + a02*(a01*a12 - a11*a02)) AS b1,
       |    b.b2 + (a00*(a11*r2 - r1*a12) - a01*(a01*r2 - r1*a02)
       |            + r0*(a01*a12 - a11*a02))
       |         / (a00*(a11*a22 - a12*a12) - a01*(a01*a22 - a12*a02)
       |            + a02*(a01*a12 - a11*a02)) AS b2
       |  FROM $sN s JOIN $bIn b USING (flag))""".stripMargin
  }

  val registry: Seq[QueryDef] = Seq(
    // Calibration replay: same fixed-coefficient scorer, same decile
    // law, same exact-integer ECE arithmetic.
    QueryDef("q_feat_calibration", qFeatCalibration,
      """WITH li AS (
        |  SELECT l_orderkey, l_shipdate,
        |    CAST(CAST(l_quantity AS DECIMAL(18,2)) AS BIGINT) AS x1,
        |    CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT) AS x2
        |  FROM lineitem),
        |sc AS (
        |  SELECT
        |    CAST(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
        |         THEN 1 ELSE 0 END AS BIGINT) AS y,
        |    least(CAST(floor((0.5 + 0.5
        |      * ((-0.55 + 0.012 * x1 + 0.004 * x2) / 2)
        |      / (1.0 + abs((-0.55 + 0.012 * x1 + 0.004 * x2) / 2)))
        |      * 10) AS BIGINT), 9) AS bin,
        |    CAST(round((0.5 + 0.5
        |      * ((-0.55 + 0.012 * x1 + 0.004 * x2) / 2)
        |      / (1.0 + abs((-0.55 + 0.012 * x1 + 0.004 * x2) / 2)))
        |      * 1e9) AS BIGINT) AS p_nnat
        |  FROM li JOIN orders ON l_orderkey = o_orderkey),
        |b AS (SELECT bin, count(*) AS n, CAST(sum(y) AS BIGINT) AS n_pos,
        |             CAST(sum(p_nnat) AS BIGINT) AS conf_nnat
        |      FROM sc GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS n_tot,
        |             CAST(sum(abs(n_pos * 1000000 - conf_nnat // 1000))
        |                  AS BIGINT) AS gap_micro
        |      FROM b)
        |SELECT bin, n, n_pos, conf_nnat,
        |       gap_micro // n_tot AS ece_ppm
        |FROM b, t ORDER BY bin""".stripMargin),
    QueryDef("q_feat_glm", qFeatGlm,
      s"""WITH rows AS (
         |  SELECT unnest([l_returnflag, 'ALL']) AS flag,
         |    CAST(CAST(l_quantity AS DECIMAL(18,2)) AS BIGINT) AS x1,
         |    CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT) AS x2,
         |    CAST(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
         |         THEN 1 ELSE 0 END AS BIGINT) AS y
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |bt0 AS (SELECT DISTINCT flag, 0.0 AS b0, 0.0 AS b1, 0.0 AS b2
         |        FROM rows),
         |${glmStep("bt0", "s1", "bt1")},
         |${glmStep("bt1", "s2", "bt2")},
         |${glmStep("bt2", "s3", "bt3")},
         |m AS (
         |  SELECT r.flag, count(*) AS n, max(b0) AS b0, max(b1) AS b1,
         |    max(b2) AS b2,
         |    CAST(sum(${glmQ9(s"(y - $glmP) * (y - $glmP)")}) AS BIGINT)
         |      AS sse_nano,
         |    CAST(sum(CASE WHEN (($glmZ) > 0) = (y = 1) THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_correct
         |  FROM rows r JOIN bt3 USING (flag) GROUP BY r.flag)
         |SELECT flag, n, round(b0, 6) AS b0, round(b1, 6) AS b1,
         |  round(b2, 6) AS b2, sse_nano, n_correct
         |FROM m ORDER BY flag""".stripMargin),
    // Full-law replay: exact-integer Gram sums, then the SAME Cramer
    // expression tree on doubles — identical operands + identical IEEE
    // ops = identical coefficients, so the fit crosses the hash gate.
    QueryDef("q_feat_ols", qFeatOls,
      """WITH li AS (
        |  SELECT l_returnflag AS flag,
        |    CAST(CAST(l_quantity AS DECIMAL(18,2)) AS BIGINT) AS x1,
        |    CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT) AS x2,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
        |  FROM lineitem),
        |gm AS (
        |  SELECT flag, count(*) AS n, sum(x1) AS s1, sum(x2) AS s2,
        |    sum(y) AS sy, sum(x1*x1) AS s11, sum(x1*x2) AS s12,
        |    sum(x2*x2) AS s22, sum(x1*y) AS s1y, sum(x2*y) AS s2y,
        |    sum(y*y) AS syy
        |  FROM li GROUP BY 1),
        |un AS (SELECT * FROM gm
        |       UNION ALL
        |       SELECT 'ALL', sum(n), sum(s1), sum(s2), sum(sy), sum(s11),
        |              sum(s12), sum(s22), sum(s1y), sum(s2y), sum(syy)
        |       FROM gm),
        |st AS (SELECT flag, CAST(n AS BIGINT) AS n,
        |  CAST(n AS DOUBLE) AS a00, CAST(s1 AS DOUBLE) AS a01,
        |  CAST(s2 AS DOUBLE) AS a02, CAST(s11 AS DOUBLE) AS a11,
        |  CAST(s12 AS DOUBLE) AS a12, CAST(s22 AS DOUBLE) AS a22,
        |  CAST(sy AS DOUBLE) AS b0, CAST(s1y AS DOUBLE) AS b1,
        |  CAST(s2y AS DOUBLE) AS b2, CAST(syy AS DOUBLE) AS byy
        |  FROM un),
        |sol AS (SELECT flag, n, b0, b1, b2, byy, a00,
        |  (a00*(a11*a22 - a12*a12) - a01*(a01*a22 - a12*a02)
        |     + a02*(a01*a12 - a11*a02)) AS det,
        |  (b0*(a11*a22 - a12*a12) - a01*(b1*a22 - a12*b2)
        |     + a02*(b1*a12 - a11*b2)) AS dx0,
        |  (a00*(b1*a22 - a12*b2) - b0*(a01*a22 - a12*a02)
        |     + a02*(a01*b2 - b1*a02)) AS dx1,
        |  (a00*(a11*b2 - b1*a12) - a01*(a01*b2 - b1*a02)
        |     + b0*(a01*a12 - a11*a02)) AS dx2
        |  FROM st),
        |co AS (SELECT flag, n, dx0/det AS c0, dx1/det AS c1, dx2/det AS c2,
        |              b0, b1, b2, byy, a00 FROM sol)
        |SELECT flag, n,
        |  round(c0, 4) AS b0_cents, round(c1, 4) AS b1_cents,
        |  round(c2, 4) AS b2_cents,
        |  round(1.0 - (byy - (c0*b0 + c1*b1 + c2*b2))
        |              / (byy - b0*b0/a00), 6) AS r2
        |FROM co ORDER BY flag""".stripMargin),
    QueryDef("q_feat_target_enc", qFeatTargetEnc,
      s"""WITH $labelCte,
         |cat AS (SELECT o_orderpriority, count(*) AS n, sum(late) AS n_pos
         |        FROM lab GROUP BY 1),
         |prior AS (SELECT count(*) AS n_tot, sum(late) AS p_tot FROM lab)
         |SELECT o_orderpriority, n, CAST(n_pos AS BIGINT) AS n_pos,
         |  CASE WHEN n > 1 THEN CAST(floor(1000000 * (n_pos - 1) / (n - 1)) AS BIGINT)
         |  END AS loo_pos_ppm,
         |  CASE WHEN n > 1 THEN CAST(floor(1000000 * n_pos / (n - 1)) AS BIGINT)
         |  END AS loo_neg_ppm,
         |  CAST(round(1000000.0 * (n_pos + 10.0 * p_tot / n_tot) / (n + 10.0))
         |       AS BIGINT) AS smoothed_ppm
         |FROM cat, prior ORDER BY o_orderpriority""".stripMargin),
    QueryDef("q_feat_woe", qFeatWoe,
      s"""WITH $labelCte,
         |cat AS (SELECT o_orderpriority, sum(late) AS pos,
         |               sum(1 - late) AS neg
         |        FROM lab GROUP BY 1),
         |tot AS (SELECT sum(late) AS p_tot, sum(1 - late) AS q_tot FROM lab),
         |terms AS (
         |  SELECT o_orderpriority, pos, neg,
         |    CAST(round(1e9 * ln(((pos + 0.5) * q_tot) /
         |      ((neg + 0.5) * p_tot))) AS BIGINT) AS woe_nnat
         |  FROM cat, tot),
         |iv AS (
         |  SELECT t.*, CAST(round((CAST(pos AS DOUBLE) / p_tot -
         |    CAST(neg AS DOUBLE) / q_tot) * woe_nnat) AS BIGINT) AS iv_nnat
         |  FROM terms t, tot)
         |SELECT o_orderpriority, CAST(pos AS BIGINT) AS pos,
         |  CAST(neg AS BIGINT) AS neg, woe_nnat, iv_nnat,
         |  (SELECT CAST(sum(iv_nnat) AS BIGINT) FROM iv) AS iv_total_nnat
         |FROM iv ORDER BY o_orderpriority""".stripMargin),
  )
}
