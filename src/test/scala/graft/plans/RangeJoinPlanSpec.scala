package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Contract of the native bucketed range join (logical node +
  * optimizer rewrite) against Scala models of its semantics, plus the
  * plan shape and the naive-join rewrite.
  *
  * The explicit nodes take their bucket width (100 here); the naive
  * rewrite always buckets by 1 h with a 64-bucket cap, so its fixtures
  * carry times in `unit` = 1/100 h (the explicit-node fixtures scaled,
  * same bucket geometry) or in whole hours where a row must be wider
  * than the cap.
  */
class RangeJoinPlanSpec extends SparkSpec {
  import spark.implicits._

  private val H = RangeJoinRewrite.naiveBucketWidthUs
  private val unit = H / 100

  // left intervals: key, id, [lo, hi]; one inverted-interval-free mix
  // of matched / unmatched / multi-bucket rows
  private val leftRows = Seq(
    (1L, 10L, 100L, 250L),   // spans 3 buckets of 100
    (1L, 11L, 400L, 450L),   // no clicks inside
    (2L, 20L, 0L, 99L),      // single bucket
    (3L, 30L, 500L, 700L)    // key with no right rows
  )
  private val rightRows = Seq(
    (1L, 120L, "a"), (1L, 250L, "b"), (1L, 260L, "c"), (1L, 399L, "d"),
    (2L, 50L, "e"), (2L, 100L, "f"),
    (4L, 600L, "g")
  )

  private def leftDf: DataFrame = leftRows.toDF("k", "id", "lo", "hi")
  private def rightDf: DataFrame = rightRows.toDF("k", "t", "payload")

  // the same rows in naive-rewrite units: 100 -> 1 h
  private val leftU = leftRows.map { case (k, id, lo, hi) => (k, id, lo * unit, hi * unit) }
  private val rightU = rightRows.map { case (k, t, p) => (k, t * unit, p) }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def rowStrings(rows: Seq[Row]): Seq[String] = rows.map(_.toString).sorted

  /** The plain inner point-in-interval join, enumerated: rows
    * `left ++ right` (`Row` of both tuples) where keys match (when
    * `keyed`) and `lo <= t <= hi`, a NULL bound matching nothing.
    */
  private def innerModel(left: Seq[(Long, Long, Option[Long], Option[Long])],
      right: Seq[(Long, Long, String)], keyed: Boolean = true): Seq[String] =
    rowStrings(for {
      (k, id, lo, hi) <- left; (rk, t, p) <- right
      if (!keyed || k == rk) && lo.exists(t >= _) && hi.exists(t <= _)
    } yield Row(k, id, lo.getOrElse(null), hi.getOrElse(null), rk, t, p))

  private def bounded(rows: Seq[(Long, Long, Long, Long)]) =
    rows.map { case (k, id, lo, hi) => (k, id, Option(lo), Option(hi)) }

  private def naiveJoin(l: DataFrame, r: DataFrame): DataFrame =
    l.as("l").join(r.as("r"),
      col("l.k") === col("r.k") &&
        col("r.t") >= col("l.lo") && col("r.t") <= col("l.hi"))

  test("native node equals the Scala model (inner and left_outer)") {
    val w = 100L
    def hits(k: Long, lo: Long, hi: Long) =
      rightRows.filter { case (rk, t, _) => rk == k && t >= lo && t <= hi }
    // inner: every (left, right) pair of one key with lo <= t <= hi
    val inner = for {
      (k, id, lo, hi) <- leftRows; (_, t, p) <- hits(k, lo, hi)
    } yield Row(k, id, lo, hi, t, p)
    // left_outer: per BUCKET COPY of a left row, its hits in that
    // bucket, or one null-payload row if there are none
    val leftOuter = for {
      (k, id, lo, hi) <- leftRows
      b <- Math.floorDiv(lo, w) to Math.floorDiv(hi, w)
      inB = hits(k, lo, hi).filter { case (_, t, _) => Math.floorDiv(t, w) == b }
      row <- (if (inB.isEmpty) Seq(Row(k, id, lo, hi, null, null))
              else inB.map { case (_, t, p) => Row(k, id, lo, hi, t, p) })
    } yield row
    for ((jt, model) <- Seq("inner" -> inner, "left_outer" -> leftOuter)) {
      val native = RangeJoinPlan.joinPointsInInterval(
        leftDf, rightDf, Seq("k"), "lo", "hi", "t",
        bucketWidth = w, payloadCols = Seq("t", "payload"), joinType = jt)
      assert(sortedRows(native) == rowStrings(model), s"joinType=$jt")
    }
    // value sanity on the inner pair set, independent of the model
    val pairs = RangeJoinPlan.joinPointsInInterval(
        leftDf, rightDf, Seq("k"), "lo", "hi", "t",
        bucketWidth = 100L, payloadCols = Seq("payload"))
      .select("id", "payload").as[(Long, String)]
      .collect().sorted.toSeq
    assert(pairs == Seq((10L, "a"), (10L, "b"), (20L, "e")))
  }

  test("expanded plan: generate + single equi join on (key, bucket), no NLJ") {
    val native = RangeJoinPlan.joinPointsInInterval(
      leftDf, rightDf, Seq("k"), "lo", "hi", "t",
      bucketWidth = 100L, payloadCols = Seq("payload"))
    val physical = native.queryExecution.executedPlan.toString
    assert(physical.contains("Generate explode"), physical)
    assert(!physical.contains("BroadcastNestedLoopJoin"), physical)
    assert(!physical.contains("CartesianProduct"), physical)
    // the bucket column is an EQUI key of the join (the rewrite's whole
    // point: candidates meet on (key, bucket), not via an inequality)
    val optimized = native.queryExecution.optimizedPlan
    val joins = optimized.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }
    assert(joins.nonEmpty)
    val equiKeyNames = joins.flatMap(_.condition).flatMap { c =>
      c.collect {
        case org.apache.spark.sql.catalyst.expressions.EqualTo(
            a: org.apache.spark.sql.catalyst.expressions.Attribute,
            b: org.apache.spark.sql.catalyst.expressions.Attribute) =>
          Seq(a.name, b.name)
      }.flatten
    }
    assert(equiKeyNames.contains("__graft_bkt") &&
      equiKeyNames.contains("__graft_rbkt"), equiKeyNames.toString)
  }

  test("inverted or over-wide intervals raise instead of exploding") {
    val bad = Seq((1L, 99L, 500L, 100L)).toDF("k", "id", "lo", "hi")
    val native = RangeJoinPlan.joinPointsInInterval(
      bad, rightDf, Seq("k"), "lo", "hi", "t",
      bucketWidth = 100L, payloadCols = Seq("payload"))
    val e = intercept[Exception](native.count())
    assert(e.getMessage.contains("range join interval"),
      s"unexpected: ${e.getMessage}")
  }

  test("default-on rule rebuckets a naive inequality join written as a plain join") {
    val l = leftU.toDF("k", "id", "lo", "hi")
    val r = rightU.toDF("k", "t", "payload")
    val on = naiveJoin(l, r)
    val opt = on.queryExecution.optimizedPlan.toString
    assert(opt.contains("__graft_bkt"), opt)
    assert(sortedRows(on) == innerModel(bounded(leftU), rightU))
    // strict bounds keep their strictness through the rewrite
    val strict = l.as("l").join(r.as("r"),
      col("l.k") === col("r.k") &&
        col("r.t") > col("l.lo") && col("r.t") < col("l.hi"))
    assert(strict.queryExecution.optimizedPlan.toString
      .contains("__graft_bkt"))
    val strictPairs = strict.select(col("id"), col("payload"))
      .as[(Long, String)].collect().sorted.toSeq
    assert(strictPairs == Seq((10L, "a"), (20L, "e"))) // b sits at t = hi
  }

  test("native overlap node: Scala model, dedup, malformed rows raise") {
    // left sessions and right windows with touching, nested, disjoint
    // and multi-shared-bucket overlaps
    val lRows = Seq(
      (1L, 10L, 100L, 250L),  // overlaps w1 (shares 2 buckets) + touches w2
      (1L, 11L, 400L, 450L),  // disjoint from all
      (2L, 20L, 0L, 320L),    // nests w3
      (3L, 30L, 500L, 700L)   // key with no right rows
    )
    val rRows = Seq(
      (1L, 150L, 260L, "w1"), (1L, 250L, 300L, "w2"), (1L, 460L, 470L, "w3x"),
      (2L, 100L, 150L, "w3"),
      (4L, 600L, 650L, "w4")
    )
    val lIv = lRows.toDF("k", "id", "s_lo", "s_hi")
    val rIv = rRows.toDF("k", "w_lo", "w_hi", "wname")
    val native = RangeJoinPlan.joinIntervalsOverlap(
      lIv, rIv, Seq("k"), "s_lo", "s_hi", "w_lo", "w_hi",
      bucketWidth = 100L, payloadCols = Seq("w_lo", "w_hi", "wname"))
    val model = for {
      (k, id, slo, shi) <- lRows; (rk, wlo, whi, wn) <- rRows
      if k == rk && math.max(slo, wlo) <= math.min(shi, whi)
    } yield Row(k, id, slo, shi, wlo, whi, wn)
    // a multiset compare: each overlapping pair exactly once
    // (canonical-bucket dedup)
    assert(sortedRows(native) == rowStrings(model))
    // the expected pair set: (10,w1) shares buckets 1 and 2, (10,w2)
    // touches at 250, (20,w3) nested
    val pairs = native.select("id", "wname").as[(Long, String)]
      .collect().sorted.toSeq
    assert(pairs == Seq((10L, "w1"), (10L, "w2"), (20L, "w3")))
    // plan shape: two Generates, equi join on the bucket attrs, no NLJ
    val phys = native.queryExecution.executedPlan.toString
    assert(!phys.contains("BroadcastNestedLoopJoin") &&
      !phys.contains("CartesianProduct"), phys)
    assert(phys.contains("Generate explode"), phys)
    val opt = native.queryExecution.optimizedPlan.toString
    assert(opt.contains("__graft_bkt") && opt.contains("__graft_rbkt"), opt)
    // malformed (inverted) intervals keep the explicit-node raise
    val bad = Seq((1L, 99L, 500L, 100L)).toDF("k", "id", "s_lo", "s_hi")
    val e = intercept[Exception](RangeJoinPlan.joinIntervalsOverlap(
      bad, rIv, Seq("k"), "s_lo", "s_hi", "w_lo", "w_hi",
      bucketWidth = 100L, payloadCols = Seq("wname")).count())
    assert(e.getMessage.contains("overlap join left interval"),
      s"unexpected: ${e.getMessage}")
  }

  test("naive rewrite preserves inner-join semantics for NULL and inverted intervals") {
    // the ORIGINAL join emits no match for a NULL or inverted interval
    // row; the rewrite must do the same instead of raising (raise is
    // reserved for the explicit node and the fan-out cap)
    val messy = Seq(
      (1L, 10L, Some(100L), Some(250L)), // normal: matches a, b
      (1L, 12L, None, Some(300L)),       // NULL lo
      (1L, 13L, Some(100L), None),       // NULL hi
      (2L, 21L, Some(99L), Some(50L))    // inverted hi < lo
    )
    def scaled(s: Long) = messy.map { case (k, id, lo, hi) =>
      (k, id, lo.map(_ * s), hi.map(_ * s)) }
    def rightScaled(s: Long) = rightRows.map { case (k, t, p) => (k, t * s, p) }
    val on = naiveJoin(scaled(unit).toDF("k", "id", "lo", "hi"),
      rightScaled(unit).toDF("k", "t", "payload"))
    assert(on.queryExecution.optimizedPlan.toString.contains("__graft_bkt"))
    // no crash, identical rows
    assert(sortedRows(on) == innerModel(scaled(unit), rightScaled(unit)))
    // over-wide intervals take the wide-row fallback (the original
    // join restricted to those rows) instead of raising: in whole
    // hours the normal row spans 151 buckets, past the 64 cap, so the
    // whole result flows through the fallback branch of the Union and
    // must still equal the original join
    val wide = naiveJoin(scaled(H).toDF("k", "id", "lo", "hi"),
      rightScaled(H).toDF("k", "t", "payload"))
    assert(wide.queryExecution.optimizedPlan.toString.contains("Union"),
      wide.queryExecution.optimizedPlan.toString)
    val wideRows = sortedRows(wide)
    assert(wideRows == innerModel(scaled(H), rightScaled(H)))
    assert(wideRows.length == 2, wideRows.toString)
  }

  test("wide-row fallback: narrow and wide intervals split across the Union, no dupes") {
    // whole hours: id 10 spans 101 buckets (wide, fallback branch);
    // ids 11 and 20 span 11 and 1 (narrow, bucketed branch) — every
    // expected row must arrive exactly once through exactly one branch
    val left = Seq(
      (1L, 10L, 0L, 100L), (1L, 11L, 200L, 210L), (2L, 20L, 5L, 5L)
    ).map { case (k, id, lo, hi) => (k, id, lo * H, hi * H) }
    val right = Seq(
      (1L, 50L, "a"), (1L, 100L, "b"), (1L, 150L, "c"), (1L, 205L, "d"),
      (2L, 5L, "e")
    ).map { case (k, t, p) => (k, t * H, p) }
    val mixed = naiveJoin(left.toDF("k", "id", "lo", "hi"),
      right.toDF("k", "t", "payload"))
    val opt = mixed.queryExecution.optimizedPlan.toString
    assert(opt.contains("Union") && opt.contains("__graft_bkt"), opt)
    val expected = innerModel(bounded(left), right)
    assert(expected.length == 4, expected.toString)
    assert(sortedRows(mixed) == expected)
  }

  test("naive rewrite cap: 63 and 64 buckets explode, 65 falls back") {
    // [0, 62 h] covers 63 hour buckets, [0, 63 h] 64 and [0, 64 h] 65;
    // id 4 is the 64-bucket span off the bucket grid (half-hour start)
    val half = H / 2
    val left = Seq((1L, 1L, 0L, 62 * H), (1L, 2L, 0L, 63 * H),
      (1L, 3L, 0L, 64 * H), (1L, 4L, half, 63 * H + half))
    // points at both ends of every interval and one past each
    val right = (Seq(0L, half, 62 * H, 63 * H, 63 * H + half, 64 * H) ++
      Seq(62 * H + 1, 63 * H + 1, 63 * H + half + 1, 64 * H + 1))
      .zipWithIndex.map { case (t, i) => (1L, t, s"p$i") }
    val joined = naiveJoin(left.toDF("k", "id", "lo", "hi"),
      right.toDF("k", "t", "payload"))
    assert(sortedRows(joined) == innerModel(bounded(left), right))
    // the bucketed branch explodes exactly the three narrow intervals
    // (63 + 64 + 64 bucket rows); the 65-bucket one never reaches it
    val generated = finalNodes(joined.queryExecution.executedPlan).collect {
      case g: org.apache.spark.sql.execution.GenerateExec =>
        g.metrics("numOutputRows").value
    }
    assert(generated.sum == 63L + 64L + 64L, generated.toString)
  }

  /** Every node of an executed (possibly adaptive) plan, descending
    * into query stages, which are leaves to `collect`.
    */
  private def finalNodes(plan: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    val top = plan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    def allNodes(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = {
      val kids = p match {
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          Seq(q.plan)
        case other => other.children
      }
      p +: kids.flatMap(allNodes)
    }
    allNodes(top)
  }

  test("keyless naive inequality join rebuckets away from NLJ") {
    val keyless = leftU.toDF("k", "id", "lo", "hi")
      .join(rightU.toDF("rk", "t", "payload"),
        col("t") >= col("lo") && col("t") <= col("hi"))
    assert(sortedRows(keyless) == innerModel(bounded(leftU), rightU, keyed = false))
    // the data path is the bucket explode; a nested-loop join may
    // exist ONLY as the wide-row fallback branch, which must process
    // zero rows on this all-narrow fixture
    val phys = keyless.queryExecution.executedPlan
    val nodes = finalNodes(phys)
    assert(nodes.exists(_.toString.startsWith("Generate explode")) ||
      phys.toString.contains("Generate explode"), phys.toString)
    val nljRows = nodes.collect {
      case b: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec =>
        b.metrics("numOutputRows").value
    }
    assert(nljRows.forall(_ == 0L),
      s"wide-row fallback NLJ must see no rows here: $nljRows\n$phys")
  }

  test("naive rewrite skips joins whose children can't be safely duplicated") {
    // The rewrite's Union shape evaluates both child subtrees once per
    // branch; children with nondeterministic expressions or
    // Sample/Limit operators would yield a different row set per
    // evaluation, so such joins must be left exactly as written.
    def cond = col("l.k") === col("r.k") &&
      col("r.t") >= col("l.lo") && col("r.t") <= col("l.hi")
    def planOf(df: DataFrame): String =
      df.queryExecution.optimizedPlan.toString
    // control: plain deterministic children ARE rewritten
    val ctl = leftDf.as("l").join(rightDf.as("r"), cond)
    assert(planOf(ctl).contains("__graft_bkt"), planOf(ctl))
    // ConvertToLocalRelation eagerly folds Project/Filter/Limit over
    // a LocalRelation (even nondeterministic ones — they become
    // materialized literals, at which point duplication IS safe), so
    // each hazard sits above a repartition, the shape it takes over
    // any real source.
    // nondeterministic filter (the rand()-sampling idiom): left alone
    val nd = leftDf.repartition(2).filter(rand(seed = 7L) < lit(0.9))
      .as("l").join(rightDf.as("r"), cond)
    assert(!planOf(nd).contains("__graft_bkt"), planOf(nd))
    // Sample on the interval side: left alone
    val samp = leftDf.repartition(2).sample(0.9, seed = 7L).as("l")
      .join(rightDf.as("r"), cond)
    assert(!planOf(samp).contains("__graft_bkt"), planOf(samp))
    // Limit on the point side: left alone
    val lim = leftDf.as("l")
      .join(rightDf.repartition(2).limit(5).as("r"), cond)
    assert(!planOf(lim).contains("__graft_bkt"), planOf(lim))
  }

  test("naive OVERLAP rewrite: bucketed + fallback union equals the plain join") {
    // intervals covering every routing class: normal overlap
    // (bucketed), inverted lo>hi (still matches naively when the
    // bounds straddle the partner — MUST take the fallback, the
    // bucketed branch would wrongly drop it), NULL bound (matches
    // nothing), and over-wide spans (> 64 buckets, fallback); times
    // in `unit`, so 100 is one bucket
    val lRows = Seq(
      (1L, 10L, Option(100L), Option(250L)),   // normal
      (1L, 11L, Option(500L), Option(400L)),   // inverted, can match
      (1L, 12L, Option.empty[Long], Option(300L)), // NULL lo
      (2L, 20L, Option(0L), Option(7000L)),    // wide: 71 buckets
      (2L, 21L, Option(150L), Option(160L))    // normal
    )
    val rRows = Seq(
      (1L, 90L, Option(200L), Option(300L)),   // overlaps 10
      (1L, 91L, Option(300L), Option(600L)),   // straddles inverted 11
      (1L, 92L, Option(260L), Option(270L)),   // overlaps nothing valid
      (2L, 93L, Option(100L), Option(180L)),   // overlaps 20 (wide) + 21
      (2L, 94L, Option(5000L), Option(90L))    // inverted right side
    )
    def scale(o: Option[Long]) = o.map(_ * unit)
    val lhs = lRows.map { case (k, id, lo, hi) => (k, id, scale(lo), scale(hi)) }
    val rhs = rRows.map { case (k, id, lo, hi) => (k, id, scale(lo), scale(hi)) }
    lhs.toDF("k", "id", "lo", "hi").createOrReplaceTempView("ovl_l")
    rhs.toDF("k", "rid", "rlo", "rhi").createOrReplaceTempView("ovl_r")
    try {
      val on = spark.sql(
        """SELECT l.k, l.id, r.rid FROM ovl_l l JOIN ovl_r r
          |  ON l.k = r.k AND l.lo <= r.rhi AND r.rlo <= l.hi""".stripMargin)
      val opt = on.queryExecution.optimizedPlan.toString
      assert(opt.contains("__graft_bkt") && opt.contains("__graft_rbkt"), opt)
      assert(opt.contains("Union"), opt)
      val expected = rowStrings(for {
        (k, id, lo, hi) <- lhs; (rk, rid, rlo, rhi) <- rhs
        if k == rk && (for (a <- lo; b <- rhi; c <- rlo; d <- hi)
          yield a <= b && c <= d).contains(true)
      } yield Row(k, id, rid))
      assert(sortedRows(on) == expected,
        s"on=${sortedRows(on)}\nexpected=$expected")
      // the inverted-but-matching pair (11, 91) and the wide row's
      // pair (20, 93) can only come through the fallback branch
      assert(expected.contains(Row(1L, 11L, 91L).toString) &&
        expected.contains(Row(2L, 20L, 93L).toString), expected.toString)
    } finally {
      spark.catalog.dropTempView("ovl_l")
      spark.catalog.dropTempView("ovl_r")
    }
  }
}
