package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{Inner, LeftOuter}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, Filter, Generate, GlobalLimit, HintInfo, Join, JoinHint, LocalLimit, LogicalPlan, Offset, Project, SHUFFLE_MERGE, Sample, Tail, Union}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.GraftSqlBridge
import org.apache.spark.sql.types.{ArrayType, LongType, StringType}

/** The bucketed range join as a first-class Catalyst operator — the
  * second rung of the custom-operator ladder next to [[AsOfJoinPlan]]:
  *
  *   - [[RangeJoinPlan]] declares the semantics (left intervals
  *     `[lo, hi]`, right points, equi keys, inner or left-outer);
  *   - [[RangeJoinRewrite]] — injected via
  *     `SparkSessionExtensions.injectOptimizerRule` in
  *     [[graft.core.GraftExtensions]] — expands the node into the
  *     bucket-explode composition (bounded `sequence` fan-out guarded
  *     by `raise_error`, bucket-stamped right side, ONE shuffle on
  *     (key, bucket), exact interval predicate re-applied);
  *   - the SAME rule also recognizes a user's NAIVE inequality join —
  *     `l JOIN r ON l.k = r.k AND r.t BETWEEN l.lo AND l.hi`, which
  *     Spark would otherwise execute as a per-key cartesian (or a
  *     BroadcastNestedLoopJoin when keyless) — and always applies the
  *     rewrite to it, so ANY inequality join in ANY plan (including
  *     `spark.sql` text) gets the bucketed plan, with fixed
  *     [[RangeJoinRewrite.naiveBucketWidthUs]] (1 h) buckets and a
  *     [[RangeJoinRewrite.naiveMaxBuckets]] (64) fan-out cap. A
  *     normalized plan sweep of the full batch inventory showed ZERO
  *     plan changes from the rewrite — the match conditions (a LongType
  *     point attribute bounded on both sides by the opposite relation)
  *     fire only on the naive shape the rule exists for (BASELINE.md
  *     round-14 trial).
  *     The naive rewrite is FULLY semantics-preserving: a NULL or
  *     inverted interval emits no match (exactly what the original
  *     inner join did), and rows whose interval spans more than
  *     the cap take a WIDE-ROW FALLBACK — the
  *     original join shape restricted to exactly those rows, unioned
  *     with the bucketed branch — so the heavy tail degrades to the
  *     plan the user wrote instead of raising or exploding. Only the
  *     explicit node keeps its documented raise-on-malformed contract.
  *     Two caveats of the Union shape: (1) both child subtrees are
  *     evaluated once per branch, so joins whose children contain
  *     nondeterministic expressions or Sample/Limit/Offset/Tail are
  *     NOT rewritten (each branch would see a different row set);
  *     (2) the fallback branch re-scans both inputs even when zero
  *     rows are wide — the extra scan is the price of zero behavior
  *     change, bounded by one pass over each input.
  *
  * Semantics: both interval ends inclusive, integer-microsecond
  * times, left-outer emits null-payload rows per unmatched bucket copy
  * for null-ignoring aggregation; RangeJoinPlanSpec checks the rows
  * against a Scala model of that contract and q_evt_range_join
  * registers through this node against the DuckDB oracle.
  */
case class RangeJoinPlan(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Attribute],
    rightKeys: Seq[Attribute],
    leftLo: Attribute,
    leftHi: Attribute,
    rightTime: Attribute,
    bucketWidth: Long,
    maxBucketsPerRow: Int,
    isLeftOuter: Boolean) extends BinaryNode {

  require(leftKeys.length == rightKeys.length)
  require(bucketWidth > 0, "bucketWidth must be positive")
  require(maxBucketsPerRow > 0, "maxBucketsPerRow must be positive")
  require(leftLo.dataType == LongType && leftHi.dataType == LongType &&
    rightTime.dataType == LongType,
    "range join bound/time columns must be integer (LongType) — pass unix_micros")

  override def output: Seq[Attribute] =
    left.output ++
      (if (isLeftOuter) right.output.map(_.withNullability(true))
       else right.output)

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): RangeJoinPlan =
    copy(left = newLeft, right = newRight)
}

/** Interval-interval overlap join as a first-class Catalyst node —
  * the window-vs-window member of the temporal-join family
  * ([[AsOfJoinPlan]] = latest-before, [[RangeJoinPlan]] =
  * point-in-window): left rows carry
  * `[leftLo, leftHi]`, right rows `[rightLo, rightHi]` (integer
  * microseconds, both ends inclusive), a pair matches when
  * `max(lo) <= min(hi)`. [[RangeJoinRewrite]] expands it to the
  * double-bucket-explode composition with the canonical-bucket dedup
  * (a pair survives only in the bucket of `greatest(leftLo,
  * rightLo)` — the first shared bucket — so the equi-join needs no
  * distinct pass). Inner join only; both fan-outs capped by
  * `maxBucketsPerRow` with the explicit node's raise-on-malformed
  * contract.
  */
case class OverlapJoinPlan(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Attribute],
    rightKeys: Seq[Attribute],
    leftLo: Attribute,
    leftHi: Attribute,
    rightLo: Attribute,
    rightHi: Attribute,
    bucketWidth: Long,
    maxBucketsPerRow: Int) extends BinaryNode {

  require(leftKeys.length == rightKeys.length && leftKeys.nonEmpty,
    "overlap join needs at least one equi key")
  require(bucketWidth > 0, "bucketWidth must be positive")
  require(maxBucketsPerRow > 0, "maxBucketsPerRow must be positive")
  require(Seq(leftLo, leftHi, rightLo, rightHi).forall(_.dataType == LongType),
    "overlap join bound columns must be integer (LongType) — pass unix_micros")

  override def output: Seq[Attribute] = left.output ++ right.output

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): OverlapJoinPlan =
    copy(left = newLeft, right = newRight)
}

object RangeJoinPlan {

  /** Inner- or left-outer-join the right points into the left
    * intervals; returns `left.*` plus `payloadCols` (one row per
    * matched pair — aggregate downstream for counts).
    *
    * @param keys        equi-join key columns present on both sides
    * @param leftLo      left interval start (integer micros, inclusive)
    * @param leftHi      left interval end (integer micros, inclusive)
    * @param rightTime   right event-time column (integer micros)
    * @param bucketWidth bucket width in microseconds: wide buckets mean
    *                    fewer explode rows, narrow ones fewer false
    *                    candidates reaching the exact filter
    * @param maxBucketsPerRow declared fan-out bound; a left interval
    *                    spanning more buckets (or inverted, hi < lo, or
    *                    NULL-bounded) raises an error rather than
    *                    exploding
    * @param joinType    "inner" (default) emits matched pairs only;
    *                    "left_outer" keeps every left row: each bucket
    *                    copy of a left row whose candidates all miss
    *                    survives with null payload, so left-outer output
    *                    is for null-ignoring aggregation (count/max over
    *                    the payload) downstream
    */
  def joinPointsInInterval(left: DataFrame, right: DataFrame,
      keys: Seq[String], leftLo: String, leftHi: String,
      rightTime: String, bucketWidth: Long, payloadCols: Seq[String],
      maxBucketsPerRow: Int = 64, joinType: String = "inner"): DataFrame = {
    require(Set("inner", "left_outer")(joinType),
      s"joinType must be inner or left_outer, got $joinType")
    val collide = payloadCols.toSet.intersect(left.columns.toSet)
    require(collide.isEmpty, s"payload columns collide with left: $collide")
    val rightPruned = right.select(
      (keys ++ Seq(rightTime) ++ payloadCols).distinct.map(col): _*)
    val lPlan = GraftSqlBridge.analyzedPlan(left)
    // fresh exprIds on the right side: both sides routinely derive from
    // the same cached relation (same re-alias trick as AsOfJoinPlan)
    val rPlan0 = GraftSqlBridge.analyzedPlan(rightPruned)
    val rPlan: LogicalPlan =
      Project(rPlan0.output.map(a => Alias(a, a.name)()), rPlan0)
    def attr(p: LogicalPlan, n: String): Attribute =
      p.output.find(_.name == n).getOrElse(sys.error(s"no column $n"))
    val node = RangeJoinPlan(lPlan, rPlan,
      keys.map(attr(lPlan, _)), keys.map(attr(rPlan, _)),
      attr(lPlan, leftLo), attr(lPlan, leftHi), attr(rPlan, rightTime),
      bucketWidth, maxBucketsPerRow, joinType == "left_outer")
    val rightOut = node.output.drop(lPlan.output.length)
    val keep = lPlan.output ++
      payloadCols.map(n => rightOut.find(_.name == n).get)
    GraftSqlBridge.ofRows(left.sparkSession, Project(keep, node))
  }

  /** Inner-join every right interval `[rightLo, rightHi]` that
    * overlaps a left interval of the same key (both ends inclusive, so
    * touching intervals match); returns `left.*` plus `payloadCols`,
    * each pair exactly once. Both sides' bucket fan-outs are capped by
    * `maxBucketsPerRow` with the explicit node's raise-on-malformed
    * contract.
    */
  def joinIntervalsOverlap(left: DataFrame, right: DataFrame,
      keys: Seq[String], leftLo: String, leftHi: String,
      rightLo: String, rightHi: String, bucketWidth: Long,
      payloadCols: Seq[String], maxBucketsPerRow: Int = 64): DataFrame = {
    val collide = payloadCols.toSet.intersect(left.columns.toSet)
    require(collide.isEmpty, s"payload columns collide with left: $collide")
    val rightPruned = right.select(
      (keys ++ Seq(rightLo, rightHi) ++ payloadCols).distinct.map(col): _*)
    val lPlan = GraftSqlBridge.analyzedPlan(left)
    val rPlan0 = GraftSqlBridge.analyzedPlan(rightPruned)
    val rPlan: LogicalPlan =
      Project(rPlan0.output.map(a => Alias(a, a.name)()), rPlan0)
    def attr(p: LogicalPlan, n: String): Attribute =
      p.output.find(_.name == n).getOrElse(sys.error(s"no column $n"))
    val node = OverlapJoinPlan(lPlan, rPlan,
      keys.map(attr(lPlan, _)), keys.map(attr(rPlan, _)),
      attr(lPlan, leftLo), attr(lPlan, leftHi),
      attr(rPlan, rightLo), attr(rPlan, rightHi),
      bucketWidth, maxBucketsPerRow)
    val rightOut = node.output.drop(lPlan.output.length)
    val keep = lPlan.output ++
      payloadCols.map(n => rightOut.find(_.name == n).get)
    GraftSqlBridge.ofRows(left.sparkSession, Project(keep, node))
  }
}

/** Expands [[RangeJoinPlan]] into the bucket-explode composition, and
  * rewrites every eligible naive inequality join into the same shape
  * with [[RangeJoinRewrite.naiveBucketWidthUs]] buckets. Runs
  * inside the operator-optimization fixed point; both rewrites emit
  * only equality join conditions, so neither re-matches its own
  * output.
  */
class RangeJoinRewrite extends Rule[LogicalPlan] with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case rj: RangeJoinPlan =>
      val rangePred = And(
        GreaterThanOrEqual(rj.rightTime, rj.leftLo),
        LessThanOrEqual(rj.rightTime, rj.leftHi))
      expand(rj.left, rj.right, rj.leftKeys.zip(rj.rightKeys),
        rj.leftLo, rj.leftHi, rj.rightTime, rangePred,
        rj.bucketWidth, rj.maxBucketsPerRow, rj.isLeftOuter, rj.output,
        strict = true)
    case oj: OverlapJoinPlan => expandOverlap(oj)
    case j @ Join(_, _, Inner, Some(_), _) => rewriteNaive(j).getOrElse(j)
  }

  /** Floor bucket of an integer-microsecond time: exact for negative
    * epochs too (the pmod subtraction makes the dividend exactly
    * divisible, so truncating division IS floor division).
    */
  private def bkt(t: Expression, w: Long): Expression =
    new IntegralDivide(new Subtract(t, new Pmod(t, Literal(w))), Literal(w))

  /** The shared expansion. `exactPred` re-applies the ORIGINAL range
    * conjuncts (plus any residual predicates from a naive match), so
    * strict bounds keep their strictness — the buckets only ever admit
    * a superset of candidates.
    *
    * `strict` selects the malformed-interval contract. The explicit
    * [[RangeJoinPlan]] node documents raise-on-malformed (NULL bound,
    * hi < lo, or over-wide interval all fail loudly). The NAIVE
    * rewrite must preserve the semantics of the join it replaces: an
    * inner join simply emits no match for a NULL or inverted interval
    * row, so those map to a null bucket array (explode of null emits
    * zero rows); over-wide intervals also map to null here because the
    * naive caller re-routes them through its wide-row fallback join —
    * nothing in the naive path ever raises.
    */
  private def expand(left: LogicalPlan, right: LogicalPlan,
      keyPairs: Seq[(Attribute, Attribute)], lo: Expression, hi: Expression,
      rt: Attribute, exactPred: Expression, width: Long, maxBuckets: Int,
      isLeftOuter: Boolean, outAttrs: Seq[Attribute],
      strict: Boolean): LogicalPlan = {
    val buckets =
      if (strict) cappedSeq(lo, hi, width, maxBuckets, "range join")
      else {
        val loB = bkt(lo, width)
        val hiB = bkt(hi, width)
        val narrowEnough =
          LessThan(new Subtract(hiB, loB), Literal(maxBuckets.toLong))
        // Sequence is TimeZoneAwareExpression: without a timeZoneId it
        // stays unresolved, which post-analysis plan validation rejects
        // (the tz is irrelevant for integral sequences but must be
        // present)
        val seq =
          new Sequence(loB, hiB, None, Option(conf.sessionLocalTimeZone))
        // the naive path NEVER raises: malformed (NULL/inverted) rows
        // emit no match, matching the join this rewrite replaces, and
        // rows wider than the cap are dropped HERE because the caller
        // routes them through the original join shape instead (the
        // wide-row fallback Union in rewriteNaive) — branch order
        // matters: IsNull/inverted must win before the width check,
        // whose NULL comparison would otherwise be indeterminate
        CaseWhen(Seq(
          (Or(Or(IsNull(lo), IsNull(hi)), LessThan(hi, lo)),
            Literal.create(null, ArrayType(LongType, containsNull = false))),
          (narrowEnough, seq)),
          Option(Literal.create(null, ArrayType(LongType, containsNull = false))))
      }
    val bktAttr = AttributeReference("__graft_bkt", LongType, nullable = false)()
    val lExp = Generate(Explode(buckets), Nil, outer = false, None,
      Seq(bktAttr), left)
    val rbktAlias = Alias(bkt(rt, width), "__graft_rbkt")()
    val rPrj = Project(right.output :+ rbktAlias, right)
    val equi = keyPairs.map { case (lk, rk) => EqualTo(lk, rk) } :+
      EqualTo(bktAttr, rbktAlias.toAttribute)
    val cond = equi.reduce[Expression](And(_, _))
    val joined =
      if (isLeftOuter)
        // the exact range check must sit in the join CONDITION: as a
        // post-filter it would also drop the null rows that make the
        // join left-outer
        Join(lExp, rPrj, LeftOuter, Some(And(cond, exactPred)), JoinHint.NONE)
      else
        Filter(exactPred, Join(lExp, rPrj, Inner, Some(cond), JoinHint.NONE))
    Project(outAttrs, joined)
  }

  /** Strict capped bucket sequence for one interval — the explicit
    * nodes' shared raise-on-malformed contract (NULL bound, hi < lo,
    * or span over `maxBuckets` all fall to the raise branch).
    */
  private def cappedSeq(lo: Expression, hi: Expression, width: Long,
      maxBuckets: Int, what: String): Expression = {
    val loB = bkt(lo, width)
    val hiB = bkt(hi, width)
    val guard = And(GreaterThanOrEqual(hi, lo),
      LessThan(new Subtract(hiB, loB), Literal(maxBuckets.toLong)))
    val msg = Concat(Seq(
      Literal(s"$what interval exceeds $maxBuckets buckets of " +
        s"$width us (or hi < lo): lo="),
      Cast(lo, StringType), Literal(" hi="), Cast(hi, StringType)))
    val err = new RaiseError(Literal("USER_RAISED_EXCEPTION"),
      CreateMap(Seq(Literal("errorMessage"), msg)),
      ArrayType(LongType, containsNull = false))
    val seq = new Sequence(loB, hiB, None, Option(conf.sessionLocalTimeZone))
    CaseWhen(Seq((guard, seq)), Option(err))
  }

  /** Expand [[OverlapJoinPlan]]: explode BOTH sides' intervals into
    * bucket copies, equi-join on (keys, bucket), keep a pair only if
    * the exact overlap predicate holds AND the met bucket is the one
    * containing `greatest(leftLo, rightLo)` — the first shared
    * bucket, covered by both sides exactly when the intervals
    * overlap — so each pair survives exactly once with no distinct
    * pass.
    */
  private def expandOverlap(oj: OverlapJoinPlan): LogicalPlan = {
    val w = oj.bucketWidth
    val lBkt = AttributeReference("__graft_bkt", LongType, nullable = false)()
    val lExp = Generate(
      Explode(cappedSeq(oj.leftLo, oj.leftHi, w, oj.maxBucketsPerRow,
        "overlap join left")),
      Nil, outer = false, None, Seq(lBkt), oj.left)
    val rBkt = AttributeReference("__graft_rbkt", LongType, nullable = false)()
    val rExp = Generate(
      Explode(cappedSeq(oj.rightLo, oj.rightHi, w, oj.maxBucketsPerRow,
        "overlap join right")),
      Nil, outer = false, None, Seq(rBkt), oj.right)
    val equi = (oj.leftKeys.zip(oj.rightKeys)
      .map { case (lk, rk) => EqualTo(lk, rk) } :+ EqualTo(lBkt, rBkt))
      .reduce[Expression](And(_, _))
    val maxLo = Greatest(Seq(oj.leftLo, oj.rightLo))
    val overlapPred = LessThanOrEqual(maxLo,
      Least(Seq(oj.leftHi, oj.rightHi)))
    val canonical = EqualTo(lBkt, bkt(maxLo, w))
    val joined = Filter(And(overlapPred, canonical),
      Join(lExp, rExp, Inner, Some(equi), JoinHint.NONE))
    Project(oj.output, joined)
  }

  /** Recognize `Join(l, r, Inner, equiKeys && rt >= lo && rt <= hi)`
    * (any mix of strict/inclusive bounds, either operand order, either
    * table order — the interval side may be the join's left OR right —
    * keys optional, extra conjuncts allowed) where rt is one side's
    * LongType attribute and lo/hi are LongType EXPRESSIONS over the
    * other side (`c_us >= p_us - 3600000000` matches without a
    * precomputed bound column). Exactly one bounded time column must
    * emerge, else the join is left alone.
    */
  private def rewriteNaive(j: Join): Option[LogicalPlan] = {
    val Join(l, r, _, Some(cond), _) = j: @unchecked
    val width = RangeJoinRewrite.naiveBucketWidthUs
    val maxBuckets = RangeJoinRewrite.naiveMaxBuckets
    if (l.isStreaming || r.isStreaming) return None
    // The rewrite evaluates BOTH child subtrees in two Union branches
    // (the bucketed plan and the wide-row fallback). That is sound
    // only when each branch re-derives the SAME relation: a child
    // containing a nondeterministic expression (rand() projections) or
    // a sampling/limit operator (Sample/TABLESAMPLE, Limit, Offset,
    // Tail) yields a DIFFERENT row set per evaluation, so rows could
    // be dropped or duplicated relative to a single execution of the
    // join the user wrote. Leave such joins alone. (Cost note for
    // eligible joins: the fallback branch re-scans both inputs even
    // when zero rows are wide — the extra scan+shuffle is the price of
    // zero behavior change on the heavy tail; AQE prunes neither.)
    def unsafeToDuplicate(p: LogicalPlan): Boolean = p.exists {
      case _: Sample | _: GlobalLimit | _: LocalLimit | _: Offset | _: Tail =>
        true
      case node => node.expressions.exists(!_.deterministic)
    }
    if (unsafeToDuplicate(l) || unsafeToDuplicate(r)) return None
    // hinted joins are never rewritten: an explicit hint means the
    // user (or this rule's own wide-row fallback, which carries a
    // SHUFFLE_MERGE hint precisely for this guard) already chose the
    // strategy — JoinHint survives every optimizer rule, unlike a
    // marker column, which ColumnPruning strips the moment nothing
    // consumes it
    if (j.hint != JoinHint.NONE) return None
    // fixed-point guard: PushPredicateThroughJoin hoists our exact-range
    // post-filter back into the join condition on the next iteration,
    // which would re-match this rule forever. A join with the generated
    // bucket column on either side IS our own output.
    if ((l.output ++ r.output).exists(_.name == "__graft_bkt")) return None
    val lSet = l.outputSet
    val rSet = r.outputSet
    // side of an arbitrary expression: 'l', 'r', or neither
    def sideOf(e: Expression): Option[Char] =
      if (e.references.isEmpty) None
      else if (e.references.subsetOf(lSet)) Some('l')
      else if (e.references.subsetOf(rSet)) Some('r')
      else None
    def opposite(s: Char): Char = if (s == 'l') 'r' else 'l'
    var keyPairs = Vector.empty[(Attribute, Attribute)] // (left, right)
    // a comparison with attributes on both sides admits TWO readings
    // (either attribute may be the point, bounded by the other side's
    // expression); enumerate all, resolve globally per candidate side
    final case class Reading(point: Attribute, pside: Char,
        bound: Expression, isLower: Boolean)
    var rangeConjs = Vector.empty[(Expression, Seq[Reading])]
    var leftover = Vector.empty[Expression]
    def readingsOf(hiSide: Expression, loSide: Expression): Seq[Reading] = {
      // normalized to hiSide >= loSide
      def mk(point: Expression, bound: Expression, isLower: Boolean) =
        point match {
          case a: Attribute if a.dataType == LongType &&
              bound.dataType == LongType && bound.deterministic =>
            (sideOf(a), sideOf(bound)) match {
              case (Some(ps), Some(bs)) if bs == opposite(ps) =>
                Some(Reading(a, ps, bound, isLower))
              case _ => None
            }
          case _ => None
        }
      // point = hiSide bounded below by loSide, or point = loSide
      // bounded above by hiSide
      mk(hiSide, loSide, isLower = true).toSeq ++
        mk(loSide, hiSide, isLower = false).toSeq
    }
    splitConjunctivePredicates(cond).foreach {
      case eq @ EqualTo(a: Attribute, b: Attribute)
          if lSet.contains(a) && rSet.contains(b) => keyPairs :+= ((a, b))
      case eq @ EqualTo(a: Attribute, b: Attribute)
          if rSet.contains(a) && lSet.contains(b) => keyPairs :+= ((b, a))
      case c @ GreaterThanOrEqual(x, y) if readingsOf(x, y).nonEmpty =>
        rangeConjs :+= ((c, readingsOf(x, y)))
      case c @ GreaterThan(x, y) if readingsOf(x, y).nonEmpty =>
        rangeConjs :+= ((c, readingsOf(x, y)))
      case c @ LessThanOrEqual(x, y) if readingsOf(y, x).nonEmpty =>
        rangeConjs :+= ((c, readingsOf(y, x)))
      case c @ LessThan(x, y) if readingsOf(y, x).nonEmpty =>
        rangeConjs :+= ((c, readingsOf(y, x)))
      case other => leftover :+= other
    }
    // resolve: try the point on the right first, then on the left; a
    // match needs exactly one lower and one upper reading of the SAME
    // point attribute on that side, with unchosen range conjuncts
    // falling into the exact post-filter
    def resolve(side: Char): Option[LogicalPlan] = {
      val chosen = rangeConjs.map { case (c, rs) =>
        (c, rs.filter(_.pside == side))
      }
      val bounds = chosen.flatMap { case (c, rs) => rs.map(r => (c, r)) }
      val lowers = bounds.filter(_._2.isLower)
      val uppers = bounds.filterNot(_._2.isLower)
      (lowers, uppers) match {
        case (Vector((cLo, rLo)), Vector((cHi, rHi)))
            if rLo.point == rHi.point =>
          val unchosen = rangeConjs.map(_._1).filterNot(c => c == cLo || c == cHi)
          val exact = (Seq(cLo, cHi) ++ unchosen ++ leftover)
            .reduce[Expression](And(_, _))
          // orient: the interval side (carrying lo/hi) becomes expand's
          // "left" (it gets the bucket Generate), the point side its
          // "right"; the top Project restores j.output order either way
          val (intervalSide, pointPlan, orientedKeys) =
            if (side == 'r') (l, r, keyPairs)
            else (r, l, keyPairs.map(_.swap))
          val bucketed = expand(intervalSide, pointPlan, orientedKeys,
            rLo.bound, rHi.bound, rLo.point, exact, width, maxBuckets,
            isLeftOuter = false, j.output, strict = false)
          // Wide-row fallback: intervals spanning more than maxBuckets
          // buckets are DROPPED by the bucketed branch (their explode
          // would be unbounded) and instead take the ORIGINAL join
          // shape, restricted to exactly those rows — so the rewrite
          // has zero observable behavior change: the heavy tail
          // degrades to the plan the user wrote rather than raising.
          // The fallback join carries a SHUFFLE_MERGE JoinHint, which
          // survives every optimizer rule (a marker COLUMN would be
          // stripped by ColumnPruning the moment nothing consumes it —
          // measured as the optimizer thrashing to its 100-iteration
          // cap) and doubles as the fixed-point guard: this rule skips
          // any hinted join, both its own fallback and user-hinted
          // joins, where an explicit hint signals the user already
          // chose a strategy.
          val loB = bkt(rLo.bound, width)
          val hiB = bkt(rHi.bound, width)
          val widePred = And(
            And(IsNotNull(rLo.bound), IsNotNull(rHi.bound)),
            And(GreaterThanOrEqual(rHi.bound, rLo.bound),
              GreaterThanOrEqual(new Subtract(hiB, loB),
                Literal(maxBuckets.toLong))))
          val wideHint = JoinHint(
            Some(HintInfo(strategy = Some(SHUFFLE_MERGE))), None)
          val wideJoin = Project(j.output,
            Join(Filter(widePred, intervalSide), pointPlan, Inner,
              Some(cond), wideHint))
          Some(Union(Seq(bucketed, wideJoin)))
        case _ => None
      }
    }

    /** Overlap shape: two conjuncts bounding two DIFFERENT left
      * attributes against right-side expressions — `l.lo <= r.hi AND
      * r.lo <= l.hi`, the window-vs-window join, which Spark would
      * otherwise plan as a per-key cartesian. Tried only after both
      * point-in-interval resolutions fail (a doubly-bounded single
      * point never reaches here). Needs at least one equi key (a
      * keyless overlap NLJ is left as written). Role assignment is
      * correctness-irrelevant: the exact predicate re-applies the
      * original conjuncts, and the canonical first-shared-bucket
      * filter emits each matching pair exactly once whenever both
      * sides' [lo, hi] are valid and narrow — rows inverted, NULL-
      * bounded, or wider than the cap on EITHER side route through
      * the original join restricted to exactly those pairs
      * (`bad(l) OR bad(r)`), so behavior is unchanged on the tails.
      */
    def resolveOverlap(): Option[LogicalPlan] = {
      if (keyPairs.isEmpty) return None
      val uppersL = rangeConjs.flatMap { case (c, rs) =>
        rs.filter(rd => rd.pside == 'l' && !rd.isLower).map((c, _)) }
      val lowersL = rangeConjs.flatMap { case (c, rs) =>
        rs.filter(rd => rd.pside == 'l' && rd.isLower).map((c, _)) }
      (uppersL, lowersL) match {
        case (Vector((cUp, rUp)), Vector((cDn, rDn)))
            if rUp.point != rDn.point =>
          // lLo is the left attr upper-bounded by the right (so the
          // right bound is rHi); lHi the one lower-bounded (bound rLo)
          val (lLo, lHi) = (rUp.point, rDn.point)
          val (rHi, rLo) = (rUp.bound, rDn.bound)
          val unchosen = rangeConjs.map(_._1)
            .filterNot(c => c == cUp || c == cDn)
          val exact = (Seq(cUp, cDn) ++ unchosen ++ leftover)
            .reduce[Expression](And(_, _))
          def looseSeq(lo: Expression, hi: Expression): Expression = {
            val loB = bkt(lo, width)
            val hiB = bkt(hi, width)
            val nullArr =
              Literal.create(null, ArrayType(LongType, containsNull = false))
            // NULL/inverted first (their width comparison would be
            // indeterminate), then the width cap; anything else
            // explodes into its bucket cover
            CaseWhen(Seq(
              (Or(Or(IsNull(lo), IsNull(hi)), LessThan(hi, lo)), nullArr),
              (LessThan(new Subtract(hiB, loB), Literal(maxBuckets.toLong)),
                new Sequence(loB, hiB, None,
                  Option(conf.sessionLocalTimeZone)))),
              Option(nullArr))
          }
          val lBkt =
            AttributeReference("__graft_bkt", LongType, nullable = false)()
          val lExp = Generate(Explode(looseSeq(lLo, lHi)), Nil,
            outer = false, None, Seq(lBkt), l)
          val rBkt =
            AttributeReference("__graft_rbkt", LongType, nullable = false)()
          val rExp = Generate(Explode(looseSeq(rLo, rHi)), Nil,
            outer = false, None, Seq(rBkt), r)
          val equi = (keyPairs.map { case (lk, rk) => EqualTo(lk, rk) } :+
            EqualTo(lBkt, rBkt)).reduce[Expression](And(_, _))
          val canonical = EqualTo(lBkt, bkt(Greatest(Seq(lLo, rLo)), width))
          val bucketed = Project(j.output,
            Filter(And(exact, canonical),
              Join(lExp, rExp, Inner, Some(equi), JoinHint.NONE)))
          // a row is routed to the fallback when its interval is
          // non-null but inverted or spans more than maxBuckets buckets;
          // NULL-bounded rows can never satisfy the original
          // conjunction, so they may drop from both branches
          def bad(lo: Expression, hi: Expression): Expression =
            And(And(IsNotNull(lo), IsNotNull(hi)),
              Or(GreaterThan(lo, hi),
                GreaterThanOrEqual(
                  new Subtract(bkt(hi, width), bkt(lo, width)),
                  Literal(maxBuckets.toLong))))
          val wideHint = JoinHint(
            Some(HintInfo(strategy = Some(SHUFFLE_MERGE))), None)
          val fallback = Project(j.output,
            Join(l, r, Inner,
              Some(And(cond, Or(bad(lLo, lHi), bad(rLo, rHi)))), wideHint))
          Some(Union(Seq(bucketed, fallback)))
        case _ => None
      }
    }
    resolve('r').orElse(resolve('l')).orElse(resolveOverlap())
  }
}

object RangeJoinRewrite {

  /** Bucket width of the naive-join rewrite: 1 h, in microseconds. */
  val naiveBucketWidthUs: Long = 3600000000L

  /** Bucket fan-out cap of the naive-join rewrite: an interval over
    * more buckets takes the wide-row fallback instead.
    */
  val naiveMaxBuckets: Int = 64
}
