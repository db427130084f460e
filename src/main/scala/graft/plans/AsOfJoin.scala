package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BindReferences, GenericInternalRow, JoinedRow, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.GraftSqlBridge
import org.apache.spark.sql.types.LongType

/** Generic as-of (point-in-time) join as a first-class Catalyst
  * operator: every left row picks up the LATEST right row with the
  * same key whose time is at or before the left row's time — the
  * temporal-attribution / feature-snapshot lookup every training-data
  * pipeline needs (label a purchase with the ad click that preceded
  * it, join an example to the newest feature snapshot as of its
  * cutoff). It is the engine's exemplar of the full custom-operator
  * ladder: a logical node ([[AsOfJoinPlan]]), a planner strategy
  * ([[AsOfJoinStrategy]], injected via
  * `SparkSessionExtensions.injectPlannerStrategy` in
  * [[graft.core.GraftExtensions]]) and a physical operator
  * ([[AsOfJoinExec]]) that declares its distribution/ordering
  * requirements and lets `EnsureRequirements` place the exchanges.
  *
  * Spark ships no ASOF JOIN (only pandas-on-Spark's merge_asof, which
  * plans a broadcast or a union + window), and the naive encoding — an
  * inequality join `r.time <= l.time` + max — plans as a per-key
  * cartesian. The physical operator shuffles each side separately
  * (each exchange carries only its own columns), sorts them
  * independently, and streams a two-pointer merge per co-partition
  * with O(1) state: no row explosion, no window buffering, no
  * null-padded union rows.
  *
  * Semantics (AsOfJoinSpec checks them against a plain-Scala model):
  *  - tie rule: a right row at exactly the left row's time IS matched
  *    ("at or before" is inclusive);
  *  - a left row with no same-key right row at or before it keeps its
  *    row with null payload (left-outer);
  *  - the payload is row-atomic: every payload column comes from the
  *    one matched right row, even where some of its fields are null;
  *  - optional tolerance (same units as the time columns, inclusive):
  *    the latest-at-or-before row only matches if `leftTime -
  *    rightTime <= tolerance` — the merge_asof tolerance rule. The
  *    latest-before row IS the nearest, so a match beyond tolerance
  *    means no in-tolerance row exists; the payload nulls, and no
  *    second lookup is needed.
  *
  * Time columns are integer (LongType) event time on both sides —
  * integer microseconds recommended; sub-microsecond parquet precision
  * truncates differently across engines.
  */
case class AsOfJoinPlan(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Attribute],
    rightKeys: Seq[Attribute],
    leftTime: Attribute,
    rightTime: Attribute,
    tolerance: Option[Long]) extends BinaryNode {

  require(leftKeys.length == rightKeys.length && leftKeys.nonEmpty)
  require(leftTime.dataType == LongType && rightTime.dataType == LongType,
    "as-of time columns must be integer (LongType) event time — pass unix_micros")

  /** Right columns nullable: unmatched left rows pad with nulls. */
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

object AsOfJoinPlan {

  /** Column-level entry; returns `left.*` plus `payloadCols` (null
    * when nothing matches). The projection is built as a logical
    * `Project` over the join node's attributes, so key columns never
    * collide by name.
    *
    * @param left      rows to enrich (all its columns are kept)
    * @param right     lookup timeline
    * @param keys      equi-join key columns present on both sides
    * @param leftTime  left event-time column name (LongType)
    * @param rightTime right event-time column name (LongType)
    * @param payloadCols right columns to carry (must not collide with
    *                  left column names)
    * @param tolerance optional max staleness, inclusive (see above)
    */
  def joinLastBefore(left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTime: String, rightTime: String, payloadCols: Seq[String],
      tolerance: Option[Long] = None): DataFrame = {
    val collide = payloadCols.toSet.intersect(left.columns.toSet)
    require(collide.isEmpty, s"payload columns collide with left: $collide")
    val rightPruned = right.select(
      (keys ++ Seq(rightTime) ++ payloadCols).distinct.map(col): _*)
    val lPlan = GraftSqlBridge.analyzedPlan(left)
    // re-alias the right side with FRESH exprIds: both sides routinely
    // derive from the same cached relation (Q.t memoizes), and a
    // custom node bypasses the analyzer's join-child deduplication —
    // colliding ids would make column pruning resolve ambiguously
    val rPlan0 = GraftSqlBridge.analyzedPlan(rightPruned)
    val rPlan: LogicalPlan = Project(
      rPlan0.output.map(a =>
        org.apache.spark.sql.catalyst.expressions.Alias(a, a.name)()), rPlan0)
    def attr(p: LogicalPlan, n: String): Attribute =
      p.output.find(_.name == n).getOrElse(sys.error(s"no column $n"))
    val node = AsOfJoinPlan(lPlan, rPlan,
      keys.map(attr(lPlan, _)), keys.map(attr(rPlan, _)),
      attr(lPlan, leftTime), attr(rPlan, rightTime), tolerance)
    val rightOut = node.output.drop(lPlan.output.length)
    val keep = lPlan.output ++
      payloadCols.map(n => rightOut.find(_.name == n).get)
    GraftSqlBridge.ofRows(left.sparkSession, Project(keep, node))
  }
}

/** Plans [[AsOfJoinPlan]] as [[AsOfJoinExec]]; every other node falls
  * through to the built-in strategies.
  */
class AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(l, r, lk, rk, lt, rt, tol) =>
      AsOfJoinExec(lk, rk, lt, rt, tol, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

/** Sort-merge as-of join: requires both children clustered on the
  * join key and sorted by (key, time) — `EnsureRequirements` inserts
  * the two exchanges and sorts — then runs a per-co-partition
  * two-pointer merge holding exactly ONE candidate right row
  * (the latest at-or-before one for the current key). Work is
  * O(|left| + |right|) per partition with O(1) state: no per-key
  * buffering, no row explosion, no null-padded union rows.
  */
case class AsOfJoinExec(
    leftKeys: Seq[Attribute],
    rightKeys: Seq[Attribute],
    leftTime: Attribute,
    rightTime: Attribute,
    tolerance: Option[Long],
    left: SparkPlan,
    right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (leftKeys :+ leftTime).map(SortOrder(_, Ascending)),
    (rightKeys :+ rightTime).map(SortOrder(_, Ascending)))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override def outputOrdering: Seq[SortOrder] =
    (leftKeys :+ leftTime).map(SortOrder(_, Ascending))

  override protected def doExecute(): RDD[InternalRow] = {
    val tol = tolerance
    val numRightCols = right.output.length
    val leftOut = left.output
    val rightOut = right.output
    val lKeys = leftKeys
    val rKeys = rightKeys
    val lTime = leftTime
    val rTime = rightTime
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(lKeys, leftOut)
      val rKeyProj = UnsafeProjection.create(rKeys, rightOut)
      val lTimeEval = BindReferences.bindReference(lTime: org.apache.spark.sql.catalyst.expressions.Expression, leftOut)
      val rTimeEval = BindReferences.bindReference(rTime: org.apache.spark.sql.catalyst.expressions.Expression, rightOut)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(lKeys.map(_.dataType))
      val nullRight = new GenericInternalRow(numRightCols)
      val joined = new JoinedRow
      // the input schema must carry the right side as NULLABLE, or the
      // projection skips null checks and reads zeros from the pad row
      val rightNullable = rightOut.map(_.withNullability(true))
      val out = UnsafeProjection.create(leftOut ++ rightNullable,
        leftOut ++ rightNullable)
      val rBuf = rIter.buffered
      // the single candidate: latest consumed right row whose time was
      // <= the left time under its own key, plus that key/time
      var cand: UnsafeRow = null
      var candKey: UnsafeRow = null
      var candTime = 0L
      lIter.map { lRow =>
        val lKey = lKeyProj(lRow)
        val lTs = lTimeEval.eval(lRow).asInstanceOf[Long]
        var advance = true
        while (advance && rBuf.hasNext) {
          val head = rBuf.head
          val cmp = keyOrd.compare(rKeyProj(head), lKey)
          if (cmp < 0) {
            rBuf.next() // behind the current key: discard
          } else if (cmp == 0 &&
              rTimeEval.eval(head).asInstanceOf[Long] <= lTs) {
            val r = rBuf.next()
            candTime = rTimeEval.eval(r).asInstanceOf[Long]
            cand = r.asInstanceOf[UnsafeRow].copy()
            candKey = rKeyProj(r).copy()
          } else {
            advance = false // ahead of this left row; stop
          }
        }
        val matched = cand != null && candKey != null &&
          keyOrd.compare(candKey, lKey) == 0 &&
          tol.forall(t => lTs - candTime <= t)
        out(joined(lRow, if (matched) cand else nullRight))
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}
