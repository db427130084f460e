package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeSet, Expression, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{DeserializeToObject, LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, UnknownPartitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.graft.GraftSqlBridge

/** A typed per-partition kernel that keeps its input's key on every
  * row, as a plan node Spark can see through.
  *
  * A typed `mapPartitions` deserializes its input and serializes a new
  * row type, so its output attributes are new: Spark cannot tell that
  * the output is still clustered and sorted as the input was, and a
  * later `repartition` or aggregate on the same key plans one more
  * exchange. [[KeyedMap]] wraps the serialized kernel in a logical node
  * ([[KeyedMapPlan]], planned by [[KeyedMapStrategy]], which
  * [[graft.core.GraftExtensions]] injects next to the as-of join's) and
  * a pass-through exec ([[KeyedMapExec]]). The exec reports the
  * kernel input's partitioning with the input key attribute replaced by
  * the output's, as `InMemoryTableScanExec` maps a cached plan's
  * attributes onto its own, plus the row order the kernel promises.
  * `EnsureRequirements` then drops a `repartition` on the key over it
  * and `RemoveRedundantSorts` a sort the promise already satisfies.
  *
  * The claims are the caller's contract and are not checked: every
  * output row carries the key of the input rows it was made from, and
  * each partition's output comes in `ordering`.
  */
object KeyedMap {

  /** `ds.mapPartitions(kernel)`, declaring that each output row's `key`
    * column equals the `key` column of the input rows it came from and
    * that each output partition is sorted ascending by `ordering`
    * (output column names).
    */
  def mapPartitions[T, U: Encoder](ds: Dataset[T], key: String, ordering: Seq[String])(
      kernel: Iterator[T] => Iterator[U]): Dataset[U] = {
    require(ds.columns.contains(key), s"no column $key in the kernel's input")
    val mapped = GraftSqlBridge.analyzedPlan(ds.mapPartitions(kernel).toDF())
    def attr(n: String): Attribute =
      mapped.output.find(_.name == n).getOrElse(sys.error(s"no column $n"))
    val node = KeyedMapPlan(key, attr(key), ordering.map(attr), mapped)
    GraftSqlBridge.ofRows(ds.sparkSession, node).as[U]
  }
}

/** Logical node over the serialized kernel `child`
  * (`SerializeFromObject(MapPartitions(DeserializeToObject(input)))`);
  * `key` names the key column of both `input` and `child`.
  */
case class KeyedMapPlan(key: String, outKey: Attribute, ordering: Seq[Attribute],
                        child: LogicalPlan) extends UnaryNode {

  override def output: Seq[Attribute] = child.output

  /** All of the child: column pruning must not put a projection
    * between the node and the kernel, which would drop the input key
    * from the child's partitioning.
    */
  override def references: AttributeSet = child.outputSet

  override protected def withNewChildInternal(newChild: LogicalPlan): KeyedMapPlan =
    copy(child = newChild)
}

/** Plans [[KeyedMapPlan]] as [[KeyedMapExec]]; every other node falls
  * through to the built-in strategies. The input key attribute is read
  * off the optimized kernel here, not kept in the node: when a plan
  * joins a relation with itself, the analyzer gives one side's
  * attributes new ids below the node.
  */
class KeyedMapStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case KeyedMapPlan(key, out, ord, child) =>
      val inKey = child.collectFirst { case d: DeserializeToObject => d.child }
        .flatMap(_.output.find(_.name == key))
      KeyedMapExec(inKey, out, ord, planLater(child)) :: Nil
    case _ => Nil
  }
}

/** Runs its child unchanged and reports the kernel's claims. A
  * partitioning that, after the key is replaced, still names an
  * attribute the output lacks is reported as unknown; one that names no
  * attribute passes through. `inKey` is the kernel input's key, if the
  * optimized kernel still deserializes it.
  */
case class KeyedMapExec(inKey: Option[Attribute], outKey: Attribute, ordering: Seq[Attribute],
                        child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  /** `inKey` is not an input of this node. */
  override def references: AttributeSet = child.outputSet

  override def outputPartitioning: Partitioning = child.outputPartitioning match {
    case p: Expression with Partitioning =>
      val keyed = p.transform { case a: Attribute if inKey.exists(_.exprId == a.exprId) => outKey }
      if (keyed.references.subsetOf(outputSet)) keyed.asInstanceOf[Partitioning]
      else UnknownPartitioning(p.numPartitions)
    case p => p
  }

  override def outputOrdering: Seq[SortOrder] = ordering.map(SortOrder(_, Ascending))

  override protected def doExecute(): RDD[InternalRow] = child.execute()

  override protected def withNewChildInternal(newChild: SparkPlan): KeyedMapExec =
    copy(child = newChild)
}
