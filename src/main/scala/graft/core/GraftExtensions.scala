package graft.core

import graft.functions.{CosineSimilarity, CountMinSketchAgg, DistinctNonzeroCount, L2Squared, LabelAreas, MinhashEstimate, MinhashSignature, MisraGriesTopK, PcaRound, PolyHash, RollingHash, SimhashExpr, SortedLongIntersect, SortedLongIntersectCount}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import scala.reflect.ClassTag

/** Engine extensions registered on every GraftSession: native
  * expressions exposed to SQL (`SELECT cosine_sim(a.vec, b.vec)`), so
  * the engine's custom operators are first-class in both the Column
  * API and the SQL surface.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    // custom-operator ladder step (c): the as-of join as a real
    // logical node + planner strategy + physical operator
    e.injectPlannerStrategy(_ => new graft.plans.AsOfJoinStrategy)
    // a typed kernel that keeps its input's key: the exec reports the
    // input's clustering and the kernel's row order on its own output
    e.injectPlannerStrategy(_ => new graft.plans.KeyedMapStrategy)
    // the bucketed range join as a logical node + optimizer rewrite;
    // the same rule rebuckets any naive inequality join in any plan
    e.injectOptimizerRule(_ => new graft.plans.RangeJoinRewrite)
    // one row per SQL function: name, expression class, allowed argument
    // counts, and the builder over the checked arguments
    def fn(name: String, cls: Class[_], arities: Int*)(build: Seq[Expression] => Expression): Unit =
      e.injectFunction((new FunctionIdentifier(name), new ExpressionInfo(cls.getName, name),
        (c: Seq[Expression]) => {
          require(arities.contains(c.length),
            s"$name takes ${arities.mkString(" or ")} arguments, got ${c.length}")
          build(c)
        }))
    import GraftExtensions.literal

    fn("cosine_sim", classOf[CosineSimilarity], 2)(c => CosineSimilarity(c(0), c(1)))
    fn("l2_sq", classOf[L2Squared], 2)(c => L2Squared(c(0), c(1)))
    fn("minhash_est", classOf[MinhashEstimate], 2)(c => MinhashEstimate(c(0), c(1)))
    // (text, k, base, mod); k/base/mod literals
    fn("rolling_hash", classOf[RollingHash], 4)(c => RollingHash(c(0),
      literal[Number]("rolling_hash", c(1)).intValue,
      literal[Number]("rolling_hash", c(2)).longValue,
      literal[Number]("rolling_hash", c(3)).longValue))
    fn("label_areas", classOf[LabelAreas], 1)(c => LabelAreas(c(0)))
    fn("simhash64", classOf[SimhashExpr], 1)(c => SimhashExpr(c(0)))
    // (shingle_hashes, numHashes, seed); numHashes/seed literals
    fn("minhash_sig", classOf[MinhashSignature], 3)(c => MinhashSignature(c(0),
      literal[Number]("minhash_sig", c(1)).intValue,
      literal[Number]("minhash_sig", c(2)).longValue))
    fn("sorted_intersect_count", classOf[SortedLongIntersectCount], 2)(c =>
      SortedLongIntersectCount(c(0), c(1)))
    fn("sorted_intersect", classOf[SortedLongIntersect], 2)(c => SortedLongIntersect(c(0), c(1)))
    fn("distinct_nonzero_count", classOf[DistinctNonzeroCount], 1)(c => DistinctNonzeroCount(c(0)))
    // (vec, mu, w[, v1]); mu/w/v1 array literals
    fn("pca_round", classOf[PcaRound], 3, 4) { c =>
      val arrays = c.tail.map(literal[ArrayData]("pca_round", _).toDoubleArray())
      PcaRound(c(0), arrays(0), arrays(1), arrays.lift(2))
    }
    // (token, k); k literal
    fn("mg_topk", classOf[MisraGriesTopK], 2)(c =>
      MisraGriesTopK(c(0), literal[Number]("mg_topk", c(1)).intValue))
    // (str, base, mod); base/mod literals
    fn("poly_hash", classOf[PolyHash], 3)(c => PolyHash(c(0),
      literal[Number]("poly_hash", c(1)).longValue,
      literal[Number]("poly_hash", c(2)).longValue))
    // (key, d, w); d/w literals
    fn("cms_sketch", classOf[CountMinSketchAgg], 3)(c => CountMinSketchAgg(c(0),
      literal[Number]("cms_sketch", c(1)).intValue,
      literal[Number]("cms_sketch", c(2)).intValue))
  }
}

object GraftExtensions {

  /** The value of argument `x` of SQL function `fn`, which must be a
    * literal (foldable) of type `T`; anything else fails, naming `fn`.
    */
  private def literal[T: ClassTag](fn: String, x: Expression): T =
    Some(x).filter(_.foldable).map(_.eval()) match {
      case Some(v: T) => v
      case _ => sys.error(s"$fn parameter must be a literal, got $x")
    }
}
