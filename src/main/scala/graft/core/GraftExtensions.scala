package graft.core

import graft.functions.{CosineSimilarity, DistinctNonzeroCount, L2Squared, LabelAreas, MinhashEstimate, MinhashSignature, RollingHash, SimhashExpr, SortedLongIntersect, SortedLongIntersectCount}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

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
    e.injectFunction((
      new FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "cosine_sim takes exactly 2 arguments")
        CosineSimilarity(children.head, children(1))
      }))
    e.injectFunction((
      new FunctionIdentifier("l2_sq"),
      new ExpressionInfo(classOf[L2Squared].getName, "l2_sq"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "l2_sq takes exactly 2 arguments")
        L2Squared(children.head, children(1))
      }))
    e.injectFunction((
      new FunctionIdentifier("minhash_est"),
      new ExpressionInfo(classOf[MinhashEstimate].getName, "minhash_est"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "minhash_est takes exactly 2 arguments")
        MinhashEstimate(children.head, children(1))
      }))
    e.injectFunction((
      new FunctionIdentifier("rolling_hash"),
      new ExpressionInfo(classOf[RollingHash].getName, "rolling_hash"),
      (children: Seq[Expression]) => {
        require(children.length == 4,
          "rolling_hash takes (text, k, base, mod); k/base/mod literals")
        def asLong(e: Expression): Long = e.eval() match {
          case n: java.lang.Number => n.longValue()
          case other => sys.error(s"rolling_hash parameter must be a literal, got $other")
        }
        RollingHash(children.head, asLong(children(1)).toInt,
          asLong(children(2)), asLong(children(3)))
      }))
    e.injectFunction((
      new FunctionIdentifier("label_areas"),
      new ExpressionInfo(classOf[LabelAreas].getName, "label_areas"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "label_areas takes exactly 1 argument")
        LabelAreas(children.head)
      }))
    e.injectFunction((
      new FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[SimhashExpr].getName, "simhash64"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "simhash64 takes exactly 1 argument")
        SimhashExpr(children.head)
      }))
    e.injectFunction((
      new FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinhashSignature].getName, "minhash_sig"),
      (children: Seq[Expression]) => {
        require(children.length == 3,
          "minhash_sig takes (shingle_hashes, numHashes, seed); numHashes/seed literals")
        def asLong(e: Expression): Long = e.eval() match {
          case n: java.lang.Number => n.longValue()
          case other => sys.error(s"minhash_sig parameter must be a literal, got $other")
        }
        MinhashSignature(children.head, asLong(children(1)).toInt, asLong(children(2)))
      }))
    e.injectFunction((
      new FunctionIdentifier("sorted_intersect_count"),
      new ExpressionInfo(classOf[SortedLongIntersectCount].getName, "sorted_intersect_count"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "sorted_intersect_count takes exactly 2 arguments")
        SortedLongIntersectCount(children.head, children(1))
      }))
    e.injectFunction((
      new FunctionIdentifier("sorted_intersect"),
      new ExpressionInfo(classOf[SortedLongIntersect].getName, "sorted_intersect"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "sorted_intersect takes exactly 2 arguments")
        SortedLongIntersect(children.head, children(1))
      }))
    e.injectFunction((
      new FunctionIdentifier("distinct_nonzero_count"),
      new ExpressionInfo(classOf[DistinctNonzeroCount].getName, "distinct_nonzero_count"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "distinct_nonzero_count takes exactly 1 argument")
        DistinctNonzeroCount(children.head)
      }))
    e.injectFunction((
      new FunctionIdentifier("pca_round"),
      new ExpressionInfo(classOf[graft.functions.PcaRound].getName, "pca_round"),
      (children: Seq[Expression]) => {
        require(children.length == 3 || children.length == 4,
          "pca_round takes (vec, mu, w[, v1]); mu/w/v1 array literals")
        def arr(e: Expression): Array[Double] = e.eval() match {
          case a: org.apache.spark.sql.catalyst.util.ArrayData => a.toDoubleArray()
          case other => sys.error(s"pca_round parameter must be a literal array, got $other")
        }
        graft.functions.PcaRound(children.head, arr(children(1)), arr(children(2)),
          if (children.length == 4) Some(arr(children(3))) else None)
      }))
    e.injectFunction((
      new FunctionIdentifier("mg_topk"),
      new ExpressionInfo(classOf[graft.functions.MisraGriesTopK].getName, "mg_topk"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "mg_topk takes (token, k); k literal")
        val k = children(1).eval() match {
          case n: java.lang.Number => n.intValue()
          case other => sys.error(s"mg_topk k must be a literal, got $other")
        }
        graft.functions.MisraGriesTopK(children.head, k)
      }))
    e.injectFunction((
      new FunctionIdentifier("poly_hash"),
      new ExpressionInfo(classOf[graft.functions.PolyHash].getName, "poly_hash"),
      (children: Seq[Expression]) => {
        require(children.length == 3, "poly_hash takes (str, base, mod); base/mod literals")
        def asLong(ex: Expression): Long = ex.eval() match {
          case n: java.lang.Number => n.longValue()
          case other => sys.error(s"poly_hash parameter must be a literal, got $other")
        }
        graft.functions.PolyHash(children.head, asLong(children(1)), asLong(children(2)))
      }))
    e.injectFunction((
      new FunctionIdentifier("cms_sketch"),
      new ExpressionInfo(classOf[graft.functions.CountMinSketchAgg].getName, "cms_sketch"),
      (children: Seq[Expression]) => {
        require(children.length == 3, "cms_sketch takes (key, d, w); d/w literals")
        def asInt(ex: Expression): Int = ex.eval() match {
          case n: java.lang.Number => n.intValue()
          case other => sys.error(s"cms_sketch parameter must be a literal, got $other")
        }
        graft.functions.CountMinSketchAgg(children.head, asInt(children(1)), asInt(children(2)))
      }))
  }
}
