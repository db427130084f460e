package graft.core

import graft.SparkSpec
import org.apache.spark.sql.catalyst.FunctionIdentifier

/** The SQL surface `GraftExtensions` registers: every function name
  * resolves in the session's registry, and a call with a wrong number
  * of arguments, or a column where a literal parameter belongs, fails
  * with the function's name in the message.
  */
class SqlFunctionSpec extends SparkSpec {

  /** Each registered name with the argument counts it accepts. */
  private val arities: Seq[(String, Seq[Int])] = Seq(
    "cosine_sim" -> Seq(2), "l2_sq" -> Seq(2), "minhash_est" -> Seq(2),
    "rolling_hash" -> Seq(4), "label_areas" -> Seq(1), "simhash64" -> Seq(1),
    "minhash_sig" -> Seq(3), "sorted_intersect_count" -> Seq(2),
    "sorted_intersect" -> Seq(2), "distinct_nonzero_count" -> Seq(1),
    "pca_round" -> Seq(3, 4), "mg_topk" -> Seq(2), "poly_hash" -> Seq(3),
    "cms_sketch" -> Seq(3))

  /** The messages of `e` and of every cause under it. */
  private def messages(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).mkString(" | ")

  test("every graft SQL function resolves; a wrong argument count fails naming it") {
    val registry = spark.sessionState.functionRegistry
    assert(arities.size == 14)
    arities.foreach { case (name, ns) =>
      assert(registry.functionExists(FunctionIdentifier(name)), s"$name is not registered")
      val args = Seq.fill(ns.max + 1)("1").mkString(", ")
      val e = intercept[Exception](spark.sql(s"SELECT $name($args)").collect())
      assert(messages(e).contains(s"$name takes"), s"$name: ${messages(e)}")
    }
  }

  test("a column where a literal parameter belongs fails naming the function") {
    val e = intercept[Exception](spark.sql(
      "SELECT rolling_hash(s, k, 31, 1000) FROM VALUES ('abcd', 2) AS t(s, k)").collect())
    assert(messages(e).contains("rolling_hash parameter must be a literal"), messages(e))
  }
}
