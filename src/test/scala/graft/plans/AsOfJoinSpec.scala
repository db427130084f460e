package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

/** The native as-of operator (logical node + injected strategy +
  * physical merge): latest-at-or-before matching, inclusive ties,
  * no-match nulls, key isolation, row-atomic payloads and the
  * inclusive tolerance bound on planted timelines; equality with a
  * plain-Scala model of the as-of rule on real data at several
  * partitionings and tolerances; and a physical plan that looks like
  * an as-of join — an AsOfJoinExec fed by exactly one exchange per
  * side, no window, no union.
  */
class AsOfJoinSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  private def sides(nParts: Int) = {
    val e = spark.read.parquet(s"$dir/events.parquet")
      .withColumn("us", expr("unix_micros(cast(ts as timestamp))"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("us").as("p_us"), col("value"))
      .repartition(nParts)
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("us").as("click_us"))
      .repartition(nParts)
    (purchases, clicks)
  }

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq

  /** The as-of rule in plain Scala: per purchase, the max same-user
    * click time at or before the purchase time, null when there is
    * none or when it is more than `tolerance` older.
    */
  private def model(p: org.apache.spark.sql.DataFrame,
      c: org.apache.spark.sql.DataFrame, tolerance: Option[Long]): Seq[String] = {
    val clicks = c.collect().groupBy(_.get(0)).map { case (u, rs) =>
      u -> rs.map(_.getLong(1)) }
    p.collect().map { r =>
      val pUs = r.getLong(2)
      val last = clicks.getOrElse(r.get(1), Array.empty[Long])
        .filter(_ <= pUs).maxOption
        .filter(t => tolerance.forall(pUs - t <= _))
      (r.toSeq.map(String.valueOf) :+ last.fold("null")(_.toString)).mkString("|")
    }.sorted.toSeq
  }

  private val left = Seq(
    // (id, key, t)
    (1L, "a", 100L), (2L, "a", 200L), (3L, "a", 50L),
    (4L, "b", 100L), (5L, "c", 100L)
  ).toDF("id", "k", "t")

  private val right = Seq(
    // (key, t, tag, aux)
    ("a", 100L, "a@100", Some(10)), // tie with left id=1 -> matches it
    ("a", 150L, "a@150", None),     // aux null: the payload stays row-atomic
    ("b", 101L, "b@101", Some(30))  // after left id=4 -> no match
  ).toDF("k", "rt", "tag", "aux")

  private def run() =
    AsOfJoinPlan.joinLastBefore(left, right, Seq("k"), "t", "rt", Seq("tag", "aux"))
      .orderBy("id")
      .collect()
      .map(r => (r.getLong(0), Option(r.getString(3)), Option(r.get(4))))

  test("latest at-or-before per key; ties inclusive; no match -> null") {
    assert(run().toSeq == Seq(
      (1L, Some("a@100"), Some(10)), // tie at t=100 matches
      (2L, Some("a@150"), None),     // latest of {100,150}; aux from SAME row
      (3L, None, None),              // before any right row
      (4L, None, None),              // right row is strictly after
      (5L, None, None)               // key with no right rows at all
    ).map { case (i, t, a) => (i, t, a.map(_.asInstanceOf[Any])) })
  }

  test("payload is row-atomic: null aux comes from the matched row, not an earlier one") {
    // left id=2 matches a@150 whose aux is null — a per-column carry
    // would leak aux=10 from a@100
    val row = run().find(_._1 == 2L).get
    assert(row._2.contains("a@150") && row._3.isEmpty)
  }

  test("tolerance: a latest-before match beyond the staleness bound nulls out") {
    // left id=2 (t=200) matches a@150: gap 50
    def run(tol: Long) =
      AsOfJoinPlan.joinLastBefore(left, right, Seq("k"), "t", "rt", Seq("tag"),
          tolerance = Some(tol))
        .orderBy("id").collect().map(r => (r.getLong(0), Option(r.getString(3))))
    val strict = run(49)
    assert(strict.find(_._1 == 2L).get._2.isEmpty, "gap 50 > tol 49 must null")
    assert(strict.find(_._1 == 1L).get._2.contains("a@100"), "tie gap 0 survives")
    val loose = run(50)
    assert(loose.find(_._1 == 2L).get._2.contains("a@150"),
      "gap 50 <= tol 50 (inclusive) must match")
  }

  test("payload name collision with left is rejected") {
    intercept[IllegalArgumentException] {
      AsOfJoinPlan.joinLastBefore(left, right.withColumnRenamed("tag", "id"),
        Seq("k"), "t", "rt", Seq("id"))
    }
  }

  test("equals the plain-Scala as-of model, at several partitionings") {
    for (nParts <- Seq(1, 7, 32)) {
      val (p, c) = sides(nParts)
      val native = AsOfJoinPlan.joinLastBefore(p, c, Seq("user_id"),
        "p_us", "click_us", Seq("click_us"))
      val got = canon(native)
      assert(got == model(p, c, None), s"mismatch at nParts=$nParts")
      assert(got.size == p.count(), "left-outer: every left row survives")
      assert(got.exists(!_.endsWith("|null")) && got.exists(_.endsWith("|null")),
        "the fixture must exercise both matched and unmatched purchases")
    }
  }

  test("tolerance rule matches the plain-Scala model") {
    val (p, c) = sides(7)
    for (tol <- Seq(0L, 60000000L, 900000000L)) {
      val native = AsOfJoinPlan.joinLastBefore(p, c, Seq("user_id"),
        "p_us", "click_us", Seq("click_us"), tolerance = Some(tol))
      assert(canon(native) == model(p, c, Some(tol)), s"mismatch at tol=$tol")
    }
  }

  test("physical plan: AsOfJoinExec with one exchange per side, no window/union") {
    val (p, c) = sides(3)
    val native = AsOfJoinPlan.joinLastBefore(p, c, Seq("user_id"),
      "p_us", "click_us", Seq("click_us"))
    native.collect() // finalize any adaptive plan
    val plan = native.queryExecution.executedPlan
    def all(p: SparkPlan): Seq[SparkPlan] = collect(p) { case n => n }
    val nodes = all(plan)
    assert(nodes.exists(_.isInstanceOf[AsOfJoinExec]), s"no AsOfJoinExec in:\n$plan")
    val exchanges = nodes.count(
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec])
    // the two repartition(3) exchanges belong to the fixture; the join
    // itself adds exactly one hash exchange per side
    assert(exchanges <= 4, s"as-of join added extra exchanges ($exchanges):\n$plan")
    assert(!plan.toString.contains("WindowExec"), "native path must not plan a window")
    assert(!plan.toString.contains("UnionExec"), "native path must not union the sides")
  }

  test("unmatched keys pad with nulls; ties at equal time are inclusive") {
    val left = Seq((1L, 10L, 100L), (1L, 20L, 101L), (2L, 5L, 102L), (3L, 7L, 103L))
      .toDF("k", "t", "lv")
    val right = Seq((1L, 10L, 1000L), (1L, 15L, 1001L), (2L, 6L, 1002L))
      .toDF("k", "rt", "payload")
    val out = AsOfJoinPlan.joinLastBefore(left, right, Seq("k"),
        "t", "rt", Seq("payload", "rt"))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        Option(r.get(3)).map(_.asInstanceOf[Long]),
        Option(r.get(4)).map(_.asInstanceOf[Long]))).toSet
    assert(out == Set(
      (1L, 10L, Some(1000L), Some(10L)),  // tie at t=10 matches (inclusive)
      (1L, 20L, Some(1001L), Some(15L)),  // latest of the two priors
      (2L, 5L, None, None),               // right row is LATER: no match
      (3L, 7L, None, None)))              // key absent on the right
  }
}
