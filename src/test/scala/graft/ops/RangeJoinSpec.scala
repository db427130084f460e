package graft.ops

import graft.SparkSpec
import graft.plans.RangeJoinPlan
import org.apache.spark.sql.functions._

/** The bucketed range and overlap joins' column-level entries
  * ([[RangeJoinPlan.joinPointsInInterval]],
  * [[RangeJoinPlan.joinIntervalsOverlap]]) on planted timelines:
  * inclusive interval ends, key isolation, bucket-boundary crossing,
  * the no-nested-loop plan shape, the fan-out guard, and randomized
  * differential gates against the inequality join's pairs enumerated
  * in Scala.
  */
class RangeJoinSpec extends SparkSpec {
  import spark.implicits._

  // bucketWidth 100: interval [95, 205] spans buckets 0,1,2
  private val left = Seq(
    // (id, key, lo, hi)
    (1L, "a", 95L, 205L),  // crosses two bucket boundaries
    (2L, "a", 100L, 100L), // degenerate point interval
    (3L, "b", 0L, 50L),    // no right rows in range
    (4L, "c", 0L, 300L)    // key with no right rows at all
  ).toDF("id", "k", "lo", "hi")

  private val right = Seq(
    // (key, t, tag)
    ("a", 95L, "a@95"),   // == lo of id=1: inclusive
    ("a", 100L, "a@100"), // inside id=1; == point interval of id=2
    ("a", 205L, "a@205"), // == hi of id=1: inclusive
    ("a", 206L, "a@206"), // just past hi: excluded
    ("b", 51L, "b@51")    // just past id=3's hi: excluded
  ).toDF("k", "rt", "tag")

  private def pairs() =
    RangeJoinPlan.joinPointsInInterval(left, right, Seq("k"), "lo", "hi", "rt",
        bucketWidth = 100L, payloadCols = Seq("tag"))
      .select("id", "tag").as[(Long, String)].collect().toSet

  test("inclusive ends, bucket crossing, key isolation") {
    assert(pairs() == Set(
      (1L, "a@95"), (1L, "a@100"), (1L, "a@205"), // both ends inclusive
      (2L, "a@100")                               // point interval matches
    ))
  }

  test("plan has no nested-loop/cartesian join") {
    val out = RangeJoinPlan.joinPointsInInterval(left, right, Seq("k"),
      "lo", "hi", "rt", bucketWidth = 100L, payloadCols = Seq("tag"))
    val bad = out.queryExecution.sparkPlan.collect {
      case p: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => p
      case p: org.apache.spark.sql.execution.joins.CartesianProductExec => p
    }
    assert(bad.isEmpty, s"range join planned a nested loop: $bad")
  }

  test("fan-out guard: an interval past maxBucketsPerRow raises, not explodes") {
    val wide = Seq((1L, "a", 0L, 10000L)).toDF("id", "k", "lo", "hi")
    val ex = intercept[Exception] {
      RangeJoinPlan.joinPointsInInterval(wide, right, Seq("k"), "lo", "hi", "rt",
        bucketWidth = 100L, payloadCols = Seq("tag"), maxBucketsPerRow = 8)
        .collect()
    }
    assert(ex.getMessage.contains("buckets"), ex.getMessage)
  }

  test("inverted interval (hi < lo) raises") {
    val inv = Seq((1L, "a", 200L, 100L)).toDF("id", "k", "lo", "hi")
    val ex = intercept[Exception] {
      RangeJoinPlan.joinPointsInInterval(inv, right, Seq("k"), "lo", "hi", "rt",
        bucketWidth = 100L, payloadCols = Seq("tag")).collect()
    }
    assert(ex.getMessage.contains("hi < lo") || ex.getMessage.contains("buckets"),
      ex.getMessage)
  }

  test("left_outer: every left row survives; aggregate equals naive left join") {
    val got = RangeJoinPlan.joinPointsInInterval(left, right, Seq("k"),
        "lo", "hi", "rt", bucketWidth = 100L, payloadCols = Seq("tag"),
        joinType = "left_outer")
      .groupBy("id").agg(count(col("tag")).as("n"))
      .as[(Long, Long)].collect().toMap
    // ids 3 and 4 have no in-range rows but must appear with n=0; a
    // left bucket row whose only candidate misses the exact range
    // (id=3 vs b@51) must not vanish
    assert(got == Map(1L -> 3L, 2L -> 1L, 3L -> 0L, 4L -> 0L))
    // randomized differential: bucketed left_outer aggregate == naive
    val rnd = new scala.util.Random(37)
    val ls = (1 to 150).map { i =>
      val lo = rnd.nextInt(5000).toLong
      (i.toLong, s"k${rnd.nextInt(7)}", lo, lo + rnd.nextInt(400).toLong)
    }
    val rs = (1 to 400).map { j =>
      (s"k${rnd.nextInt(7)}", rnd.nextInt(6000).toLong, s"r$j")
    }
    val lDf = ls.toDF("id", "k", "lo", "hi")
    val rDf = rs.toDF("k", "rt", "tag")
    val bucketed = RangeJoinPlan.joinPointsInInterval(lDf, rDf, Seq("k"),
        "lo", "hi", "rt", bucketWidth = 128L, payloadCols = Seq("tag"),
        joinType = "left_outer")
      .groupBy("id").agg(count(col("tag")).as("n"))
      .as[(Long, Long)].collect().toMap
    val naive = ls.map { case (id, k, lo, hi) =>
      id -> rs.count { case (rk, rt, _) => k == rk && rt >= lo && rt <= hi }.toLong
    }.toMap
    assert(bucketed == naive)
  }

  test("overlap join: touching inclusive, containment, multi-bucket pair emits ONCE") {
    val a = Seq(
      (1L, "a", 100L, 350L), // spans buckets 1..3
      (2L, "a", 400L, 500L),
      (3L, "b", 0L, 1000L)
    ).toDF("id", "k", "lo", "hi")
    val b = Seq(
      ("a", 150L, 340L, "wideOverlap"), // shares buckets 1..3 with id=1: ONE row
      ("a", 350L, 360L, "touchAtHi"),   // touches id=1 exactly at hi=350
      ("a", 501L, 600L, "justPast"),    // 1 past id=2's hi: no match
      ("b", 200L, 300L, "contained")    // strictly inside id=3
    ).toDF("k", "rlo", "rhi", "tag")
    val got = RangeJoinPlan.joinIntervalsOverlap(a, b, Seq("k"),
        "lo", "hi", "rlo", "rhi", bucketWidth = 100L, payloadCols = Seq("tag"))
      .select("id", "tag").as[(Long, String)].collect()
    // a multiset check: the multi-bucket pair must appear exactly once
    assert(got.groupBy(identity).view.mapValues(_.length).toMap ==
      Map((1L, "wideOverlap") -> 1, (1L, "touchAtHi") -> 1,
          (3L, "contained") -> 1))
  }

  test("overlap join differential vs naive on randomized intervals") {
    val rnd = new scala.util.Random(31)
    val ls = (1 to 150).map { i =>
      val lo = rnd.nextInt(4000).toLong
      (i.toLong, s"k${rnd.nextInt(5)}", lo, lo + rnd.nextInt(600).toLong)
    }
    val rs = (1 to 150).map { j =>
      val lo = rnd.nextInt(4000).toLong
      (s"k${rnd.nextInt(5)}", lo, lo + rnd.nextInt(600).toLong, s"r$j")
    }
    val lDf = ls.toDF("id", "k", "lo", "hi")
    val rDf = rs.toDF("k", "rlo", "rhi", "tag")
    val bucketed = RangeJoinPlan.joinIntervalsOverlap(lDf, rDf, Seq("k"),
        "lo", "hi", "rlo", "rhi", bucketWidth = 128L, payloadCols = Seq("tag"))
      .select("id", "tag").as[(Long, String)].collect().sorted.toSeq
    val naive = (for {
      (id, k, lo, hi) <- ls; (rk, rlo, rhi, tag) <- rs
      if k == rk && math.max(lo, rlo) <= math.min(hi, rhi)
    } yield (id, tag)).sorted
    // seq compare (not set): catches duplicate emissions too
    assert(bucketed == naive)
  }

  test("differential vs naive inequality join on a randomized timeline") {
    val rnd = new scala.util.Random(29)
    val ls = (1 to 200).map { i =>
      val lo = rnd.nextInt(5000).toLong
      (i.toLong, s"k${rnd.nextInt(7)}", lo, lo + rnd.nextInt(400).toLong)
    }
    val rs = (1 to 600).map { j =>
      (s"k${rnd.nextInt(7)}", rnd.nextInt(6000).toLong, s"r$j")
    }
    val lDf = ls.toDF("id", "k", "lo", "hi")
    val rDf = rs.toDF("k", "rt", "tag")
    val bucketed = RangeJoinPlan.joinPointsInInterval(lDf, rDf, Seq("k"),
        "lo", "hi", "rt", bucketWidth = 128L, payloadCols = Seq("tag"))
      .select("id", "tag").as[(Long, String)].collect().sorted.toSeq
    val naive = (for {
      (id, k, lo, hi) <- ls; (rk, rt, tag) <- rs
      if k == rk && rt >= lo && rt <= hi
    } yield (id, tag)).sorted
    assert(bucketed == naive)
  }
}
