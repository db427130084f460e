package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property coverage for the always-on naive-inequality-join rewrite:
  * over randomly generated interval/point tables — NULL bounds,
  * inverted intervals, spans on both sides of the 64-bucket fan-out
  * cap (and within two buckets of it), duplicate keys, empty
  * sides — and randomly drawn bucket geometries, the rewritten join
  * must return EXACTLY the rows of the plain join it replaces, which
  * the spec enumerates in Scala.
  *
  * The rewrite buckets by a fixed 1 h, so a case drawn with bucket
  * width `w` (in abstract units) carries its times scaled by
  * `1 h / w`: every row keeps the bucket geometry it had at width `w`.
  */
class NaiveRewritePropertySpec extends SparkSpec {
  import spark.implicits._

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(1400L + i)))

  private val cap = RangeJoinRewrite.naiveMaxBuckets.toLong

  private val caseGen: Gen[(Seq[(Long, Long, Option[Long], Option[Long])],
      Seq[(Long, Long)], Long)] = for {
    nLeft <- Gen.choose(0, 30)
    nRight <- Gen.choose(0, 60)
    width <- Gen.oneOf(1L, 3L, 10L, 100L)
    left <- Gen.listOfN(nLeft, for {
      k <- Gen.choose(0L, 4L)
      id <- Gen.choose(0L, 1000000L)
      // spans from sub-bucket to far beyond the cap, plus a band right
      // at it; 10% NULL bounds, and lo > hi inversions arise naturally
      // from independent draws
      lo <- Gen.option(Gen.choose(-500L, 500L))
        .map(o => if (o.isEmpty) None else o)
      span <- Gen.oneOf(Gen.choose(0L, 20L), Gen.choose(0L, 10000L),
        Gen.choose((cap - 2) * width, (cap + 1) * width))
      inverted <- Gen.prob(0.15)
      noHi <- Gen.prob(0.1)
    } yield {
      val hi = lo.map(l => if (inverted) l - span - 1 else l + span)
      (k, id, lo, if (noHi) None else hi)
    })
    right <- Gen.listOfN(nRight, for {
      k <- Gen.choose(0L, 4L)
      t <- Gen.choose(-600L, 600L)
    } yield (k, t))
  } yield (left, right, width)

  test("rewrite-on == rewrite-off over random intervals, widths and caps") {
    samples(caseGen, 60).zipWithIndex.foreach {
      case ((left0, right0, width), i) =>
        val scale = RangeJoinRewrite.naiveBucketWidthUs / width
        val left = left0.map { case (k, id, lo, hi) =>
          (k, id, lo.map(_ * scale), hi.map(_ * scale)) }
        val right = right0.map { case (k, t) => (k, t * scale) }
        val l = left.toDF("k", "id", "lo", "hi")
        val r = right.toDF("rk", "t")
        val joined = l.join(r,
          col("k") === col("rk") &&
            col("t") >= col("lo") && col("t") <= col("hi"))
        // an empty side folds the whole join away before the rule sees it
        if (left.nonEmpty && right.nonEmpty)
          assert(joined.queryExecution.optimizedPlan.toString.contains("__graft_bkt"),
            s"case $i: the rewrite did not fire")
        val got = joined
          .as[(Long, Long, Option[Long], Option[Long], Long, Long)]
          .collect().sorted.toSeq
        val expected = (for {
          (k, id, lo, hi) <- left; (rk, t) <- right
          if k == rk && lo.exists(t >= _) && hi.exists(t <= _)
        } yield (k, id, lo, hi, rk, t)).sorted
        assert(got == expected,
          s"case $i (width=$width nL=${left.size} nR=${right.size}): " +
            s"missing=${(expected.diff(got)).take(3)} " +
            s"extra=${(got.diff(expected)).take(3)}")
    }
  }
}
