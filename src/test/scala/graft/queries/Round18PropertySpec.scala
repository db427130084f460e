package graft.queries

import java.sql.Timestamp

import graft.{SparkEntry, SparkSpec}
import scala.util.Random

/** Property gates for the round-18 numeric operators, each against an
  * INDEPENDENT plain-Scala reference (the LpaPropertySpec discipline):
  * the digit-bucket quantile sketch's exact twins and error bound on
  * seeded random price sets, and the GLM trainer's full quantized
  * Gauss-Newton trajectory re-implemented single-threaded — nano
  * quantization, Cramer solve and HALF_UP emission included — so a
  * divergence anywhere in the distributed path (partial aggregation,
  * join, quantization point, solve tree) fails the comparison.
  */
class Round18PropertySpec extends SparkSpec {
  import spark.implicits._

  private def dir(): String =
    graft.TempDirs.create("r18p").toFile.getAbsolutePath

  private def ts(s: String) = Timestamp.valueOf(s"$s 00:00:00")

  test("dd_quantile: exact twins + error law vs an in-memory reference") {
    val rnd = new Random(421)
    val d = dir()
    val months = Seq("1996-01-05", "1996-02-07", "1996-03-11")
    // log-uniform 2-decimal prices spanning 4 decades (multi-bucket-width)
    val rows = (0 until 3000).map { _ =>
      val cents = math.round(math.pow(10.0, 3.0 + rnd.nextDouble() * 4))
      (ts(months(rnd.nextInt(3))), cents / 100.0)
    }
    rows.toDF("l_shipdate", "l_extendedprice")
      .write.parquet(s"$d/lineitem.parquet")
    val out = SparkEntry.queries("q_sketch_dd_quantile")(spark, d)
      .collect().map(r => r.getString(0) -> r).toMap
    // reference: exact discrete quantiles per month + ALL
    val byM = rows.groupBy(r => r._1.toString.substring(0, 7))
      .map { case (m, xs) => m -> xs.map(t => math.round(t._2 * 100)).sorted }
    val all = ("ALL", rows.map(t => math.round(t._2 * 100)).sorted)
    (byM.toSeq :+ all).foreach { case (m, sorted) =>
      val r = out(m)
      assert(r.getAs[Boolean]("merge_identical"), m)
      Seq(50, 95, 99).foreach { q =>
        val rank = (q * sorted.length + 99) / 100 // integer ceil-div
        val exact = sorted(rank - 1)
        assert(r.getAs[Long](s"p${q}_exact_c") == exact, s"$m p$q exact")
        val est = r.getAs[Long](s"p${q}_est_dc")
        assert(math.abs(est - exact * 10) * 10000 <= exact * 10 * 65,
          s"$m p$q est=$est exact=$exact")
        assert(r.getAs[Boolean](s"p${q}_within"), s"$m p$q verdict")
      }
    }
  }

  test("glm: distributed trajectory equals a single-threaded replay") {
    val rnd = new Random(97)
    val d = dir()
    val jan96 = ts("1996-01-01")
    val n = 240
    (1 to n).map(i => (i.toLong, jan96)).toDF("o_orderkey", "o_orderdate")
      .write.parquet(s"$d/orders.parquet")
    val data = (0 until n).map { i =>
      val q = 1L + rnd.nextInt(50)
      val disc = rnd.nextInt(11).toLong
      // noisy label loosely tied to quantity: exercises non-separable fit
      val late = rnd.nextInt(60) < q
      (i.toLong + 1, Seq("A", "N", "R")(i % 3), q.toDouble, disc / 100.0,
        if (late) ts("1996-04-01") else ts("1996-01-15"), late)
    }
    data.map(t => (t._1, t._2, t._3, t._4, t._5))
      .toDF("l_orderkey", "l_returnflag", "l_quantity", "l_discount",
        "l_shipdate").write.parquet(s"$d/lineitem.parquet")

    // single-threaded replay of the exact law
    def q9(v: Double): Long =
      BigDecimal.valueOf(v * 1e9)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    def r6(v: Double): Double =
      BigDecimal.valueOf(v).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble
    case class Row(x1: Long, x2: Long, y: Long)
    val groups: Map[String, Seq[Row]] = {
      val base = data.map(t =>
        (t._2, Row(t._3.toLong, math.round(t._4 * 100), if (t._6) 1L else 0L)))
      (base ++ base.map { case (_, r) => ("ALL", r) })
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    }
    def solve(a: Array[Double], r: Array[Double]): Array[Double] = {
      val Array(a00, a01, a02, a11, a12, a22) = a
      val Array(r0, r1, r2) = r
      val det = a00 * (a11 * a22 - a12 * a12) -
        a01 * (a01 * a22 - a12 * a02) + a02 * (a01 * a12 - a11 * a02)
      val d0 = r0 * (a11 * a22 - a12 * a12) -
        a01 * (r1 * a22 - a12 * r2) + a02 * (r1 * a12 - a11 * r2)
      val d1 = a00 * (r1 * a22 - a12 * r2) -
        r0 * (a01 * a22 - a12 * a02) + a02 * (a01 * r2 - r1 * a02)
      val d2 = a00 * (a11 * r2 - r1 * a12) -
        a01 * (a01 * r2 - r1 * a02) + r0 * (a01 * a12 - a11 * a02)
      Array(d0 / det, d1 / det, d2 / det)
    }
    def reference(rows: Seq[Row]): (Array[Double], Long, Long) = {
      var b = Array(0.0, 0.0, 0.0)
      for (_ <- 1 to 3) {
        val aS = Array.fill(6)(0L); val rS = Array.fill(3)(0L)
        rows.foreach { r =>
          val z = b(0) + b(1) * r.x1 + b(2) * r.x2
          val p = 0.5 + 0.5 * (z / 2) / (1.0 + math.abs(z / 2))
          val dp = 0.25 / ((1.0 + math.abs(z / 2)) * (1.0 + math.abs(z / 2)))
          val res = r.y - p
          aS(0) += q9(dp * dp); aS(1) += q9(dp * dp * r.x1)
          aS(2) += q9(dp * dp * r.x2); aS(3) += q9(dp * dp * r.x1 * r.x1)
          aS(4) += q9(dp * dp * r.x1 * r.x2)
          aS(5) += q9(dp * dp * r.x2 * r.x2)
          rS(0) += q9(dp * res); rS(1) += q9(dp * res * r.x1)
          rS(2) += q9(dp * res * r.x2)
        }
        val dlt = solve(aS.map(_.toDouble), rS.map(_.toDouble))
        b = Array(b(0) + dlt(0), b(1) + dlt(1), b(2) + dlt(2))
      }
      var sse = 0L; var ok = 0L
      rows.foreach { r =>
        val z = b(0) + b(1) * r.x1 + b(2) * r.x2
        val p = 0.5 + 0.5 * (z / 2) / (1.0 + math.abs(z / 2))
        sse += q9((r.y - p) * (r.y - p))
        if ((z > 0) == (r.y == 1L)) ok += 1
      }
      (b, sse, ok)
    }
    val out = SparkEntry.queries("q_feat_glm")(spark, d)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out.keySet == Set("A", "N", "R", "ALL"))
    groups.foreach { case (flag, rows) =>
      val (b, sse, ok) = reference(rows)
      val r = out(flag)
      assert(r.getAs[Long]("n") == rows.length.toLong, flag)
      assert(r.getAs[Double]("b0") == r6(b(0)), s"$flag b0")
      assert(r.getAs[Double]("b1") == r6(b(1)), s"$flag b1")
      assert(r.getAs[Double]("b2") == r6(b(2)), s"$flag b2")
      assert(r.getAs[Long]("sse_nano") == sse, s"$flag sse")
      assert(r.getAs[Long]("n_correct") == ok, s"$flag acc")
    }
  }
}
