package graft.queries

import java.sql.Timestamp

import graft.{SparkEntry, SparkSpec}

/** Scalar replays of the one-pass Poisson bootstrap and the
  * effective-number class weights: the spec recomputes every replicate
  * weight with plain Scala integer arithmetic (same hash, same integer
  * CDF thresholds) and the CI with the same fixed-order double math,
  * then demands the distributed single-aggregate plan agree exactly.
  */
class BootstrapSpec extends SparkSpec {
  import spark.implicits._

  private def dir(): String =
    graft.TempDirs.create("boot").toFile.getAbsolutePath

  test("bootstrap: 3-purchase corpus replayed weight-by-weight in scalar Scala") {
    val d = dir()
    val purchases = Seq((10L, 1.00), (21L, 2.50), (35L, 10.00))
    (purchases.map { case (id, v) => (id, "purchase", v) } :+ ((99L, "view", 5.0)))
      .toDF("event_id", "event_type", "value")
      .withColumn("ts",
        org.apache.spark.sql.functions.lit(Timestamp.valueOf("2024-01-01 00:00:00")))
      .write.parquet(s"$d/events.parquet")

    val p = 2147483647L
    val cdf20 = Seq(385749L, 771499L, 964373L, 1028665L, 1044738L,
      1047952L, 1048488L, 1048565L, 1048574L, 1048575L)
    def weight(b: Int, id: Long): Long = {
      val a = (1000003L * (b + 1)) % p
      val c = (7919L * (b + 1) + 104729L) % p
      val h = ((a * (id % p) + c) % p) % 1048576L
      val k = cdf20.indexWhere(h < _)
      if (k < 0) 10L else k.toLong
    }
    val cents = purchases.map { case (id, v) => (id, math.round(v * 100)) }
    val s = (0 until 32).map(b => cents.map { case (id, c) => weight(b, id) * c }.sum)
    val ssD = s.map(_.toDouble).reduce(_ + _)
    val ss2D = s.map(x => x.toDouble * x.toDouble).reduce(_ + _)
    val mean = ssD / 32.0
    val se = math.sqrt((ss2D - ssD * ssD / 32.0) / 31.0)
    val exp = (3L, cents.map(_._2).sum, math.round(mean), math.round(se),
      math.round(mean - 1.96 * se), math.round(mean + 1.96 * se))

    val out = SparkEntry.queries("q_evt_bootstrap")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).head
    assert(out == exp, s"got $out want $exp")
    // the fixture must actually vary across replicates, or se would be 0
    assert(s.distinct.size > 1, "replicate sums must differ")
  }

  test("class weights: n=1 class gets exactly 1e9 nano-units; ratios exact") {
    val d = dir()
    Seq((1L, "aa"), (2L, "aa"), (3L, "aa"), (4L, "bb"))
      .toDF("doc_id", "lang").write.parquet(s"$d/documents.parquet")
    def effNnat(n: Long): Long =
      math.round(1e9 * 0.001 / (1.0 - math.exp(n.toDouble * math.log(0.999))))
    val (wa, wb) = (effNnat(3), effNnat(1))
    assert(wb == 1000000000L, "singleton class weight must be exactly 1")
    val out = SparkEntry.queries("q_ds_class_weights")(spark, d)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(out.toSeq == Seq(
      ("aa", 3L, wa, math.round(1e6 * (wa * 2).toDouble / (wa + wb)), 666667L),
      ("bb", 1L, wb, math.round(1e6 * (wb * 2).toDouble / (wa + wb)), 2000000L)),
      s"got ${out.toSeq}")
  }
}
