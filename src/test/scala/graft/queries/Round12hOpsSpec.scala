package graft.queries

import java.sql.Timestamp

import graft.{SparkEntry, SparkSpec}

/** Round-12h operators (CUPED, SRM, blocklist, variant, Q13 shape,
  * MaxSim): planted fixtures with expectations recomputed by
  * independent plain-Scala arithmetic — the brute-force-replay
  * discipline of the earlier round specs.
  */
class Round12hOpsSpec extends SparkSpec {
  import spark.implicits._

  private def writeEvents(rows: Seq[(Long, String, Long, String, Double, String)]): String = {
    val dir = graft.TempDirs.create("r12h").toFile.getAbsolutePath
    rows.map { case (id, ts, uid, typ, v, props) =>
      (id, Timestamp.valueOf(ts), uid, typ, v, props)
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    dir
  }

  private def writeDocs(rows: Seq[(Long, String, String)]): String = {
    val dir = graft.TempDirs.create("r12h_docs").toFile.getAbsolutePath
    rows.map { case (id, text, lang) => (id, text, lang, s"src${id % 3}", text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    dir
  }

  private def knuthVariant(uid: Long): Long =
    ((uid * 2654435761L) % 4294967296L) % 2

  test("srm: planted cohort imbalance crosses the chi-square line, balanced cohorts don't") {
    // pick uids by the REAL assignment so the fixture controls n_a/n_b
    val v0 = (0L to 200L).filter(knuthVariant(_) == 0).take(9)
    val v1 = (0L to 200L).filter(knuthVariant(_) == 1).take(9)
    // 'error' cohort: 9 vs 1 (chi2 = 6.4 > 3.84); 'click': 9 vs 9
    val rows = (v0.map(u => (u, "error")) ++ v1.take(1).map(u => (u, "error")) ++
      v0.map(u => (u, "click")) ++ v1.map(u => (u, "click")))
      .zipWithIndex.map { case ((u, typ), i) =>
        (i.toLong, "2024-03-01 00:01:00", u, typ, 1.0, """{"k": 1}""")
      }
    val out = SparkEntry.queries("q_evt_srm")(spark, writeEvents(rows))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4))).toMap
    assert(out("error") == ((9L, 1L, math.floor(1e6 * 64.0 / 10).toLong, true)),
      s"got ${out("error")}")
    assert(out("click") == ((9L, 9L, 0L, false)))
    assert(out("_all") == ((9L, 9L, 0L, false)))
  }

  test("cuped: plan output equals the plain-Scala moment replay exactly") {
    // x = pre-midpoint floor(value) sum, y = post; times place the
    // midpoint between 01:00 and 23:00
    val rows = Seq(
      (1L, "2024-03-01 00:10:00", 0L, "view", 10.9),
      (2L, "2024-03-01 00:20:00", 1L, "view", 20.2),
      (3L, "2024-03-01 00:30:00", 2L, "view", 30.7),
      (4L, "2024-03-01 00:40:00", 3L, "view", 40.1),
      (5L, "2024-03-02 00:10:00", 0L, "view", 15.8),
      (6L, "2024-03-02 00:20:00", 1L, "view", 24.3),
      (7L, "2024-03-02 00:30:00", 2L, "view", 37.5),
      (8L, "2024-03-02 00:40:00", 3L, "view", 44.9)
    ).map { case (id, ts, u, ty, v) => (id, ts, u, ty, v, """{"k": 1}""") }
    val out = SparkEntry.queries("q_evt_cuped")(spark, writeEvents(rows)).collect()
    // independent replay
    val xs = Map(0L -> 10L, 1L -> 20L, 2L -> 30L, 3L -> 40L)
    val ys = Map(0L -> 15L, 1L -> 24L, 2L -> 37L, 3L -> 44L)
    val users = xs.keys.toSeq.sorted
    val n = users.size.toLong
    val (sx, sy) = (xs.values.sum, ys.values.sum)
    val sxy = users.map(u => xs(u) * ys(u)).sum
    val sxx = users.map(u => xs(u) * xs(u)).sum
    val theta = (n * sxy - sx * sy).toDouble / (n * sxx - sx * sx)
    out.foreach { r =>
      val vus = users.filter(knuthVariant(_) == r.getLong(0))
      assert(r.getLong(1) == vus.size.toLong)
      assert(r.getLong(2) == vus.map(xs).sum && r.getLong(3) == vus.map(ys).sum)
      val meanY = vus.map(ys).sum.toDouble / vus.size
      val adj = meanY - theta * (vus.map(xs).sum.toDouble / vus.size - sx.toDouble / n)
      assert(math.abs(r.getDouble(5) - adj) < 1e-6, s"cuped mean: ${r.getDouble(5)} vs $adj")
    }
    // the adjustment must move the two variants TOWARD each other when
    // the covariate explains the spread (it does by construction here)
    val raw = out.map(_.getDouble(4)); val adj = out.map(_.getDouble(5))
    assert(math.abs(adj(0) - adj(1)) < math.abs(raw(0) - raw(1)),
      "CUPED must shrink the between-variant gap on a covariate-driven fixture")
  }

  test("blocklist: ppm census replays the planted blocked mass") {
    val dir = writeDocs(Seq(
      (0L, "alpha beta dup", "en"),      // blocked, 3 tokens
      (1L, "alpha beta gamma", "en"),    // kept, 3 tokens
      (2L, "delta dup", "en"),           // blocked, 2 tokens
      (3L, "epsilon zeta eta theta", "en"))) // kept, 4 tokens
    val r = SparkEntry.queries("q_txt_blocklist")(spark, dir).collect()
    assert(r.length == 1)
    val row = r.head
    assert((row.getLong(1), row.getLong(2), row.getLong(3), row.getLong(4)) ==
      ((4L, 2L, 12L, 5L)))
    assert(row.getLong(5) == math.floor(1e6 * 5 / 12).toLong)
  }

  test("variant: typed extraction skips a missing field and sums exactly") {
    val rows = Seq(
      (1L, "2024-03-01 00:01:00", 1L, "click", 1.0, """{"k": 5}"""),
      (2L, "2024-03-01 00:02:00", 2L, "click", 1.0, """{"k": 7}"""),
      (3L, "2024-03-01 00:03:00", 3L, "click", 1.0, """{"j": 9}"""))
    val out = SparkEntry.queries("q_evt_variant")(spark, writeEvents(rows)).collect()
    val r = out.head
    assert(r.getLong(1) == 3L && r.getLong(2) == 12L && r.getLong(3) == 5L &&
      r.getLong(4) == 7L && r.getLong(5) == 2L)
    // shape audit is honest: the {"j":...} row breaks uniform shape
    assert(!r.getBoolean(6), "mixed shapes must flip shape_ok")
  }

  test("order-count distribution: zero-order customers land in the 0 bucket") {
    val dir = graft.TempDirs.create("r12h_q13").toFile.getAbsolutePath
    Seq((1L, "A"), (2L, "B"), (3L, "C"))
      .toDF("c_custkey", "c_name").write.parquet(s"$dir/customer.parquet")
    Seq((10L, 1L), (11L, 1L), (12L, 1L), (13L, 2L))
      .toDF("o_orderkey", "o_custkey").write.parquet(s"$dir/orders.parquet")
    val out = SparkEntry.queries("q_cust_order_dist")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(out.toSet == Set((3L, 1L), (1L, 1L), (0L, 1L)), s"got $out")
  }

  test("maxsim: a token-identical clone ties its probe doc and ranks by id") {
    // probe ids 0/7/13/29 must exist; doc 40 clones doc 0's text
    val vocabDoc = (i: Long) => s"tok${i}a tok${i}b tok${i}c"
    val docs = (0L to 39L).map(i => (i, vocabDoc(i), "en")) :+ (40L, vocabDoc(0L), "en")
    val out = SparkEntry.queries("q_sim_maxsim")(spark, writeDocs(docs))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    val p0 = out.filter(_._1 == 0L).sortBy(_._2)
    assert(p0(0)._3 == 0L && p0(1)._3 == 40L,
      s"probe 0 must rank itself then its clone: ${p0.take(3).toSeq}")
    assert(p0(0)._4 == p0(1)._4, "identical token sets must score identically")
    // every probe ranks itself first (self-similarity dominates)
    Seq(7L, 13L, 29L).foreach { p =>
      val top = out.filter(t => t._1 == p && t._2 == 1).head
      assert(top._3 == p, s"probe $p top-1 is ${top._3}")
    }
  }

  test("container audit CRC: one flipped header byte fails crc_ok") {
    import graft.functions.Multimodal
    import org.apache.spark.sql.functions._
    val png = Multimodal.encodeGrayPng(Multimodal.grayTileOf("probe text", 8), 8, 8)
    val bad = png.clone(); bad(19) = (bad(19) ^ 1).toByte // IHDR payload byte
    val rows = Seq(("good", png), ("bad", bad)).toDF("tag", "png")
      .select(col("tag"),
        (crc32(substring(col("png"), 13, 17)) ===
          conv(hex(substring(col("png"), 30, 4)), 16, 10).cast("long")).as("crc_ok"))
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(rows("good") && !rows("bad"), s"got $rows")
  }

  test("meanpool bi-encoder: the clone ties its probe doc in the pooled space too") {
    val vocabDoc = (i: Long) => s"tok${i}a tok${i}b tok${i}c"
    val docs = (0L to 39L).map(i => (i, vocabDoc(i), "en")) :+ (40L, vocabDoc(0L), "en")
    val out = SparkEntry.queries("q_emb_meanpool_nn")(spark, writeDocs(docs))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    val p0 = out.filter(_._1 == 0L).sortBy(_._2)
    assert(p0(0)._3 == 0L && p0(1)._3 == 40L && p0(0)._4 == p0(1)._4,
      s"pooled clone must tie doc 0: ${p0.take(3).toSeq}")
  }
}
