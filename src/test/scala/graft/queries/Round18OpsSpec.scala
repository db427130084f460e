package graft.queries

import java.sql.Timestamp

import graft.{SparkEntry, SparkSpec}

/** Planted-fixture specs for the round-18 additions: the digit-bucket
  * quantile sketch (merge identity + readout error law on closed-form
  * data), the Gram-matrix OLS (exactly-linear plant recovers exact
  * coefficients with R² = 1; pooled 'ALL' fit equals the fit of the
  * union), DSIR importance selection (target-domain docs select,
  * off-domain docs don't), CCNet perplexity terciles (balanced sizes,
  * monotone surprisal), and the JSONL round trip (quarantine counts
  * exactly the planted corrupt lines; clean census matches the plant).
  */
class Round18OpsSpec extends SparkSpec {
  import spark.implicits._

  private def dir(): String =
    graft.TempDirs.create("r18").toFile.getAbsolutePath

  private def ts(s: String) = Timestamp.valueOf(s"$s 00:00:00")

  test("dd_quantile: bucket midpoint readout, merge identity, error law") {
    val d = dir()
    // month 1996-01: prices 100.00..199.00 in dollar steps (cents
    // 10000..19900, all len=5, top3 = 100..199 -> 100 distinct buckets
    // of width 100 cents); p50 rank = 50 -> exact cents 14900? ranks:
    // n=100, (50*100+99) div 100 = 50 -> 50th smallest = 14900 cents.
    val rows = (0 until 100).map { i =>
      (ts("1996-01-03"), (10000L + 100L * i) / 100.0)
    }
    rows.toDF("l_shipdate", "l_extendedprice")
      .write.parquet(s"$d/lineitem.parquet")
    val out = SparkEntry.queries("q_sketch_dd_quantile")(spark, d)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out.keySet == Set("1996-01", "ALL"))
    val m = out("1996-01")
    assert(m.getAs[Long]("n") == 100L)
    assert(m.getAs[Boolean]("merge_identical"))
    // rank 50 value = 10000 + 100*49 = 14900 cents; its bucket top3 =
    // 149, sp = 2 -> midpoint (149*10+5)*100 = 149500 deci-cents
    assert(m.getAs[Long]("p50_exact_c") == 14900L, m.toString)
    assert(m.getAs[Long]("p50_est_dc") == 149500L, m.toString)
    Seq("p50_within", "p95_within", "p99_within").foreach { c =>
      assert(m.getAs[Boolean](c), c)
      assert(out("ALL").getAs[Boolean](c), s"ALL.$c")
    }
  }

  test("ols: exactly-linear plant recovers exact coefficients, r2 = 1") {
    val d = dir()
    // y_cents = 500 + 200*q + 30*disc_points, planted exactly
    val rows = for {
      q <- 1 to 10; disc <- 0 to 5
      flag = if (q % 2 == 0) "A" else "R"
    } yield (flag, q.toDouble, disc / 100.0,
      (500L + 200L * q + 30L * disc) / 100.0)
    rows.toDF("l_returnflag", "l_quantity", "l_discount", "l_extendedprice")
      .write.parquet(s"$d/lineitem.parquet")
    val out = SparkEntry.queries("q_feat_ols")(spark, d)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out.keySet == Set("A", "R", "ALL"))
    out.values.foreach { r =>
      assert(math.abs(r.getAs[Double]("b0_cents") - 500.0) < 1e-3, r.toString)
      assert(math.abs(r.getAs[Double]("b1_cents") - 200.0) < 1e-3, r.toString)
      assert(math.abs(r.getAs[Double]("b2_cents") - 30.0) < 1e-3, r.toString)
      assert(r.getAs[Double]("r2") == 1.0, r.toString)
    }
    assert(out("ALL").getAs[Long]("n") == 60L)
  }

  test("dsir: target-domain docs select, off-domain docs do not") {
    val d = dir()
    // en docs speak 'alpha', de docs speak 'beta': the target (en) LM
    // loads all its mass on alpha, so alpha-docs carry positive
    // importance weight and beta-docs negative.
    val docs = (0 until 20).map { i =>
      if (i < 10) (i.toLong, "alpha alpha alpha", "en", "srcA", 17L)
      else (i.toLong, "beta beta beta", "de", "srcB", 14L)
    }
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$d/documents.parquet")
    val out = SparkEntry.queries("q_txt_dsir")(spark, d)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r).toMap
    val en = out(("en", "srcA"))
    val de = out(("de", "srcB"))
    assert(en.getAs[Long]("n_docs") == 10L && en.getAs[Long]("n_selected") == 10L, en.toString)
    assert(de.getAs[Long]("n_docs") == 10L && de.getAs[Long]("n_selected") == 0L, de.toString)
    assert(en.getAs[Long]("sum_w_nnat") > 0L && de.getAs[Long]("sum_w_nnat") < 0L)
  }

  test("ppl_bucket: balanced terciles, surprisal monotone in tercile") {
    val d = dir()
    // 9 en docs: 3 of the common token, 3 mixed, 3 of a rare token —
    // per-doc surprisal strictly increases across the three groups.
    val docs = (0 until 9).map { i =>
      val text = i / 3 match {
        case 0 => "the the the the"
        case 1 => "the the odd one"
        case _ => s"zz$i yy$i xx$i ww$i"
      }
      (i.toLong, text, "en", "src0", text.length.toLong)
    }
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$d/documents.parquet")
    val out = SparkEntry.queries("q_txt_ppl_bucket")(spark, d)
      .collect().map(r => (r.getString(0), r.getAs[Long]("tercile"),
        r.getAs[Long]("n_docs"), r.getAs[Long]("sum_mean_nnat")))
    assert(out.map(_._2).toSeq == Seq(1L, 2L, 3L), out.toSeq.toString)
    assert(out.forall(_._3 == 3L), out.toSeq.toString)
    val means = out.map(t => t._4.toDouble / t._3)
    assert(means(0) < means(1) && means(1) < means(2), means.toSeq.toString)
  }

  test("dp_hist: seeded Laplace release is deterministic, bounded, composable") {
    val d = dir()
    val ev = (0 until 50).map { i =>
      (i.toLong, ts(f"1996-01-${1 + i % 3}%02d"), i.toLong % 5,
        if (i % 2 == 0) "view" else "click", 1.0, "{}")
    }
    ev.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$d/events.parquet")
    val run1 = SparkEntry.queries("q_priv_dp_hist")(spark, d).collect()
    val run2 = SparkEntry.queries("q_priv_dp_hist")(spark, d).collect()
    assert(run1.map(_.toString).toSeq == run2.map(_.toString).toSeq,
      "seeded release must be reproducible")
    run1.foreach { r =>
      val n = r.getAs[Long]("n")
      val noise = r.getAs[Long]("noise_micro")
      assert(r.getAs[Long]("released_micro") == n * 1000000L + noise)
      // Laplace(b=1): |noise| beyond 25 has probability e^-25 — a
      // planted-cell draw outside this is a broken transform, not luck
      assert(math.abs(noise) < 25000000L, r.toString)
      assert(r.getAs[Long]("eps_micro") == 1000000L)
    }
    assert(run1.length == 6) // 2 types x 3 days
  }

  test("mojibake: planted docs flagged and repaired, clean docs untouched") {
    val d = dir()
    val docs = Seq(
      (0L, "plain zero doc", "en", "src0", 14L),   // planted (0 % 7 == 0)
      (1L, "clean one", "en", "src0", 9L),
      (7L, "seven doc", "de", "src1", 9L),          // planted
      (8L, "clean eight", "de", "src1", 11L))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$d/documents.parquet")
    val out = SparkEntry.queries("q_txt_mojibake")(spark, d)
      .collect().map(r => r.getString(0) -> r).toMap
    Seq("en", "de").foreach { l =>
      val r = out(l)
      assert(r.getAs[Long]("n_docs") == 2L)
      assert(r.getAs[Long]("n_flagged") == 1L, r.toString)
      assert(r.getAs[Long]("artifacts_before") == 3L, r.toString)
      assert(r.getAs[Long]("artifacts_after") == 0L, r.toString)
    }
  }

  test("curation funnel: each stage drops exactly its planted victim") {
    val d = dir()
    val longTok = (0 until 700).map(i => ((i % 26) + 'a').toChar).mkString(" ")
    val docs = Seq(
      // doc 0: benchmark holdout (0 % 100 == 0)
      (0L, "foo bar baz qux quux corge grault garply", "en", "src0"),
      // doc 1: survivor (700 one-char tokens -> 1 packed sequence)
      (1L, longTok, "en", "src0"),
      // doc 2: exact duplicate of doc 1 -> dedup drops
      (2L, longTok, "en", "src0"),
      // doc 3: carries a bench 3-gram -> decontamination drops
      (3L, ("foo bar baz " + (0 until 27).map(i => s"w$i").mkString(" ")),
        "en", "src1"),
      // doc 4: too few tokens -> quality drops
      (4L, "tiny doc here", "en", "src1"))
      .map { case (id, tx, l, src) => (id, tx, l, src, tx.length.toLong) }
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$d/documents.parquet")
    val out = SparkEntry.queries("q_txt_curation_funnel")(spark, d)
      .collect().map(r => r.getString(1) ->
        (r.getAs[Long]("docs_in"), r.getAs[Long]("docs_out"),
          r.getAs[Long]("n_units"))).toMap
    assert(out("ingest_holdout") == ((5L, 4L, 4L)), out.toString)
    assert(out("quality") == ((4L, 3L, 3L)), out.toString)
    assert(out("dedup_exact") == ((3L, 2L, 2L)), out.toString)
    assert(out("decontaminate") == ((2L, 1L, 1L)), out.toString)
    assert(out("pack") == ((1L, 1L, 1L)), out.toString) // 700 tok -> 1 seq
  }

  test("glm: three Gauss-Newton rounds separate a planted margin") {
    val d = dir()
    val jan96 = ts("1996-01-01")
    val orders = (1 to 40).map(i => (i.toLong, jan96))
    orders.toDF("o_orderkey", "o_orderdate").write.parquet(s"$d/orders.parquet")
    val lines = (0 until 40).map { i =>
      val q = if (i % 2 == 0) 1.0 else 10.0
      val late = i % 2 == 1 // y == 1 exactly when quantity is high
      (i.toLong + 1, if (i < 20) "A" else "R", q, (i % 5) / 100.0,
        if (late) ts("1996-04-01") else ts("1996-01-15"))
    }
    lines.toDF("l_orderkey", "l_returnflag", "l_quantity", "l_discount",
      "l_shipdate").write.parquet(s"$d/lineitem.parquet")
    val out = SparkEntry.queries("q_feat_glm")(spark, d)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out.keySet == Set("A", "R", "ALL"))
    out.values.foreach { r =>
      assert(r.getAs[Long]("n_correct") == r.getAs[Long]("n"), r.toString)
      assert(r.getAs[Double]("b1") > 0.0, r.toString) // high qty -> late
    }
    assert(out("ALL").getAs[Long]("n") == 40L)
  }

  test("stream dd_quantile: drained sketch register-equal to batch") {
    val d = dir()
    val ev = (0 until 120).map { i =>
      (i.toLong, ts("1996-01-01"), i.toLong % 7,
        if (i % 2 == 0) "view" else "click", (100 + i * 7) / 100.0, "{}")
    }
    ev.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$d/events.parquet")
    val out = SparkEntry.queries("q_stream_dd_quantile")(spark, d)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out.keySet == Set("view", "click"))
    out.values.foreach { r =>
      assert(r.getAs[Boolean]("stream_matches_batch"), r.toString)
      Seq("p50_within", "p95_within", "p99_within")
        .foreach(c => assert(r.getAs[Boolean](c), s"$c in $r"))
      assert(r.getAs[Long]("n") == 60L)
    }
  }

  test("kneser-ney: one-context continuation discounts below versatile one") {
    val d = dir()
    // 'york' appears ONLY after 'new' (12 times); 'cat' appears after
    // many different contexts (8 distinct) but only 3 times after
    // 'new'. MLE ranks york >> cat after 'new'; KN's continuation
    // count pulls york down relative to its raw frequency.
    val texts =
      Seq.fill(12)("new york") ++ Seq.fill(3)("new cat") ++
        (0 until 8).map(i => s"ctx$i cat") ++ Seq.fill(4)("new day")
    val docs = texts.zipWithIndex.map { case (t, i) =>
      (i.toLong + 1, t, "en", "src0", t.length.toLong)
    }
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$d/documents.parquet")
    val out = SparkEntry.queries("q_txt_kneser_ney")(spark, d)
      .collect().filter(r => r.getString(1) == "new")
      .map(r => r.getString(2) ->
        (r.getAs[Long]("mle_myriad"), r.getAs[Long]("kn_myriad"))).toMap
    val (mleY, knY) = out("york")
    val (mleC, knC) = out("cat")
    // the discount transfers mass AWAY from the single-context word
    // and TOWARD the versatile one, relative to MLE
    assert(knY < mleY, s"york: kn=$knY mle=$mleY")
    assert(knC > mleC, s"cat: kn=$knC mle=$mleC")
  }

  test("csv: quoting survives hostile text; contract violations quarantine") {
    val d = dir()
    val hostile = "a,b,\"c\" d \\ e,, \"\"x\"\" ,end"
    val docs = Seq(
      (1L, hostile, "en", "src0", hostile.length.toLong),
      (2L, "plain words", "de", "src0", 11L))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$d/documents.parquet")
    val out = SparkEntry.queries("q_src_csv")(spark, d)
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("sum_chars"))).toMap
    assert(out("_CORRUPT") == ((3L, 0L)), out.toString)
    // the comma/quote/backslash text round-trips to its exact length
    assert(out("en") == ((1L, hostile.length.toLong)), out.toString)
    assert(out("de") == ((1L, 11L)), out.toString)
  }

  test("calibration: decile bins span the score range, ECE law recomputes") {
    val d = dir()
    val jan96 = ts("1996-01-01")
    (1 to 60).map(i => (i.toLong, jan96)).toDF("o_orderkey", "o_orderdate")
      .write.parquet(s"$d/orders.parquet")
    val lines = (0 until 60).map { i =>
      val q = (i % 3) match { case 0 => 1.0; case 1 => 45.0; case _ => 200.0 }
      (i.toLong + 1, q, 0.02,
        if (i % 2 == 0) ts("1996-04-01") else ts("1996-01-15"))
    }
    lines.toDF("l_orderkey", "l_quantity", "l_discount", "l_shipdate")
      .write.parquet(s"$d/lineitem.parquet")
    val rows = SparkEntry.queries("q_feat_calibration")(spark, d).collect()
    assert(rows.map(_.getAs[Long]("bin")).toSet.size >= 3, "bins span")
    assert(rows.map(_.getAs[Long]("n")).sum == 60L)
    // recompute the exact-integer ECE law from the bin columns
    val gap = rows.map(r => math.abs(r.getAs[Long]("n_pos") * 1000000L -
      r.getAs[Long]("conf_nnat") / 1000L)).sum
    val ece = gap / rows.map(_.getAs[Long]("n")).sum
    rows.foreach(r => assert(r.getAs[Long]("ece_ppm") == ece, r.toString))
  }

  test("jsonl: quarantine counts exactly the planted corrupt lines") {
    val d = dir()
    val docs = Seq(
      (1L, "hello world", "en", "src0", 11L),
      (2L, "bonjour \"le\" monde \\ fin", "fr", "src1", 24L),
      (3L, "hallo welt", "de", "src0", 10L))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$d/documents.parquet")
    val out = SparkEntry.queries("q_src_jsonl")(spark, d)
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("sum_chars"))).toMap
    assert(out("_CORRUPT") == ((3L, 0L)), out.toString)
    assert(out("en") == ((1L, 11L)) && out("de") == ((1L, 10L)), out.toString)
    // JSON escaping is transparent: the quoted/backslashed fr text
    // round-trips to its exact char count
    assert(out("fr") == ((1L, 24L)), out.toString)
  }
}
