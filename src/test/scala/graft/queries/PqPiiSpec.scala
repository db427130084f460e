package graft.queries

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.functions._

/** Round-12 additions: product quantization (q_emb_pq / q_emb_pq_recall),
  * SemDeDup-style coarse-cell blocking (q_dedup_semdedup), the PII
  * census (q_txt_pii) and per-lang tf-idf (q_txt_tfidf).
  *
  * The driver corpus is synthetic and PII-free, so PII DETECTION is
  * proven here on a planted fixture (the registered query's oracle only
  * proves the zero census); the PQ suite pins the structural invariants
  * the DuckDB oracle can't express (recall ordering, blocking bounds).
  */
class PqPiiSpec extends SparkSpec {
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.01"

  test("pq census: every (sub, code) cell is valid and rows account for m x corpus") {
    val rows = SparkEntry.queries("q_emb_pq")(spark, sfDir).collect()
    val n = spark.read.parquet(s"$sfDir/embeddings.parquet").count()
    assert(rows.map(_.getLong(2)).sum == SimilarityQueries.pqM * n)
    assert(rows.forall(r => r.getLong(0) >= 0 && r.getLong(0) < SimilarityQueries.pqM))
    assert(rows.forall(r => r.getLong(1) >= 0 && r.getLong(1) < SimilarityQueries.pqK))
    // every subspace accounts for the whole corpus exactly once
    val perSub = rows.groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(2)).sum)
    assert(perSub.values.toSet == Set(n))
    assert(rows.forall(_.getLong(3) >= 0L))
  }

  test("pq recall: exact rerank of the ADC shortlist dominates raw ADC top-10") {
    val rows = SparkEntry.queries("q_emb_pq_recall")(spark, sfDir).collect()
    assert(rows.length == SimilarityQueries.pqProbeCount)
    rows.foreach { r =>
      val (adc, rer) = (r.getDouble(2), r.getDouble(4))
      assert(adc >= 0.0 && adc <= 1.0 && rer >= 0.0 && rer <= 1.0)
      assert(rer >= adc, s"rerank recall $rer < adc recall $adc for probe ${r.getLong(0)}")
    }
    // the shortlist is 20% of the sf0.01 corpus: rerank must recover a
    // nontrivial share of the true top-10 somewhere (guards against a
    // degenerate all-zeros join)
    assert(rows.map(_.getDouble(4)).max >= 0.5)
  }

  test("semdedup blocking: coarse cells bound the candidate set far below all-pairs") {
    val coded = SimilarityQueries.semdedupCells(spark, sfDir)
    val occ = coded.groupBy("cl").count().agg(
      max("count").as("mx"), sum(col("count") * (col("count") - 1) / 2).as("cand")).head()
    val n = coded.count()
    assert(occ.getLong(0) <= 64, s"hot cell ${occ.getLong(0)} rows")
    val allPairs = n * (n - 1) / 2.0
    assert(occ.getDouble(1) < allPairs / 50.0,
      s"candidates ${occ.getDouble(1)} not << all-pairs $allPairs")
  }

  test("pii census detects planted PII and stays zero on clean text") {
    val dir = graft.TempDirs.create("pii").toFile.getAbsolutePath
    Seq(
      (1L, "contact me at alice@example.com or bob.smith+tag@mail.co today", "en", "w", 60L),
      (2L, "server at 10.0.0.1 and 192.168.1.254 responded", "en", "w", 47L),
      (3L, "call 555-123-4567 or +1 800 555 1212 now", "en", "w", 40L),
      (4L, "ssn 123-45-6789 leaked", "en", "w", 22L),
      (5L, "a perfectly clean sentence with numbers 12345 and dots a.b", "de", "w", 58L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val r = SparkEntry.queries("q_txt_pii")(spark, dir)
      .collect().map(row => row.getString(0) -> row).toMap
    val en = r("en")
    assert(en.getLong(en.fieldIndex("docs_email")) == 1L)
    assert(en.getLong(en.fieldIndex("n_email")) == 2L)
    assert(en.getLong(en.fieldIndex("docs_ipv4")) == 1L)
    assert(en.getLong(en.fieldIndex("n_ipv4")) == 2L)
    assert(en.getLong(en.fieldIndex("docs_phone")) == 1L)
    assert(en.getLong(en.fieldIndex("n_phone")) == 2L) // "800 555 1212" is also 3-3-4
    assert(en.getLong(en.fieldIndex("docs_ssn")) == 1L)
    val de = r("de")
    Seq("n_email", "n_ipv4", "n_phone", "n_ssn").foreach { c =>
      assert(de.getLong(de.fieldIndex(c)) == 0L, s"clean doc flagged in $c")
    }
  }

  test("bpe merge: pair counts are vocabulary-weighted, argmax is the first merge") {
    val dir = graft.TempDirs.create("bpe").toFile.getAbsolutePath
    // "xxxy" freq 2 -> pairs xx(x2 per token), xy(x1); "zq" freq 1
    Seq((1L, "xxxy zq", "en", "w", 0L), (2L, "xxxy", "en", "w", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("q_txt_bpe_merge")(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("xx" -> 4L, "xy" -> 2L, "zq" -> 1L))
  }

  test("collocation: a repeated adjacent pair scores above independent co-occurrence") {
    val dir = graft.TempDirs.create("colloc").toFile.getAbsolutePath
    val phrase = Seq.fill(6)("big data").mkString(" ")
    // the repeated phrase yields (big,data) x6 and (data,big) x5 at its
    // internal boundaries; doc 2 adds unigram mass without adjacency
    Seq((1L, s"$phrase filler words here", "en", "w", 0L),
      (2L, "data filler big other big words data filler", "en", "w", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("q_txt_colloc")(spark, dir).collect()
    val top = out.filter(r => r.getString(0) == "en" && r.getInt(1) == 1).head
    assert((top.getString(2), top.getString(3)) == ("big", "data"))
    assert(top.getLong(4) == 6L)
  }

  test("mixture: temperature 0.5 flattens source weights toward the small slices") {
    val rows = SparkEntry.queries("q_txt_mixture")(spark, sfDir).collect()
    assert(rows.length > 1)
    val big = rows.maxBy(_.getLong(3))
    val small = rows.minBy(_.getLong(3))
    assert(big.getDouble(4) < big.getDouble(5), "largest slice must shrink under temperature")
    assert(small.getDouble(4) > small.getDouble(5), "smallest slice must grow under temperature")
    val wsum = rows.map(_.getDouble(4)).sum
    assert(math.abs(wsum - 1.0) < 1e-3, s"weights must normalize, got $wsum")
  }

  test("tf-idf: a lang-exclusive rare term outranks corpus-wide fillers") {
    val dir = graft.TempDirs.create("tfidf").toFile.getAbsolutePath
    val fill = "alpha beta gamma"
    Seq(
      (1L, s"$fill quux quux quux", "en", "w", 0L),
      (2L, s"$fill", "en", "w", 0L),
      (3L, s"$fill", "de", "w", 0L),
      (4L, s"$fill", "de", "w", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("q_txt_tfidf")(spark, dir).collect()
    val enTop = out.filter(r => r.getString(0) == "en" && r.getInt(1) == 1).head
    // quux: tf=3, df=1, N=4 -> score 12; fillers: tf=2, df=4 -> score 2
    assert(enTop.getString(2) == "quux")
    assert(enTop.getDouble(5) == 12.0)
  }
}
