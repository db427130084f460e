package graft.queries

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.functions._

/** Structural invariants for the round-12 additions the DuckDB oracles
  * can't express: chunk-dedup conservation + keep-first semantics on a
  * planted duplicate, PCA convergence/normalization, and the HLL
  * rolling-distinct accuracy contract across every sf dir.
  */
class ChunkPcaHllSpec extends SparkSpec {
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.01"

  test("chunk dedup: kept chunks across the corpus equal the distinct chunk census") {
    val rows = SparkEntry.queries("q_txt_chunk_dedup")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (chunks, kept, dropped) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(kept >= 0 && kept <= chunks && dropped == chunks - kept)
    }
    // conservation: Σ n_kept = number of DISTINCT chunks in the corpus
    val w = 8
    val distinctChunks = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(posexplode(graft.functions.Dedup.shingleHashSeqCol(
        split(col("text"), " "), w)).as(Seq("pos", "h")))
      .filter(col("pos") % w === 0)
      .select("h").distinct().count()
    assert(rows.map(_.getLong(2)).sum == distinctChunks)
  }

  test("chunk dedup keep-first: a full duplicate doc retains nothing, the original everything") {
    val docs = Seq(
      (0L, "a b c d e f g h i j k l m n o p"), // 2 chunks, first occurrence
      (1L, "a b c d e f g h i j k l m n o p"), // exact dup -> retention 0
      (2L, "q r s t u v w x a b c d e f g h")  // second chunk dups doc 0's first
    ).toDF("doc_id", "text")
    val dir = graft.TempDirs.create("chunkdedup").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("q_txt_chunk_dedup")(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    assert(out(0L) == (2L, 0L), "first occurrence keeps both chunks")
    assert(out(1L) == (0L, 2L), "verbatim duplicate drops both chunks")
    assert(out(2L) == (1L, 1L), "doc sharing one chunk drops exactly it")
  }

  test("shingleHashSeqCol is positional: length n-w+1, repeats preserved") {
    val df = Seq("x y x y x y").toDF("text")
      .select(graft.functions.Dedup.shingleHashSeqCol(split(col("text"), " "), 2).as("h"))
    val h = df.collect().head.getSeq[Long](0)
    assert(h.length == 5, "5 overlapping bigrams, duplicates NOT collapsed")
    assert(h(0) == h(2) && h(2) == h(4), "identical bigrams hash identically in place")
    assert(h.toSet.size == 2)
  }

  test("pca: unit-norm quantized component, deterministic replay, variance alignment") {
    val rows = SparkEntry.queries("q_emb_pca")(spark, sfDir).collect()
    assert(rows.length == 64 && rows.map(_.getInt(0)).toSeq == (0 until 64))
    val vq = rows.map(_.getLong(4))
    val norm2 = vq.map(x => x * x.toDouble / 1e12).sum
    assert(math.abs(norm2 - 1.0) < 1e-3, s"|v|^2 = $norm2 should be ~1 after normalization")
    // power iteration must have rotated mass off the e0 seed onto a mix of dims
    assert(vq.count(_ != 0L) > 8, "component concentrated on too few dims to be a real direction")
    // deterministic: a second full run (fresh collects) reproduces bit-identical output
    val again = SparkEntry.queries("q_emb_pca")(spark, sfDir).collect()
    assert(rows.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }

  test("pca2: rank-2 basis is orthonormal and component 1 matches q_emb_pca") {
    val r2 = SparkEntry.queries("q_emb_pca2")(spark, sfDir).collect()
    assert(r2.length == 64)
    val v1 = r2.map(_.getLong(1).toDouble / 1e6)
    val v2 = r2.map(_.getLong(3).toDouble / 1e6)
    def dot(a: Array[Double], b: Array[Double]) = a.zip(b).map { case (x, y) => x * y }.sum
    assert(math.abs(dot(v1, v1) - 1.0) < 1e-3)
    assert(math.abs(dot(v2, v2) - 1.0) < 1e-3)
    assert(math.abs(dot(v1, v2)) < 1e-2,
      s"components not orthogonal: <v1,v2> = ${dot(v1, v2)}")
    val v1FromPca = SparkEntry.queries("q_emb_pca")(spark, sfDir).collect()
      .map(_.getLong(4))
    assert(r2.map(_.getLong(1)).toSeq == v1FromPca.toSeq,
      "pca2's re-emitted component 1 must equal q_emb_pca's")
  }

  test("hll rolling 7-day distinct stays inside the 5% contract on every sf dir") {
    for (d <- Seq("/root/testdata/sf0.001", sfDir)) {
      val rows = SparkEntry.queries("q_evt_hll_rolling")(spark, d).collect()
      assert(rows.nonEmpty)
      assert(rows.forall(_.getBoolean(2)), s"sketch estimate out of tolerance at $d")
      assert(rows.forall(_.getLong(1) > 0))
    }
  }
}
