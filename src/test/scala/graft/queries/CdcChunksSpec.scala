package graft.queries

import graft.{SparkEntry, SparkSpec}

/** Pins the CDC law and the property it exists for: after a one-char
  * insertion, content-defined boundaries RESYNCHRONIZE within a gram,
  * so the edited document still shares most of its chunks with the
  * original — while fixed-width chunking loses every chunk after the
  * edit point.
  */
class CdcChunksSpec extends SparkSpec {
  import spark.implicits._

  // deterministic printable-ASCII text via an LCG
  private def lcgText(n: Int, seed: Long): String = {
    var s = seed
    val sb = new StringBuilder
    for (_ <- 0 until n) {
      s = (s * 6364136223846793005L + 1442695040888963407L)
      sb += (33 + math.floorMod(s >>> 33, 94L).toInt).toChar
    }
    sb.toString
  }

  /** Plain-Scala replay of the declared law (w=4, base 31, mod 1e9+7,
    * mask 64): shares no code with the engine's rolling expression or
    * higher-order slicing.
    */
  private def cdcChunks(text: String): Seq[String] = {
    val w = 4; val B = 31L; val M = 1000000007L
    val cps = text.codePoints().toArray
    val cuts = (0 to cps.length - w).filter { i =>
      var h = 0L
      for (j <- i until i + w) h = (h * B + cps(j)) % M
      h % 64 == 63
    }
    val starts = 0 +: cuts.map(_ + w)
    val ends = cuts.map(_ + w) :+ cps.length
    starts.zip(ends).map { case (a, b) => text.substring(a, b) }
      .filter(_.nonEmpty)
  }

  test("registered query replays the plain-Scala law on a planted corpus") {
    val a = lcgText(500, 7L)
    val b = a.substring(0, 200) + "@" + a.substring(200)
    val d = graft.TempDirs.create("cdc").toFile.getAbsolutePath
    Seq((1L, a), (2L, b)).toDF("doc_id", "text")
      .write.parquet(s"$d/documents.parquet")
    val rows = SparkEntry.queries("q_txt_cdc_chunks")(spark, d)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // reference keep-first over (doc order, chunk order)
    val ca = cdcChunks(a); val cb = cdcChunks(b)
    val seen = scala.collection.mutable.Set.empty[String]
    val keptA = ca.count(seen.add)
    val keptB = cb.count(seen.add)
    assert(rows(1L) == ((ca.length.toLong, keptA.toLong, (ca.length - keptA).toLong)))
    assert(rows(2L) == ((cb.length.toLong, keptB.toLong, (cb.length - keptB).toLong)))
  }

  test("resynchronization: one inserted char keeps most chunks; fixed-width loses the suffix") {
    val a = lcgText(2000, 42L)
    val b = a.substring(0, 800) + "@" + a.substring(800)
    val ca = cdcChunks(a); val cb = cdcChunks(b)
    assert(ca.length >= 10, s"mask 64 should cut ~${2000 / 64} chunks, got ${ca.length}")
    val shared = cb.count(ca.toSet)
    // every chunk except the edit-local ones re-aligns
    assert(shared >= cb.length - 3,
      s"CDC shared only $shared of ${cb.length} chunks after a 1-char edit")
    // the fixed-width contrast: zero shared chunks at or after the edit
    val fixedA = a.grouped(64).toSeq; val fixedB = b.grouped(64).toSeq
    val fixedSharedAfter = fixedB.drop(800 / 64).count(fixedA.toSet)
    assert(fixedSharedAfter == 0,
      "fixed-width chunking should lose every chunk after the insertion")
  }
}
