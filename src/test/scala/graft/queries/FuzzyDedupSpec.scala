package graft.queries

import graft.{SparkEntry, SparkSpec}

/** The driver corpus contains only distance-0 title collisions, so the
  * distance-1 machinery of `q_dedup_fuzzy` (FastSS deletion-neighborhood
  * blocking + levenshtein verify) is proven here on planted typos: a
  * substitution, a deletion and an insertion must all pair with the
  * clean originals, a distance-2 doc must not, and the full output must
  * equal the brute-force all-pairs replay — the losslessness claim the
  * DuckDB oracle makes on real data, re-proven on adversarial data.
  */
class FuzzyDedupSpec extends SparkSpec {
  import spark.implicits._

  private def lev(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  private def norm(s: String): String =
    s.replaceAll("\\s+", " ").toLowerCase.take(40)

  test("planted typos: output equals the brute-force distance<=1 pair set") {
    val dir = graft.TempDirs.create("fuzzy").toFile.getAbsolutePath
    val texts = Seq(
      1L -> "hello world data engine",
      2L -> "hello world data engine",    // exact dup -> dist 0
      3L -> "Hello   WORLD data engine",  // normalization collapses to dist 0
      4L -> "hella world data engine",    // substitution -> dist 1
      5L -> "hello world data engin",     // deletion -> dist 1
      6L -> "hello worlld data engine",   // insertion -> dist 1
      7L -> "hxllo wxrld data engine",    // dist 2: blocked OR verified away
      8L -> "completely different text")
    val rows = texts.map { case (id, tx) => (id, tx, "en", "w", tx.length.toLong) } :+
      ((9L, null.asInstanceOf[String], "en", "w", 0L)) // null text ignored
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")

    val got = SparkEntry.queries("q_dedup_fuzzy")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

    val expected = (for {
      (ia, ta) <- texts; (ib, tb) <- texts if ia < ib
      d = lev(norm(ta), norm(tb)) if d <= 1
    } yield (ia, ib, d)).toSet

    assert(got == expected, s"got $got\nexpected $expected")
    // the planted cases, spelled out
    assert(got.contains((1L, 2L, 0)) && got.contains((1L, 3L, 0)))
    assert(got.contains((1L, 4L, 1)) && got.contains((1L, 5L, 1)) && got.contains((1L, 6L, 1)))
    assert(!got.exists(p => p._1 == 7L || p._2 == 7L), "distance-2 doc paired")
    assert(!got.exists(p => p._1 == 8L || p._2 == 8L || p._1 == 9L || p._2 == 9L))
  }
}
