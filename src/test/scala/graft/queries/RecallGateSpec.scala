package graft.queries

import graft.SparkSpec

/** The LSH recall gate's exact side must stay bounded at any corpus
  * size: above [[ScaleQueries.recallExactDocCap]] docs it measures
  * over a deterministic `doc_id % m == 0` subcorpus (m sized so the
  * sample stays at the cap); at the driver scale factors m = 1 and
  * the gate is the full exact computation.
  */
class RecallGateSpec extends SparkSpec {

  test("at <= cap docs the gate is exact: mod 1, full corpus, recall holds") {
    val row = graft.SparkEntry.queries("q_dedup_lsh_recall")(spark, "/root/testdata/sf0.001")
      .collect().head
    assert(row.getAs[Long]("sample_mod") == 1L)
    assert(row.getAs[Long]("n_docs_total") <= ScaleQueries.recallExactDocCap)
    assert(row.getAs[Boolean]("recall_ok"),
      s"recall ${row.getAs[Double]("recall")} below gate")
  }

  test("the sample modulus formula bounds the exact side at any corpus size") {
    val cap = ScaleQueries.recallExactDocCap
    // the formula the query applies: ceil(n / cap); sampled docs n/m <= cap
    // (ids are dense 0..n-1 in the driver data, so % m keeps ceil(n/m))
    for (n <- Seq(1L, cap - 1, cap, cap + 1, 10 * cap, 997L * cap + 13)) {
      val m = math.max(1L, (n + cap - 1) / cap)
      val sampled = (n + m - 1) / m
      assert(sampled <= cap, s"n=$n m=$m sampled=$sampled > cap=$cap")
      if (n <= cap) assert(m == 1L, s"n=$n below cap must not sample")
    }
  }
}
