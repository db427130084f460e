package graft.streaming

import graft.SparkSpec
import graft.functions.CountMin
import org.apache.spark.sql.functions._

/** The sketch streaming twins' two load-bearing claims:
  * (1) O(sketch) state — a complete-mode global sketch aggregation
  * holds exactly ONE state row however many micro-batches arrive;
  * (2) merge exactness — the CMS matrix drained across a multi-batch
  * replay is bit-identical to the single-pass batch matrix, which is
  * what lets q_stream_countmin share q_evt_countmin's value-level
  * oracle instead of a weakened verdict.
  */
class StreamSketchSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("sliced replay drains to the batch-identical CMS matrix with one state row") {
    val ev = spark.read.parquet(s"$sf/events.parquet")
    val dir = StreamOps.sliceParquet(ev, col("event_id"), 6, "spec_cms")
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
    assert(files.length == 6, "replay must be genuinely multi-batch")
    val StreamOps.Drained(skT, maxState, _) = StreamOps.completeAggDrain(spark, dir,
      "*.parquet", df => df.agg(CountMin.cmsSketch(col("user_id"), 4, 256).as("sk")))
    assert(maxState == 1L, s"global sketch state must be exactly 1 row, saw $maxState")
    val streamed = skT.head().getSeq[Long](0)
    val batch = ev.agg(CountMin.cmsSketch(col("user_id"), 4, 256))
      .head().getSeq[Long](0)
    assert(streamed == batch, "drained matrix must equal the batch matrix bit-for-bit")
    assert(streamed.sum == ev.count() * 4, "each row distributes N across buckets")
  }

  test("MG streaming summary keeps one state row and its verdict table gates green") {
    import graft.functions.MisraGriesTopK.mgTopK
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val dir = StreamOps.sliceParquet(docs, col("doc_id"), 5, "spec_topk")
    val StreamOps.Drained(sk, maxState, _) = StreamOps.completeAggDrain(spark, dir,
      "*.parquet", df => df.select(explode(split(col("text"), " ")).as("token"))
        .agg(mgTopK(col("token"), 100).as("summary"), count(lit(1)).as("n_total")))
    assert(maxState == 1L, s"global summary state must be exactly 1 row, saw $maxState")
    val words = docs.select(explode(split(col("text"), " ")).as("token"))
    val verdict = graft.queries.TextQueries.mgVerdict(words, sk).collect()
    assert(verdict.length == 20)
    verdict.foreach { r =>
      assert(r.getAs[Boolean]("present_ok"), s"guaranteed token missing: $r")
      assert(r.getAs[Boolean]("est_ok"), s"estimate outside PODS bound: $r")
    }
  }
}
