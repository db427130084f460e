package graft.queries

import org.apache.spark.sql.functions._

import graft.{SparkEntry, SparkSpec}

/** Controls for the bucketed co-located join verdict: the same join
  * over plain parquet MUST report a shuffle under the sort-merge join
  * (negative control — proves the plan inspection isn't vacuously
  * true), and the registered query over bucketed tables must emit
  * join_shuffle_free = true with the exact join census.
  */
class LayoutBucketJoinSpec extends SparkSpec {
  import spark.implicits._

  test("negative control: un-bucketed SMJ carries shuffles; bucketed query verdict true") {
    val d = graft.TempDirs.create("bkt").toFile.getAbsolutePath
    // plain-parquet twin of the registered join, forced to SMJ
    Seq((1L, "1-URGENT"), (2L, "5-LOW"))
      .toDF("o_orderkey", "o_orderpriority").write.parquet(s"$d/orders.parquet")
    Seq((1L, 100.0, 0.0), (1L, 50.0, 0.5), (2L, 10.0, 0.0))
      .toDF("l_orderkey", "l_extendedprice", "l_discount")
      .write.parquet(s"$d/lineitem.parquet")
    val plain = spark.read.parquet(s"$d/lineitem.parquet").hint("merge")
      .join(spark.read.parquet(s"$d/orders.parquet"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
    assert(!AdvancedQueries.smjShuffleFree(plain),
      "plain-parquet SMJ must need a shuffle — the verdict would be vacuous")

    val out = SparkEntry.queries("q_layout_bucket_join")(spark, d)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    // rev: 10000*100=1,000,000; 5000*50=250,000 -> A total 1,250,000
    assert(out.toSeq == Seq(
      ("1-URGENT", 2L, 1250000L, true),
      ("5-LOW", 1L, 100000L, true)), s"got ${out.toSeq}")
  }
}
