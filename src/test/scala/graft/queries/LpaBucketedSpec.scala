package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The LPA bucketed-edge deployment route: the stored dst-bucketing
  * must make every round's label join plan with ZERO exchanges on the
  * edge side, an unbucketed twin must NOT (negative control — proves
  * the plan verdict isn't vacuous), and the census must be bit-equal
  * to the registered broadcast-route operator on the same graph.
  */
class LpaBucketedSpec extends SparkSpec {
  import spark.implicits._

  // two 4-cliques bridged by one edge — stable LPA shape with a
  // deterministic census
  private def pairs = {
    val clique = (off: Long) => for {
      i <- 0L to 3L; j <- (i + 1) to 3L
    } yield (off + i, off + j)
    (clique(0L) ++ clique(10L) :+ (3L, 10L)).toDF("u", "v")
  }

  test("stored bucketing: round join edge side exchange-free; plain parquet is not") {
    val d = graft.TempDirs.create("lpabkt").toFile.getAbsolutePath
    val tbl = "lpa_bucketed_spec_edges"
    GraphQueries.saveLpaEdgesBucketed(pairs, tbl, s"$d/edges", buckets = 4)
    val probe = spark.table(tbl).select(col("dst").as("node")).distinct()
      .withColumn("lab", col("node"))
    assert(GraphQueries.lpaEdgeSideShuffleFree(
      GraphQueries.lpaVotes(spark.table(tbl), probe, _.hint("shuffle_hash"))),
      "bucketed edge scan must satisfy the join's distribution directly")

    // negative control: identical doubled edges as plain parquet
    pairs.select(col("u").as("src"), col("v").as("dst"))
      .union(pairs.select(col("v").as("src"), col("u").as("dst")))
      .write.parquet(s"$d/plain")
    val plainEdges = spark.read.parquet(s"$d/plain")
    val probe2 = plainEdges.select(col("dst").as("node")).distinct()
      .withColumn("lab", col("node"))
    assert(!GraphQueries.lpaEdgeSideShuffleFree(
      GraphQueries.lpaVotes(plainEdges, probe2, _.hint("shuffle_hash"))),
      "plain-parquet edge side must need an exchange — verdict would be vacuous")
  }

  test("bucketed census equals the broadcast-route census") {
    val d = graft.TempDirs.create("lpabkt2").toFile.getAbsolutePath
    val tbl = "lpa_bucketed_spec_census"
    val p = pairs.localCheckpoint()
    GraphQueries.saveLpaEdgesBucketed(p, tbl, s"$d/edges", buckets = 4)
    val bucketed = GraphQueries.lpaCensusBucketed(spark, tbl, rounds = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val classic = GraphQueries.lpaCensus(p, rounds = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(bucketed == classic && bucketed.nonEmpty, s"$bucketed vs $classic")
  }
}
