package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {

  private lazy val embeddings =
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  test("bruteForceTopK returns k ordered neighbors") {
    val top = Similarity.bruteForceTopK(embeddings, "vec_id", "embedding", 0L, 5).collect()
    assert(top.length == 5)
    val sims = top.map(_.getAs[Double]("cos_sim"))
    assert(sims.sliding(2).forall { case Array(a, b) => a >= b })
    assert(sims.forall(s => s >= -1.0001 && s <= 1.0001))
  }

  test("LSH bucketing is deterministic and groups similar vectors") {
    val b1 = Similarity.withBucket(embeddings, "embedding", 64, nBits = 8)
      .select("vec_id", "bucket").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b2 = Similarity.withBucket(embeddings, "embedding", 64, nBits = 8)
      .select("vec_id", "bucket").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(b1 == b2, "seed-stable buckets")
    assert(b1.values.toSet.size > 1, "multiple buckets in use")
  }

  test("annTopK finds planted near-duplicates (and reasonable recall)") {
    import spark.implicits._
    // plant two near-copies of vec 0: ANN must rank them on top
    val base = embeddings.filter(col("vec_id") === 0L)
      .select("embedding").first().getSeq[Float](0)
    val planted = Seq(
      (100000L, base.map(v => v * 1.001f), 99),
      (100001L, base.zipWithIndex.map { case (v, i) => if (i == 0) v + 0.01f else v }, 99))
      .toDF("vec_id", "embedding", "label")
    val all = embeddings.unionByName(planted)
    val ann = Similarity.annTopK(all, "vec_id", "embedding", 0L, 10,
      dim = 64, nBits = 6, maxFlips = 2)
      .collect().map(_.getAs[Long]("vec_id"))
    assert(ann.take(2).toSet == Set(100000L, 100001L),
      s"planted near-dups ranked first: ${ann.toSeq}")
    // loose recall bound on the random remainder (uniform vectors are
    // LSH's worst case; 6 bits + 2 flips probes ~1/3 of buckets)
    val exact = Similarity.bruteForceTopK(all, "vec_id", "embedding", 0L, 10)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    val recall = (exact intersect ann.toSet).size.toDouble / exact.size
    assert(recall >= 0.3, s"recall $recall")
  }

  test("annTopK on an absent probe id returns empty, not an exception") {
    val missing = Similarity.annTopK(embeddings, "vec_id", "embedding",
      probeId = -12345L, 10, dim = 64, nBits = 6)
    assert(missing.count() == 0L, "absent probe -> empty result")
    assert(missing.columns.contains("cos_sim"), "schema preserved")
  }

  test("annTopK scans fewer rows than brute force") {
    // bucket restriction: candidate set < full table
    val planes = Similarity.hyperplanes(64, 10, 13L)
    val bkt = udf((v: Seq[Float]) => Similarity.bucketOf(v, planes))
    val bucketed = embeddings.withColumn("bucket", bkt(col("embedding")))
    val total = bucketed.count()
    val probeBucket = bucketed.filter(col("vec_id") === 0L)
      .select("bucket").first().getLong(0)
    val inOneBucket = bucketed.filter(col("bucket") === probeBucket).count()
    assert(inOneBucket < total, s"bucket $inOneBucket of $total")
  }

  test("annTopK plans a pushable IN filter, not a nested-loop join") {
    val plan = Similarity.annTopK(embeddings, "vec_id", "embedding", 0L, 10,
      dim = 64, nBits = 6, maxFlips = 1).queryExecution.sparkPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"bucket restriction must be a filter, not a join:\n$plan")
    assert(!plan.contains("Join"), s"no join of any kind in the ANN plan:\n$plan")
  }

  test("annTopKFromStore prunes bucket partitions at planning time") {
    val path = graft.TempDirs.create("annstore")
      .toFile.getAbsolutePath + "/emb"
    Similarity.saveBucketedStore(embeddings, "embedding", path, dim = 64, nBits = 6)
    val qv = embeddings.filter(col("vec_id") === 0L)
      .select("embedding").first().getSeq[Float](0).toSeq
    val q = Similarity.annTopKFromStore(spark, path, "vec_id", "embedding", qv,
      10, 64, nBits = 6, maxFlips = 1, excludeId = Some(0L))
    val scan = q.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    val plannedParts =
      scan.relation.location.listFiles(scan.partitionFilters, scan.dataFilters).length
    val totalParts = spark.read.parquet(path).select("bucket").distinct().count()
    val probed = Similarity.probeBuckets(qv, 64, 6, 1).distinct.length
    assert(plannedParts <= probed,
      s"scan planned $plannedParts partitions; at most $probed probed buckets")
    assert(plannedParts < totalParts,
      s"pruned: $plannedParts of $totalParts bucket partitions")
    // pruned store plan and the in-memory plan agree exactly
    val fromStore = q.collect().map(_.getAs[Long]("vec_id")).toSeq
    val inMem = Similarity.annTopKVec(embeddings, "vec_id", "embedding", qv,
      10, 64, nBits = 6, maxFlips = 1, excludeId = Some(0L))
      .collect().map(_.getAs[Long]("vec_id")).toSeq
    assert(fromStore == inMem, s"store $fromStore vs in-mem $inMem")
  }
}
