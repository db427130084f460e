package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class IvfSpec extends SparkSpec {

  private lazy val embeddings =
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  private lazy val centroids =
    Ivf.trainCentroids(embeddings, "vec_id", "embedding", k = 8, iters = 3)

  private lazy val queryVec = embeddings.filter(col("vec_id") === 0L)
    .select("embedding").first().getSeq[Float](0).toSeq

  test("training is deterministic and produces k normalized centroids") {
    assert(centroids.length == 8)
    centroids.foreach { c =>
      assert(c.length == 64)
      val n = math.sqrt(c.map(x => x * x).sum)
      assert(math.abs(n - 1.0) < 1e-9, s"normalized, got $n")
    }
    val again = Ivf.trainCentroids(embeddings, "vec_id", "embedding", k = 8, iters = 3)
    assert(centroids.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq, "seed-stable")
  }

  test("k larger than the corpus clamps to corpus size instead of crashing") {
    import spark.implicits._
    val tiny = embeddings.limit(3)
    val cents = Ivf.trainCentroids(tiny, "vec_id", "embedding", k = 8, iters = 2)
    assert(cents.length == 3, "kEff = corpus rows")
    cents.foreach(c => assert(math.abs(math.sqrt(c.map(x => x * x).sum) - 1.0) < 1e-9))
    intercept[IllegalArgumentException] {
      Ivf.trainCentroids(embeddings.limit(0), "vec_id", "embedding", k = 4)
    }
  }

  test("nprobe = k probes every cell and equals brute force exactly") {
    val full = Ivf.annTopKIvf(embeddings, "vec_id", "embedding", queryVec, 10,
      centroids, nprobe = 8, excludeId = Some(0L))
      .collect().map(_.getAs[Long]("vec_id")).toSeq
    val exact = Similarity.bruteForceTopK(embeddings, "vec_id", "embedding", 0L, 10)
      .collect().map(_.getAs[Long]("vec_id")).toSeq
    assert(full == exact, s"ivf-full $full vs exact $exact")
  }

  test("batched IVF probe equals the per-probe scan for every probe in the batch") {
    import spark.implicits._
    val probes = embeddings.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("probe_id"), col("embedding").as("qvec"))
      .orderBy("probe_id").limit(4)
    val batch = Ivf.annTopKIvfBatch(embeddings, "vec_id", "embedding",
        probes, "probe_id", "qvec", k = 5, centroids, nprobe = 3)
      .select("probe_id", "vec_id", "rk")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val perProbe = probes.collect().flatMap { r =>
      val pid = r.getLong(0)
      val qv = r.getSeq[Float](1).toSeq
      Ivf.annTopKIvf(embeddings, "vec_id", "embedding", qv, 5, centroids,
          nprobe = 3, excludeId = Some(pid))
        .collect().zipWithIndex
        .map { case (row, i) => (pid, row.getAs[Long]("vec_id"), i + 1) }
    }.toSet
    assert(batch == perProbe, s"batch twin diverges: ${batch.diff(perProbe)} / ${perProbe.diff(batch)}")
    // the join is an equi hash join on cell, never a nested loop
    val plan = Ivf.annTopKIvfBatch(embeddings, "vec_id", "embedding",
      probes, "probe_id", "qvec", k = 5, centroids, nprobe = 3)
      .queryExecution.sparkPlan.toString
    assert(plan.contains("BroadcastHashJoin") && !plan.contains("NestedLoop"),
      s"batched probe should equi-join on cell:\n$plan")
  }

  test("store probe prunes cell partitions at planning time") {
    val path = graft.TempDirs.create("ivfstore")
      .toFile.getAbsolutePath + "/emb"
    Ivf.saveIvfStore(embeddings, "embedding", path, centroids)
    val q = Ivf.annTopKFromStore(spark, path, "vec_id", "embedding", queryVec,
      10, centroids, nprobe = 2, excludeId = Some(0L))
    val scan = q.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    val planned =
      scan.relation.location.listFiles(scan.partitionFilters, scan.dataFilters).length
    assert(planned <= 2, s"scan planned $planned partitions for nprobe=2")
    val total = spark.read.parquet(path).select("cell").distinct().count()
    assert(planned < total, s"pruned: $planned of $total cells")
    // pruned store result == in-memory result at the same nprobe
    val inMem = Ivf.annTopKIvf(embeddings, "vec_id", "embedding", queryVec, 10,
      centroids, nprobe = 2, excludeId = Some(0L))
      .collect().map(_.getAs[Long]("vec_id")).toSeq
    assert(q.collect().map(_.getAs[Long]("vec_id")).toSeq == inMem)
  }

  test("codebook persists with the store: a fresh session probes without retraining") {
    val path = graft.TempDirs.create("ivfbook")
      .toFile.getAbsolutePath + "/emb"
    Ivf.saveIvfStore(embeddings, "embedding", path, centroids)
    val book = Ivf.loadCodebook(spark, path)
    assert(book.map(_.toSeq).toSeq == centroids.map(_.toSeq).toSeq,
      "codebook round-trips exactly")
    // fresh session, no centroids passed: probe resolves from _codebook.json
    val fresh = spark.newSession()
    val fromBook = Ivf.annTopKFromStore(fresh, path, "vec_id", "embedding",
      queryVec, 10, nprobe = 2, excludeId = Some(0L))
      .collect().map(_.getAs[Long]("vec_id")).toSeq
    val withCents = Ivf.annTopKFromStore(spark, path, "vec_id", "embedding",
      queryVec, 10, centroids, nprobe = 2, excludeId = Some(0L))
      .collect().map(_.getAs[Long]("vec_id")).toSeq
    assert(fromBook == withCents, "identical top-k from the persisted codebook")
    // the sidecar must not break plain parquet reads of the store
    assert(fresh.read.parquet(path).count() == embeddings.count())
  }

  test("codebookSize follows sqrt(n) and caps the broadcast at 4096 cells") {
    assert(Ivf.codebookSize(0L) == 1)
    assert(Ivf.codebookSize(500L) == 22)
    assert(Ivf.codebookSize(2000L) == 45)
    assert(Ivf.codebookSize(1000000L) == 1000)
    // THE scale contract: a 100 TB corpus (~1e11 vectors) still
    // broadcasts at most 4096 x dim centroids (~2 MiB at dim 64) —
    // the index gets coarser with scale, never bigger
    assert(Ivf.codebookSize(100000000000L) == 4096)
    // monotone: more data never shrinks the codebook
    val sizes = Seq(10L, 1000L, 100000L, 10000000L, 1000000000L)
      .map(Ivf.codebookSize(_))
    assert(sizes == sizes.sorted)
  }

  test("k=256 path: sample-bounded training, pruned store probe, recall gate") {
    import spark.implicits._
    // 4096 vectors in 64 planted clusters (unit direction + small
    // deterministic noise): the realistic shape where a probe's true
    // neighbors share its cluster, so IVF recall is sharp
    val dim = 16
    val nClusters = 64
    def prand(a: Long, b: Long): Float =
      ((a * 2654435761L + b * 40503L) % 1000L).toFloat / 1000f - 0.5f
    val corpus = spark.range(4096).map { id =>
      val c = id % nClusters
      val base = Array.tabulate(dim)(j => prand(c * 7919L + 13L, j))
      val norm = math.sqrt(base.map(x => x.toDouble * x).sum).toFloat
      val vec = Array.tabulate(dim)(j => base(j) / norm + 0.1f * prand(id, j))
      (id, vec.toSeq)
    }.toDF("vec_id", "embedding")
    val k = 256
    // sampleCap BELOW the corpus size so the sampling path engages:
    // training sees ~2048 of 4096 vectors, the codebook still holds k
    val cents = Ivf.trainCentroids(corpus, "vec_id", "embedding", k = k,
      iters = 3, sampleCap = 2048L)
    // centroid collect is <= k rows regardless of corpus size
    assert(cents.length == k, s"expected $k centroids, got ${cents.length}")
    cents.foreach { c =>
      assert(c.length == dim)
      assert(math.abs(math.sqrt(c.map(x => x * x).sum) - 1.0) < 1e-9)
    }
    // sampled training is deterministic (seed-stable)
    val again = Ivf.trainCentroids(corpus, "vec_id", "embedding", k = k,
      iters = 3, sampleCap = 2048L)
    assert(cents.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
    // the store probe still prunes partitions at planning time: a
    // 256-cell store reads nprobe directories, not 256
    val path = graft.TempDirs.create("ivf256")
      .toFile.getAbsolutePath + "/emb"
    Ivf.saveIvfStore(corpus, "embedding", path, cents)
    val qv = corpus.filter(col("vec_id") === 0L)
      .select("embedding").first().getSeq[Float](0).toSeq
    val q = Ivf.annTopKFromStore(spark, path, "vec_id", "embedding", qv,
      10, cents, nprobe = 8, excludeId = Some(0L))
    val scan = q.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    val planned =
      scan.relation.location.listFiles(scan.partitionFilters, scan.dataFilters).length
    assert(planned <= 8, s"scan planned $planned partitions for nprobe=8 of $k")
    // recall gate: the pruned probe (8 of 256 cells — 97% of the
    // store unread) must still find the probe's clustered neighbors
    val exact = Similarity.bruteForceTopK(corpus, "vec_id", "embedding", 0L, 10)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    val approx = q.collect().map(_.getAs[Long]("vec_id")).toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.8, s"k=256 nprobe=8 recall $recall below gate")
  }

  test("a planted near-duplicate is found in the probe's own cell (nprobe=1)") {
    import spark.implicits._
    val planted = Seq((200000L, queryVec.map(v => v * 1.001f), 42))
      .toDF("vec_id", "embedding", "label")
    val all = embeddings.unionByName(planted)
    val top = Ivf.annTopKIvf(all, "vec_id", "embedding", queryVec, 1,
      centroids, nprobe = 1, excludeId = Some(0L))
      .collect().map(_.getAs[Long]("vec_id")).toSeq
    assert(top == Seq(200000L), s"planted near-dup ranked first: $top")
  }
}
