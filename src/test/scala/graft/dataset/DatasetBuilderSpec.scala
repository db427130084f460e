package graft.dataset

import graft.SparkSpec
import graft.core.ImagePlane
import org.apache.spark.sql.functions._

/** Mirrors dataset_builder_test.py: the end-to-end build_dataset
  * pipeline on synthetic experiment data.
  */
class DatasetBuilderSpec extends SparkSpec {

  private def fixture() = {
    import spark.implicits._
    // 3 experiments x 10 images of 20x20, constant grid labels
    val planes = for {
      e <- 1 to 3
      i <- 0 until 10
    } yield {
      val p = ImagePlane.gridLabels(
        ImagePlane.blankPlanes(1, 1, 20, 20).head, cellSize = 5)
      (s"exp$e", p.fov + s"_e${e}_i$i", p.stack, p.crop, p.slice,
        p.nRows, p.nCols, p.channels, p.pixels, p.labels)
    }
    val planesDf = planes.toDF("experiment", "fov", "stack", "crop", "slice",
      "nRows", "nCols", "channels", "pixels", "labels")
    val meta = Seq(
      ("exp1", "breast", "mibi"),
      ("exp2", "breast", "vectra"),
      ("exp3", "lung", "mibi")).toDF("experiment", "tissue", "platform")
    (planesDf, meta)
  }

  test("buildDataset: join, split, clean — counts and determinism") {
    val (planes, meta) = fixture()
    val out = DatasetBuilder.buildDataset(spark, planes, meta, seed = 42)
    val rows = out.collect()
    assert(rows.length == 30, "all images survive cleaning")
    assert(rows.forall(_.tissue.nonEmpty))
    // per-experiment split counts follow the reference rules (10 -> 8/1/1)
    val perExp = rows.groupBy(r => (r.experiment, r.split)).view.mapValues(_.length).toMap
    (1 to 3).foreach { e =>
      assert(perExp((s"exp$e", "train")) == 8)
      assert(perExp((s"exp$e", "val")) == 1)
      assert(perExp((s"exp$e", "test")) == 1)
    }
    // determinism
    val again = DatasetBuilder.buildDataset(spark, planes, meta, seed = 42)
      .collect().map(r => (r.experiment, r.fov) -> r.split).toMap
    val first = rows.map(r => (r.experiment, r.fov) -> r.split).toMap
    assert(again == first)
  }

  test("buildDataset: category subset and balance") {
    val (planes, meta) = fixture()
    val out = DatasetBuilder.buildDataset(spark, planes, meta,
      tissues = Seq("breast"), seed = 42)
    assert(out.collect().forall(_.tissue == "breast"))
    val balanced = DatasetBuilder.buildDataset(spark, planes, meta,
      balance = true, seed = 42)
    val trainCounts = balanced.filter(col("split") =!= "test")
      .groupBy("tissue").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(trainCounts("breast") == trainCounts("lung"),
      s"balanced categories: $trainCounts")
  }

  test("buildDataset: reshape tiles to the output shape") {
    val (planes, meta) = fixture()
    val out = DatasetBuilder.buildDataset(spark, planes, meta,
      outRows = 10, outCols = 10, seed = 42)
    val rows = out.collect()
    assert(rows.length == 30 * 4, "20x20 -> four 10x10 tiles each")
    assert(rows.forall(r => r.nRows == 10 && r.nCols == 10))
  }

  test("assignSplits: no job at construction, splitCounts per experiment, ratios checked at the call") {
    import spark.implicits._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val (planes, meta) = fixture()
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(jobStart: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      DatasetBuilder.buildDataset(spark, planes, meta, seed = 42)
      org.apache.spark.GraftTestAccess.drainListenerBus(spark.sparkContext)
      assert(jobs.get() == 0, s"buildDataset ran ${jobs.get()} job(s) at construction")
    } finally spark.sparkContext.removeSparkListener(listener)

    val sizes = Seq("a" -> 1, "b" -> 2, "c" -> 3, "d" -> 10, "e" -> 23, "f" -> 57)
    val rows = sizes.flatMap { case (e, n) => (0 until n).map(i => (e, i)) }
      .toDF("experiment", "id").repartition(3)
    Seq((0.8, 0.1, 0.1), (0.6, 0.2, 0.2)).foreach { ratios =>
      val got = DatasetBuilder.assignSplits(rows, seed = 7, ratios).groupBy("experiment", "split")
        .count().as[(String, String, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
      sizes.foreach { case (e, n) =>
        val (tr, va, te) = Splitter.splitCounts(n, ratios)
        assert(Seq("train", "val", "test").map(k => got.getOrElse((e, k), 0L)) == Seq(tr, va, te),
          s"$e of $n at $ratios")
      }
    }
    intercept[IllegalArgumentException](DatasetBuilder.assignSplits(rows, 7, (0.5, 0.2, 0.2)))
    // checked at the call even when there is no row to split
    intercept[IllegalArgumentException](DatasetBuilder.assignSplits(rows.limit(0), 7, (0.9, 0.1, 0.0)))
  }

  test("summarize: per-tissue image and cell counts") {
    val (planes, meta) = fixture()
    val ds = DatasetBuilder.buildDataset(spark, planes, meta, seed = 42)
    val summary = DatasetBuilder.summarize(ds, "tissue").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // 20x20 grid, cellSize 5 -> 16 cells per image
    assert(summary("breast") == ((16L * 20, 20L)))
    assert(summary("lung") == ((16L * 10, 10L)))
  }
}
