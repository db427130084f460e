package graft.sources

import graft.{Fixtures, SparkSpec}
import graft.core.ImagePlane
import graft.functions.Strings
import graft.ops.PlotUtils

import java.nio.file.Files

class PlaneStoreSpec extends SparkSpec {

  test("partitioned save/load round trip; fov read is partition-pruned") {
    val dir = Files.createTempDirectory("planestore").toFile.getAbsolutePath + "/planes"
    val orig = ImagePlane.blankPlanes(3, 2, 16, 16).map(ImagePlane.gridLabels(_, 4))
    PlaneStore.save(ImagePlane.toDataset(spark, orig), dir)
    val back = PlaneStore.load(spark, dir).collect()
    assert(back.length == orig.length)
    assert(back.map(p => (p.fov, p.stack)).toSet == orig.map(p => (p.fov, p.stack)).toSet)
    // single-fov load prunes partitions at the source
    val one = PlaneStore.loadFov(spark, dir, "fov2")
    assert(one.collect().forall(_.fov == "fov2"))
    val plan = one.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("fov2"),
      s"partition pruning visible in plan:\n$plan")
  }

  test("bucketed table: per-fov aggregation plans without a shuffle") {
    val path = Files.createTempDirectory("bucketed").toFile.getAbsolutePath + "/t"
    val planes = ImagePlane.blankPlanes(4, 2, 8, 8)
    PlaneStore.saveBucketedTable(ImagePlane.toDataset(spark, planes),
      "plane_bucket_spec", path, buckets = 4)
    val agg = spark.table("plane_bucket_spec")
      .groupBy("fov").agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"bucketed layout should aggregate shuffle-free:\n$plan")
    assert(agg.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      == Map("fov1" -> 2L, "fov2" -> 2L, "fov3" -> 2L, "fov4" -> 2L))
    spark.sql("DROP TABLE IF EXISTS plane_bucket_spec")
  }

  test("createCombinedNpz folds planes into one training NPZ (S14)") {
    val out = Files.createTempDirectory("combined").toFile.getAbsolutePath + "/all.npz"
    val planes = ImagePlane.blankPlanes(2, 2, 8, 8).map(ImagePlane.gridLabels(_, 4))
    Npz.createCombinedNpz(ImagePlane.toDataset(spark, planes), out)
    val decoded = Npz.decodeTrainingNpz("all.npz",
      Files.readAllBytes(java.nio.file.Paths.get(out)))
    assert(decoded.length == 4, "batch dim = all planes")
    assert(decoded.forall(_.labels.exists(_ != 0)))
  }

  test("natural sort key orders alphanumerics correctly (W5)") {
    assert(Strings.sortedNicely(Seq("fov10", "fov2", "fov1")) == Seq("fov1", "fov2", "fov10"))
    assert(Strings.naturalKey("a12b3") == "a000000000012b000000000003")
    assert(Strings.sortedNicely(Seq("x", "y")) == Seq("x", "y"))
  }

  test("grid overlay burns dotted boundaries (F8); channel colors map (F9)") {
    val p = ImagePlane.blankPlanes(1, 1, 10, 10, Seq("dapi")).head
    val overlaid = PlotUtils.overlayGridLines(p, Seq(5), Seq(5))
    assert(overlaid.pixel(0, 5, 0) > 0f && overlaid.pixel(0, 5, 2) > 0f)
    assert(overlaid.pixel(0, 5, 1) == 0f, "dotted, not solid")
    val colored = PlotUtils.setChannelColors(
      p.copy(channels = Seq("dapi", "cd45"),
        pixels = new Array[Float](2 * 100)),
      Map("dapi" -> "blue", "cd45" -> "red"))
    assert(colored.channels == Seq("cd45", "blank_green", "dapi"))
  }

  test("compatibility check flags disagreeing columns (S5)") {
    import spark.implicits._
    val df = Seq((512, 0.5, "a"), (512, 0.5, "b"), (512, 0.6, "c"))
      .toDF("dim", "pixel_size", "exp")
    assert(Tiff.incompatibleColumns(df, Seq("dim", "pixel_size")) == Seq("pixel_size"))
    assert(Tiff.incompatibleColumns(df, Seq("dim")) == Seq.empty)
  }

  test("datasetsAvailable censuses the reference ontology tree (S3)") {
    val df = Tiff.datasetsAvailable(spark, Fixtures.ontology)
    val rows = df.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Long]("n_files") >= 1))
  }
}
