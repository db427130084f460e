package graft.ops

import graft.SparkSpec
import graft.core.ImagePlane
import graft.sources.Npz
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}

import java.nio.file.{Files, StandardCopyOption}

/** The fused EP2 read (`Reconstruct.reconstructFromNpzDir`) against the
  * operator composition it replaced: grid-completed NPZ read, then
  * stitchSlices, then stitchCrops. Each slice's units are tagged with
  * the slice id before they are written, so an overlap stack taken from
  * the wrong slice shows in its pixels and labels.
  */
class ReconstructFusedSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val channels = Seq("c0", "c1")

  /** Crop and slice `nFovs` movies into NPZ units under a fresh dir. */
  private def writeUnits(nFovs: Int, stackLen: Int, rows: Int, cols: Int,
                         crop: Option[(Int, Int, Double)], slice: Option[(Int, Int)])
      : (String, Reconstruct.ReconstructionPlan) = {
    val dir = graft.TempDirs.create("reconstruct_fused").toFile.getAbsolutePath
    val orig = ImagePlane.blankPlanes(nFovs, stackLen, rows, cols, channels)
      .map(ImagePlane.gridLabels(_, cellSize = 5))
      .map(p => p.copy(pixels = Array.tabulate(p.pixels.length)(i => (i + 31 * p.stack).toFloat)))
    val fovs = (1 to nFovs).map(f => s"fov$f")
    val (units, plan) = Reconstruct.cropAndSlice(ImagePlane.toDataset(spark, orig),
      rows, cols, stackLen, crop, slice, fovs, channels)
    implicit val enc = units.encoder
    val tagged = units.map { p =>
      p.copy(pixels = p.pixels.map(_ + 1000f * p.slice),
        labels = p.labels.map(l => if (l == 0) 0 else l + 100 * p.slice))
    }
    Npz.saveNpzsForCaliban(tagged, dir, "include")
    (dir, plan)
  }

  /** The composition EP2 ran before the fused read. */
  private def composed(dir: String, plan: Reconstruct.ReconstructionPlan): Dataset[ImagePlane] = {
    val nCrops = plan.cropPlan.map(_.numCrops).getOrElse(1)
    val sliceLens = plan.slicePlan
      .map(p => p.starts.indices.map(i => i -> (p.ends(i) - p.starts(i))))
      .getOrElse(Seq(0 -> plan.stackLen))
    val expected = for {
      f <- plan.fovs
      c <- 0 until nCrops
      (s, len) <- sliceLens
    } yield (f, c, s, len)
    var ds = Npz.loadNpzsWithGrid(spark, dir, expected,
      plan.cropPlan.map(_.cropRows).getOrElse(plan.nRows),
      plan.cropPlan.map(_.cropCols).getOrElse(plan.nCols), plan.channels)
    plan.slicePlan.foreach(p => ds = SliceOps.stitchSlices(ds, p))
    plan.cropPlan.foreach(p => ds = CropOps.stitchCrops(ds, p))
    ds
  }

  private def byKey(ds: Dataset[ImagePlane]): Map[(String, Int), ImagePlane] = {
    val planes = ds.collect()
    val m = planes.map(p => (p.fov, p.stack) -> p).toMap
    assert(m.size == planes.length, "one plane per (fov, stack)")
    m
  }

  private def assertSame(fused: Map[(String, Int), ImagePlane],
                         old: Map[(String, Int), ImagePlane]): Unit = {
    assert(fused.keySet == old.keySet)
    old.foreach { case (k, o) =>
      val f = fused(k)
      assert((f.crop, f.slice, f.nRows, f.nCols, f.channels) ==
        (o.crop, o.slice, o.nRows, o.nCols, o.channels), s"header of $k")
      assert(f.pixels.sameElements(o.pixels), s"pixels of $k")
      assert(f.labels.sameElements(o.labels), s"labels of $k")
    }
  }

  test("overlapping and truncated slices, a deleted unit, an empty fov, stray files") {
    // 6 stacks in slices of 3 overlapping by 1: [0,3) [2,5) [4,6), the
    // last one truncated; 30x30 in 12x12 crops at 0.25 overlap
    val (dir, written) = writeUnits(2, 6, 30, 30, Some((12, 12, 0.25)), Some((3, 1)))
    assert(written.slicePlan.get.ends.toSeq == Seq(3, 5, 6))
    val plan = written.copy(fovs = written.fovs :+ "fov9") // fov9 returned no unit
    val d = new java.io.File(dir)
    assert(new java.io.File(d, "fov_fov1_crop_5_slice_1.npz").delete(), "unit existed")
    val unit = new java.io.File(d, "fov_fov2_crop_0_slice_0.npz").toPath
    Seq("fov_stray_crop_0_slice_0.npz", "fov_fov1_crop_99_slice_0.npz",
        "fov_fov2_crop_0_slice_7.npz", "notes.npz")
      .foreach(n => Files.copy(unit, d.toPath.resolve(n), StandardCopyOption.REPLACE_EXISTING))

    val fused = byKey(Reconstruct.reconstructFromNpzDir(spark, dir, plan))
    assertSame(fused, byKey(composed(dir, plan)))
    assert(fused.size == 3 * 6)
    assert(fused.keys.forall(_._1 != "stray"), "stray fov dropped")
    assert((0 until 6).forall(t => fused(("fov9", t)).labels.forall(_ == 0)), "empty fov zero-filled")
    // the higher slice owns each overlap stack: stacks 2 and 4 carry the
    // tags of slices 1 and 2
    assert(fused(("fov2", 2)).pixels(0) == 1000f + 2 * 31)
    assert(fused(("fov2", 4)).pixels(0) == 2000f + 4 * 31)
  }

  test("crop-only plan") {
    val (dir, plan) = writeUnits(2, 3, 25, 20, Some((10, 10, 0.2)), None)
    assert(new java.io.File(dir, "fov_fov2_crop_4_slice_0.npz").delete(), "unit existed")
    val fused = byKey(Reconstruct.reconstructFromNpzDir(spark, dir, plan))
    assertSame(fused, byKey(composed(dir, plan)))
    assert(fused.size == 2 * 3 && fused.values.forall(p => p.nRows == 25 && p.nCols == 20))
  }

  test("slice-only plan") {
    val (dir, plan) = writeUnits(2, 7, 12, 12, None, Some((3, 1)))
    assert(new java.io.File(dir, "fov_fov1_crop_0_slice_2.npz").delete(), "unit existed")
    val fused = byKey(Reconstruct.reconstructFromNpzDir(spark, dir, plan))
    assertSame(fused, byKey(composed(dir, plan)))
    assert(fused.size == 2 * 7)
    assert(fused(("fov1", 4)).labels.forall(_ == 0) && fused(("fov1", 5)).labels.forall(_ == 0),
      "the stacks slice 2 owns come back as zeros once its unit is gone")
  }

  test("stitchSlices equals a reduce keeping the highest slice per stack") {
    val (dir, plan) = writeUnits(1, 6, 12, 12, None, Some((3, 1)))
    val sliced = Npz.loadNpzsWithGrid(spark, dir,
      (0 until 3).map(s => ("fov1", 0, s, plan.slicePlan.get.ends(s) - plan.slicePlan.get.starts(s))),
      12, 12, channels).collect()
    val reduced = sliced.map(p => p.copy(stack = plan.slicePlan.get.starts(p.slice) + p.stack))
      .groupBy(p => (p.fov, p.stack)).map { case (k, ps) => k -> ps.maxBy(_.slice).copy(slice = 0) }
    assertSame(byKey(SliceOps.stitchSlices(ImagePlane.toDataset(spark, sliced.toSeq),
      plan.slicePlan.get)), reduced)
  }

  test("the fused read plans one shuffle exchange and no broadcast") {
    val (dir, plan) = writeUnits(2, 4, 20, 20, Some((10, 10, 0.0)), Some((2, 0)))
    val ds = Reconstruct.reconstructFromNpzDir(spark, dir, plan)
    assert(ds.collect().length == 2 * 4)
    val physical = ds.queryExecution.executedPlan
    val nodes = collect(physical) { case n => n }
    assert(nodes.count(_.isInstanceOf[ShuffleExchangeExec]) == 1, s"exchanges in:\n$physical")
    assert(!nodes.exists(_.isInstanceOf[BroadcastExchangeExec]), s"broadcast in:\n$physical")
  }
}
