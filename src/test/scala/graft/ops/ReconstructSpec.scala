package graft.ops

import graft.SparkSpec
import graft.core.ImagePlane
import graft.sources.Npz

/** EP2 end-to-end: crop + slice -> NPZ work units on disk -> read back
  * with grid completion -> stitch slices -> stitch crops. The full
  * reference annotation round trip (reshape_data.py:194-234 +
  * io_utils.py), through real files.
  */
class ReconstructSpec extends SparkSpec {

  test("full crop+slice+NPZ round trip preserves masks and cell counts") {
    val dir = graft.TempDirs.create("reconstruct").toFile.getAbsolutePath
    val stackLen = 5
    val orig = ImagePlane.blankPlanes(2, stackLen, 40, 40)
      .map(ImagePlane.gridLabels(_, cellSize = 8))
    val ds = ImagePlane.toDataset(spark, orig)
    val (units, plan) = Reconstruct.cropAndSlice(ds,
      origRows = 40, origCols = 40, stackLen = stackLen,
      cropSize = Some((20, 20, 0.5)), sliceLen = Some((2, 0)),
      fovs = Seq("fov1", "fov2"), channels = Seq("channel1"))
    Npz.saveNpzsForCaliban(units, dir, "include")
    val nFiles = new java.io.File(dir).listFiles().count(_.getName.endsWith(".npz"))
    assert(nFiles == 2 * plan.cropPlan.get.numCrops * plan.slicePlan.get.numSlices)

    val back = Reconstruct.reconstructFromNpzDir(spark, dir, plan)
      .collect().map(p => (p.fov, p.stack) -> p).toMap
    assert(back.size == orig.size)
    orig.foreach { o =>
      val b = back((o.fov, o.stack))
      assert(b.nRows == 40 && b.nCols == 40)
      assert(b.labels.map(_ != 0).toSeq == o.labels.map(_ != 0).toSeq,
        s"mask preserved for ${o.fov}/${o.stack}")
      assert(b.labels.filter(_ != 0).distinct.length ==
        o.labels.filter(_ != 0).distinct.length, "cell count preserved")
    }
  }

  test("log_data.json sidecar: EP2 reconstructs in a fresh session from disk alone") {
    val dir = graft.TempDirs.create("reconstruct_sidecar").toFile.getAbsolutePath
    val stackLen = 4
    val orig = ImagePlane.blankPlanes(2, stackLen, 32, 32)
      .map(ImagePlane.gridLabels(_, cellSize = 8))
    val (units, plan) = Reconstruct.cropAndSlice(
      ImagePlane.toDataset(spark, orig),
      origRows = 32, origCols = 32, stackLen = stackLen,
      cropSize = Some((16, 16, 0.25)), sliceLen = Some((2, 0)),
      fovs = Seq("fov1", "fov2"), channels = Seq("channel1"))
    Npz.saveNpzsForCaliban(units, dir, "include")
    Reconstruct.savePlan(spark, dir, plan)
    assert(new java.io.File(dir, "log_data.json").exists(), "sidecar persisted")

    // the plan round-trips through JSON exactly
    val loaded = Reconstruct.loadPlan(spark, dir)
    assert(loaded.fovs == plan.fovs && loaded.channels == plan.channels)
    assert(loaded.nRows == plan.nRows && loaded.nCols == plan.nCols)
    assert(loaded.cropPlan.get.rowStarts.toSeq == plan.cropPlan.get.rowStarts.toSeq)
    assert(loaded.cropPlan.get.colEnds.toSeq == plan.cropPlan.get.colEnds.toSeq)
    assert(loaded.slicePlan.get.starts.toSeq == plan.slicePlan.get.starts.toSeq)
    assert(loaded.slicePlan.get.stackLen == plan.slicePlan.get.stackLen)

    // reconstruct in a FRESH session with no in-memory plan object —
    // the reference's actual workflow (annotators return days later)
    val fresh = spark.newSession()
    val back = Reconstruct.reconstructFromNpzDir(fresh, dir)
      .collect().map(p => (p.fov, p.stack) -> p).toMap
    assert(back.size == orig.size)
    orig.foreach { o =>
      val b = back((o.fov, o.stack))
      assert(b.nRows == 32 && b.nCols == 32)
      assert(b.labels.map(_ != 0).toSeq == o.labels.map(_ != 0).toSeq,
        s"mask preserved for ${o.fov}/${o.stack}")
    }
  }

  test("preAnnotationFlow persists the sidecar next to the work units") {
    val dir = graft.TempDirs.create("flow_sidecar").toFile.getAbsolutePath
    val orig = ImagePlane.blankPlanes(1, 2, 20, 20).map(ImagePlane.gridLabels(_, 5))
    Pipeline.preAnnotationFlow(spark, ImagePlane.toDataset(spark, orig),
      origRows = 20, origCols = 20, stackLen = 2,
      cropSize = (10, 10, 0.0), sliceLen = None,
      fovs = Seq("fov1"), channels = Seq("channel1"), saveDir = dir)
    val back = Reconstruct.reconstructFromNpzDir(spark.newSession(), dir).collect()
    assert(back.length == 2, "both stacks reconstructed from disk alone")
  }

  test("missing NPZ units come back as zeros, rest reconstructs") {
    val dir = graft.TempDirs.create("reconstruct_missing").toFile.getAbsolutePath
    val orig = ImagePlane.blankPlanes(1, 1, 30, 30).map(ImagePlane.gridLabels(_, 10))
    val ds = ImagePlane.toDataset(spark, orig)
    val (units, plan) = Reconstruct.cropAndSlice(ds,
      origRows = 30, origCols = 30, stackLen = 1,
      cropSize = Some((15, 15, 0.0)), sliceLen = None,
      fovs = Seq("fov1"), channels = Seq("channel1"))
    Npz.saveNpzsForCaliban(units, dir, "include")
    // simulate a lost annotation: delete crop 3
    val lost = new java.io.File(dir, "fov_fov1_crop_3_slice_0.npz")
    assert(lost.delete(), "fixture file existed")
    val back = Reconstruct.reconstructFromNpzDir(spark, dir, plan).collect()
    assert(back.length == 1)
    val b = back.head
    // bottom-right quadrant zeroed, everything else intact
    val o = orig.head
    for (r <- 0 until 30; c <- 0 until 30) {
      if (r >= 15 && c >= 15) assert(b.label(r, c) == 0, s"lost unit zeroed at $r,$c")
      else assert((b.label(r, c) != 0) == (o.label(r, c) != 0), s"intact at $r,$c")
    }
  }
}
