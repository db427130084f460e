package graft.sources

import graft.SparkSpec
import graft.core.ImagePlane
import graft.ops.Pipeline
import org.apache.hadoop.fs.Path

/** The NPZ sinks must write through the Hadoop FileSystem of the save
  * dir's scheme (not executor-local `java.io.File`) so the same code
  * lands output on a shared store (`s3a://`, `hdfs://`) on a real
  * cluster. These specs drive every sink through an explicit `file://`
  * URI — the same resolution path a cluster scheme takes.
  */
class ClusterSinkSpec extends SparkSpec {

  private def fileUri(suffix: String): String =
    "file://" + graft.TempDirs.create(suffix).toFile.getAbsolutePath

  private def fs(uri: String) =
    new Path(uri).getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("saveNpzsForCaliban writes via Hadoop FS with separate-blank routing") {
    val dir = fileUri("npz_uri")
    val planes = Seq(
      ImagePlane.gridLabels(ImagePlane.blankPlanes(1, 1, 10, 10).head, 5),
      ImagePlane.blankPlanes(1, 1, 10, 10).head.copy(fov = "fovb"))
    Npz.saveNpzsForCaliban(ImagePlane.toDataset(spark, planes), dir, "separate")
    val f = fs(dir)
    assert(f.exists(new Path(dir, "fov_fov1_crop_0_slice_0.npz")), "labeled unit in root")
    assert(f.exists(new Path(dir + "/separate", "fov_fovb_crop_0_slice_0.npz")),
      "blank unit routed to separate/")
    val back = Npz.readTrainingNpzDir(spark, dir).collect()
    assert(back.length == 1 && back.head.labels.toSeq == planes.head.labels.toSeq)
  }

  test("saveStitchedNpzs writes one {fov}.npz per fov via Hadoop FS") {
    val dir = fileUri("stitched_uri")
    val planes = ImagePlane.blankPlanes(3, 2, 8, 8).map(ImagePlane.gridLabels(_, 4))
    Pipeline.saveStitchedNpzs(ImagePlane.toDataset(spark, planes), dir)
    val f = fs(dir)
    Seq("fov1", "fov2", "fov3").foreach(fov =>
      assert(f.exists(new Path(dir, s"$fov.npz")), s"$fov.npz present"))
  }

  test("createCombinedNpz streams to a file:// URI preserving order and content") {
    val out = fileUri("combined_uri") + "/all.npz"
    val planes = ImagePlane.blankPlanes(3, 2, 8, 8, Seq("c0", "c1")).map { p =>
      // distinct pixels per plane+channel so a misordered or misplaced
      // batch row would be detected
      val px = Array.tabulate(2 * 64)(i =>
        (p.fov.last.asDigit * 1000 + p.stack * 100 + i).toFloat)
      ImagePlane.gridLabels(p.copy(pixels = px), 4)
    }
    // feed shuffled; sink must order by (fov, crop, slice, stack)
    Npz.createCombinedNpz(ImagePlane.toDataset(spark, scala.util.Random.shuffle(planes)), out)
    val f = fs(out)
    val in = f.open(new Path(out))
    val bos = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](65536)
    var n = in.read(buf)
    while (n > 0) { bos.write(buf, 0, n); n = in.read(buf) }
    in.close()
    val decoded = Npz.decodeTrainingNpz("all.npz", bos.toByteArray, Seq("c0", "c1"))
    assert(decoded.length == 6, "batch dim = all planes")
    val expected = planes.sortBy(p => (p.fov, p.crop, p.slice, p.stack))
    decoded.zip(expected).foreach { case (d, e) =>
      assert(d.pixels.toSeq == e.pixels.toSeq, s"pixels of ${e.fov}/${e.stack} in order")
      assert(d.labels.toSeq == e.labels.toSeq)
    }
  }

  test("createCombinedNpz rejects non-uniform plane shapes") {
    val out = fileUri("combined_bad") + "/bad.npz"
    val planes = Seq(
      ImagePlane.blankPlanes(1, 1, 8, 8).head,
      ImagePlane.blankPlanes(1, 1, 16, 16).head.copy(fov = "fov2"))
    intercept[IllegalArgumentException] {
      Npz.createCombinedNpz(ImagePlane.toDataset(spark, planes), out)
    }
  }
}
