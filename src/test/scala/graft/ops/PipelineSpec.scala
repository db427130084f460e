package graft.ops

import graft.SparkSpec
import graft.core.ImagePlane
import graft.sources.{Npz, ObjectStore}

import java.nio.file.Files

class PipelineSpec extends SparkSpec {

  test("findSparseImages keeps only cell-rich planes (P2)") {
    val rich = ImagePlane.gridLabels(ImagePlane.blankPlanes(1, 1, 30, 30).head, 10)
    val poor = ImagePlane.blankPlanes(1, 1, 30, 30).head.copy(fov = "poor")
    val out = Pipeline.findSparseImages(
      ImagePlane.toDataset(spark, Seq(rich, poor)), cutoff = 2).collect()
    assert(out.map(_.fov).toSeq == Seq("fov1"))
  }

  test("saveStitchedNpzs writes one {fov}.npz per fov (S13)") {
    val dir = graft.TempDirs.create("stitched").toFile.getAbsolutePath
    val planes = ImagePlane.blankPlanes(2, 3, 10, 10).map(ImagePlane.cornerTag)
    Pipeline.saveStitchedNpzs(ImagePlane.toDataset(spark, planes), dir)
    // filter *.npz: the local ChecksumFileSystem adds .crc sidecars that
    // real stores (s3a/hdfs) never surface in listings
    val files = new java.io.File(dir).listFiles().map(_.getName)
      .filter(_.endsWith(".npz")).sorted
    assert(files.toSeq == Seq("fov1.npz", "fov2.npz"))
    val back = Npz.decodeTrainingNpz("fov1.npz",
      Files.readAllBytes(java.nio.file.Paths.get(s"$dir/fov1.npz")))
    assert(back.length == 3, "stack preserved")
  }

  test("EP1 flow: adjust -> crop -> slice -> NPZ units + upload log, then EP2 reconstructs") {
    val dir = graft.TempDirs.create("ep1").toFile.getAbsolutePath
    val orig = ImagePlane.blankPlanes(2, 4, 30, 30).map(ImagePlane.gridLabels(_, 6))
    val (plan, log) = Pipeline.preAnnotationFlow(spark,
      ImagePlane.toDataset(spark, orig),
      origRows = 30, origCols = 30, stackLen = 4,
      cropSize = (16, 16, 0.5), sliceLen = Some((2, 0)),
      fovs = Seq("fov1", "fov2"), channels = Seq("channel1"),
      saveDir = dir)
    val logRows = log.collect()
    assert(logRows.length == 2 * plan.cropPlan.get.numCrops * plan.slicePlan.get.numSlices)
    assert(logRows.forall(_.getAs[String]("project_url")
      .startsWith("https://caliban.deepcell.org/")))
    // EP2: reconstruct and check the masks survived
    val back = Reconstruct.reconstructFromNpzDir(spark, dir, plan)
      .collect().map(p => (p.fov, p.stack) -> p).toMap
    assert(back.size == orig.size)
    orig.foreach { o =>
      assert(back((o.fov, o.stack)).labels.map(_ != 0).toSeq ==
        o.labels.map(_ != 0).toSeq)
    }
  }

  test("ObjectStore upload/copy/download with missing tracking (S17)") {
    val local = graft.TempDirs.create("os_local").toFile
    val store = "file://" + graft.TempDirs.create("os_store").toFile.getAbsolutePath
    val store2 = "file://" + graft.TempDirs.create("os_store2").toFile.getAbsolutePath
    val f = new java.io.File(local, "a.npz")
    Files.writeString(f.toPath, "payload")
    ObjectStore.upload(spark, Seq(f.getAbsolutePath), store)
    ObjectStore.copy(spark, store, Seq("a.npz"), store2)
    val dl = graft.TempDirs.create("os_dl").toFile.getAbsolutePath
    val missing = ObjectStore.downloadTracking(spark, store2, Seq("a.npz", "ghost.npz"), dl)
    assert(missing == Seq("ghost.npz"))
    assert(new java.io.File(dl, "a.npz").exists())
  }

  test("uploadWithAttrs sets per-object ACL + source_path metadata (S17, aws_functions.py:76-102)") {
    // recording fake client — the reference's FakeS3 test pattern
    val puts = scala.collection.mutable.ArrayBuffer.empty[(String, String, ObjectStore.ObjectAttrs)]
    val copies = scala.collection.mutable.ArrayBuffer.empty[(String, String, ObjectStore.ObjectAttrs)]
    val fake = new ObjectStore.AttributedStore {
      def put(localFile: String, destUri: String, attrs: ObjectStore.ObjectAttrs): Unit =
        puts += ((localFile, destUri, attrs))
      def copy(srcUri: String, destUri: String, attrs: ObjectStore.ObjectAttrs): Unit =
        copies += ((srcUri, destUri, attrs))
    }
    val local = graft.TempDirs.create("os_acl").toFile
    val a = new java.io.File(local, "a.npz"); Files.writeString(a.toPath, "x")
    val b = new java.io.File(local, "b.npz"); Files.writeString(b.toPath, "y")
    ObjectStore.uploadWithAttrs(spark, Seq(a.getAbsolutePath, b.getAbsolutePath),
      "s3a://caliban-input/jobs/1", store = fake)
    assert(puts.map(_._2).toSeq ==
      Seq("s3a://caliban-input/jobs/1/a.npz", "s3a://caliban-input/jobs/1/b.npz"))
    // every object: public-read + its own source path (aws_functions.py:80-81)
    assert(puts.forall(_._3.acl == "public-read"))
    assert(puts.map(p => p._3.metadata("source_path")).toSeq ==
      Seq(a.getAbsolutePath, b.getAbsolutePath))
    ObjectStore.copyWithAttrs(spark, "s3a://caliban-output/done", Seq("a.npz"),
      "s3a://caliban-input/next", store = fake)
    assert(copies.toSeq == Seq(("s3a://caliban-output/done/a.npz",
      "s3a://caliban-input/next/a.npz", ObjectStore.ObjectAttrs("public-read", Map.empty))))
    // default Hadoop binding still moves real bytes (conf-level ACL documented)
    val store = "file://" + graft.TempDirs.create("os_acl_store").toFile.getAbsolutePath
    ObjectStore.uploadWithAttrs(spark, Seq(a.getAbsolutePath), store)
    assert(new java.io.File(new java.net.URI(store + "/a.npz")).exists())
  }

  test("resolveSavedFile picks the latest save version, rejects conflicts (S11)") {
    val names = Seq(
      "fov_f1_crop_0_slice_0.npz",
      "fov_f1_crop_0_slice_0_save_version_2.npz",
      "fov_f1_crop_1_slice_0.npz")
    assert(ObjectStore.resolveSavedFile(names, "f1", 0, 0)
      .contains("fov_f1_crop_0_slice_0_save_version_2.npz"))
    assert(ObjectStore.resolveSavedFile(names, "f1", 1, 0)
      .contains("fov_f1_crop_1_slice_0.npz"))
    assert(ObjectStore.resolveSavedFile(names, "f9", 0, 0).isEmpty)
  }
}
