package graft.sources

import graft.{Fixtures, SparkSpec}
import graft.core.ImagePlane

import java.nio.file.Files

class SourcesSpec extends SparkSpec {

  test("NPY round trip: floats and ints") {
    val f = Array(1.5f, -2f, 3e7f, 0f)
    val back = Npy.read(Npy.writeFloats(f, Seq(2, 2)))
    assert(back.shape == Seq(2, 2) && back.toFloats.toSeq == f.toSeq)
    val i = Array(1, -5, 65000, 0)
    val backI = Npy.read(Npy.writeInts(i, Seq(4)))
    assert(backI.shape == Seq(4) && backI.toInts.toSeq == i.toSeq)
  }

  test("NPZ round trip through encode/decode preserves planes") {
    val p = ImagePlane.gridLabels(
      ImagePlane.blankPlanes(1, 1, 12, 12, Seq("c0", "c1")).head, 4)
      .copy(pixels = Array.tabulate(288)(_.toFloat))
    val bytes = Npz.encodePlane(p)
    val decoded = Npz.decodeTrainingNpz("fov1.npz", bytes, Seq("c0", "c1"))
    assert(decoded.length == 1)
    val d = decoded.head
    assert(d.nRows == 12 && d.nCols == 12)
    assert(d.pixels.toSeq == p.pixels.toSeq, "channel-major repack round trips")
    assert(d.labels.toSeq == p.labels.toSeq)
  }

  test("saveNpzsForCaliban + readTrainingNpzDir round trip with blank routing") {
    val dir = Files.createTempDirectory("npz_sink").toFile.getAbsolutePath
    val planes = Seq(
      ImagePlane.gridLabels(ImagePlane.blankPlanes(1, 1, 10, 10).head, 5),
      ImagePlane.blankPlanes(1, 1, 10, 10).head.copy(fov = "fov_blank"))
    Npz.saveNpzsForCaliban(ImagePlane.toDataset(spark, planes), dir, "skip")
    // filter *.npz: the local ChecksumFileSystem adds .crc sidecars that
    // real stores (s3a/hdfs) never surface in listings
    val files = new java.io.File(dir).listFiles().map(_.getName)
      .filter(_.endsWith(".npz")).toSeq.sorted
    assert(files == Seq("fov_fov1_crop_0_slice_0.npz"), s"blank skipped: $files")
    val back = Npz.readTrainingNpzDir(spark, dir).collect()
    assert(back.length == 1)
    assert(back.head.labels.toSeq == planes.head.labels.toSeq)
  }

  test("loadNpzsWithGrid zero-fills missing units (io_utils.py:202-218)") {
    val dir = Files.createTempDirectory("npz_grid").toFile.getAbsolutePath
    val p = ImagePlane.gridLabels(ImagePlane.blankPlanes(1, 1, 10, 10).head, 5)
    Npz.saveNpzsForCaliban(ImagePlane.toDataset(spark, Seq(p)), dir, "include")
    val expected = Seq(("fov1", 0, 0, 1), ("fov1", 1, 0, 1), ("fov2", 0, 0, 1))
    val back = Npz.loadNpzsWithGrid(spark, dir, expected, 10, 10, Seq("channel1"))
      .collect().map(x => (x.fov, x.crop, x.slice) -> x).toMap
    assert(back.size == 3)
    assert(back(("fov1", 0, 0)).labels.exists(_ != 0), "present unit loaded")
    assert(back(("fov1", 1, 0)).labels.forall(_ == 0), "missing unit zero-filled")
    assert(back(("fov2", 0, 0)).labels.forall(_ == 0))
    // stackLen=0 contributes ZERO rows — sequence(0, -1) must not step
    // backward into phantom stack indices [0, -1]
    val withEmpty = Seq(("fov1", 0, 0, 1), ("fov3", 0, 0, 0))
    val rows2 = Npz.loadNpzsWithGrid(spark, dir, withEmpty, 10, 10, Seq("channel1"))
      .collect()
    assert(rows2.length == 1 && rows2.head.fov == "fov1",
      s"empty stack yields no rows: ${rows2.map(p => (p.fov, p.stack)).toSeq}")
  }

  test("TIFF decode: reference fixture reads with correct dims") {
    val path = s"${Fixtures.ontology}/static/2d/mibi/DCIS/" +
      "Nuclear_DNA/20200116_DCIS/20200116_DCIS_Point2304_crop_0.tif"
    val bytes = Files.readAllBytes(java.nio.file.Paths.get(path))
    val frames = Tiff.decodeFrames(bytes)
    assert(frames.nonEmpty)
    val (_, rows, cols, pixels) = frames.head
    assert(rows == 512 && cols == 512, s"got ${rows}x$cols")
    assert(pixels.exists(_ != 0f), "non-blank image")
  }

  test("readChannelStackedDir aligns per-channel files into stacked planes (S9)") {
    val dir = Files.createTempDirectory("chan_stack").toFile
    def writeTiff(name: String, value: Int): Unit = {
      val img = new java.awt.image.BufferedImage(
        4, 4, java.awt.image.BufferedImage.TYPE_USHORT_GRAY)
      for (r <- 0 until 4; c <- 0 until 4) img.getRaster.setSample(c, r, 0, value)
      assert(javax.imageio.ImageIO.write(img, "TIFF", new java.io.File(dir, name)))
    }
    // natural-sort order matters: pos10 must follow pos2 in each channel
    writeTiff("pos2_DAPI.tif", 10); writeTiff("pos10_DAPI.tif", 20)
    writeTiff("pos2_FITC.tif", 11); writeTiff("pos10_FITC.tif", 21)
    val planes = Tiff.readChannelStackedDir(spark, dir.getAbsolutePath,
      Seq("DAPI", "FITC")).collect().sortBy(_.stack)
    assert(planes.length == 2)
    assert(planes.map(_.channels.toSeq).distinct.toSeq == Seq(Seq("DAPI", "FITC")))
    val p0 = planes(0) // pos2 pair
    assert(p0.fov == "pos2_DAPI" && p0.pixel(0, 0, 0) == 10f && p0.pixel(1, 0, 0) == 11f)
    val p1 = planes(1) // pos10 pair
    assert(p1.fov == "pos10_DAPI" && p1.pixel(0, 0, 0) == 20f && p1.pixel(1, 0, 0) == 21f)
    // unequal channel lists rejected
    writeTiff("pos11_DAPI.tif", 30)
    intercept[IllegalArgumentException] {
      Tiff.readChannelStackedDir(spark, dir.getAbsolutePath, Seq("DAPI", "FITC"))
    }
  }

  test("loadMetadata enriches like the reference (S4, data_loader.py:375-394)") {
    val base = Fixtures.ontology
    val df = Tiff.loadMetadata(spark, base)
    val rows = df.collect()
    assert(rows.nonEmpty, "metadata fixtures found")
    val a549 = rows.find(_.getAs[String]("metadata_path")
      .contains("Phase/A549/20190514_EP01")).get
    // TYPE/ONTOLOGY arrays space-joined (str.cat(sep=' '))
    assert(a549.getAs[String]("TYPE") == "cell A549")
    assert(a549.getAs[String]("ONTOLOGY") == "static 2d Phase")
    // single-element array wrappers unwrapped to scalars/structs
    assert(a549.getAs[String]("EXP_ID") == "20190514_EP01")
    val dims = a549.getAs[org.apache.spark.sql.Row]("DIMENSIONS")
    assert(dims.getAs[String]("X") == "1608" && dims.getAs[String]("Y") == "1608")
    // image path attach: the experiment dir holding the metadata file
    assert(a549.getAs[String]("image_path").endsWith("A549/20190514_EP01"))
    assert(!a549.getAs[String]("image_path").endsWith("metadata"))
    // dropna: every surviving row has all keys present (fixture is key-homogeneous)
    assert(rows.forall(r => !r.anyNull), "rows with missing keys dropped")
  }

  test("loadMetadata dropna is per-file: union nulls survive, own-key nulls drop (data_loader.py:386)") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("meta").toFile
    def write(sub: String, json: String): Unit = {
      val d = new java.io.File(dir, sub); d.mkdirs()
      val w = new java.io.PrintWriter(new java.io.File(d, "metadata"))
      try w.write(json) finally w.close()
    }
    // expA carries an EXTRA key the others lack; expB must survive the
    // schema union with EXTRA null (pandas concat fills NaN, no drop)
    write("expA", """{"EXP_ID": ["A"], "TYPE": ["cell"], "ONTOLOGY": ["2d"], "EXTRA": ["x"]}""")
    write("expB", """{"EXP_ID": ["B"], "TYPE": ["cell"], "ONTOLOGY": ["2d"]}""")
    // expC's own JSON holds a null value -> per-file dropna kills the row
    write("expC", """{"EXP_ID": ["C"], "TYPE": ["cell"], "ONTOLOGY": ["2d"], "EXTRA": null}""")
    val df = Tiff.loadMetadata(spark, dir.getAbsolutePath)
    val ids = df.select("EXP_ID").collect().map(_.getString(0)).toSet
    assert(ids == Set("A", "B"), "B kept despite missing EXTRA; C dropped for its own null")
    val b = df.filter(col("EXP_ID") === "B").head()
    assert(b.isNullAt(b.fieldIndex("EXTRA")), "union-introduced key stays null")
    assert(df.filter(col("EXP_ID") === "A").head().getAs[String]("EXTRA") == "x")
  }

  test("scanOntology parses levels and prunes by predicate") {
    val df = Tiff.scanOntology(spark, Fixtures.ontology,
      imagingTypes = Seq("mibi"))
    val rows = df.collect()
    assert(rows.nonEmpty)
    val first = df.select("data_kind", "dims", "imaging", "specimen", "compartment")
      .distinct().collect().map(_.toSeq)
    assert(first.forall(_(2) == "mibi"))
    assert(first.exists(r => r(0) == "static" && r(1) == "2d" && r(3) == "DCIS"))
    // vocab normalization
    assert(Tiff.normalizeVocab("Fluorescent") == "fluo")
    assert(Tiff.normalizeVocab("nuc") == "Nuclear")
  }
}
