package graft.ops

import graft.SparkSpec
import graft.core.ImagePlane

/** T1–T5 (Tracking.ipynb): frame normalization, the lineage/track
  * table, the cell-10 consistency audit, and the .trk container
  * round trip.
  */
class TrackingSpec extends SparkSpec {

  private def movie(fov: String): Seq[ImagePlane] = {
    val n = 16
    (0 until 4).map { t =>
      val labels = new Array[Int](n * n)
      for (r <- 1 until 6; c <- (1 + t) until (6 + t)) labels(r * n + c) = 4
      if (t <= 1) for (r <- 8 until 12; c <- 8 until 12) labels(r * n + c) = 6
      val pixels = Array.tabulate(n * n)(i => (i % 7).toFloat + t)
      ImagePlane(fov, t, 0, 0, n, n, Seq("c"), pixels, labels)
    }
  }

  test("tar codec round-trips entries byte-exactly") {
    val entries = Seq(
      "a.npy" -> Array.tabulate(513)(_.toByte),
      "lineages.json" -> "{}".getBytes,
      "empty" -> Array.empty[Byte])
    val back = Tar.read(Tar.write(entries))
    assert(back.keySet == entries.map(_._1).toSet)
    entries.foreach { case (k, v) => assert(back(k).sameElements(v), k) }
  }

  test("normalizeFrames: zero mean, unit variance; constant channel -> zeros") {
    import SparkSpec.session.implicits._
    val planes = movie("fov1") :+
      ImagePlane("flat", 0, 0, 0, 8, 8, Seq("c"), Array.fill(64)(3f), new Array[Int](64))
    val out = Tracking.normalizeFrames(ImagePlane.toDataset(spark, planes)).collect()
    out.filter(_.fov == "fov1").foreach { p =>
      val n = p.pixels.length
      val mean = p.pixels.map(_.toDouble).sum / n
      val v = p.pixels.map(x => (x - mean) * (x - mean)).sum / n
      assert(math.abs(mean) < 1e-5, s"mean $mean")
      assert(math.abs(v - 1.0) < 1e-4, s"var $v")
    }
    assert(out.find(_.fov == "flat").get.pixels.forall(_ == 0f))
  }

  private def emptyFrame(fov: String, t: Int): ImagePlane =
    ImagePlane(fov, t, 0, 0, 16, 16, Seq("c"), new Array[Float](256), new Array[Int](256))

  test("trackTable: frames, span, capped from linked planes") {
    // fov3's movie ends in a frame with no cells, which still extends
    // its horizon; "blank" has only empty frames
    val planes = movie("fov1") ++ movie("fov2") ++ movie("fov3") ++
      Seq(emptyFrame("fov3", 4)) ++ (0 until 3).map(emptyFrame("blank", _))
    val linked = Relabel.predictRelationships(ImagePlane.toDataset(spark, planes))
    val rows = Tracking.trackTable(linked)
      .collect().map(r => (r.getAs[String]("fov"), r.getAs[Int]("label")) ->
        (r.getAs[Seq[Int]]("frames"), r.getAs[Boolean]("capped"))).toMap
    Seq("fov1", "fov2").foreach { f =>
      // moving cell 4 -> id 1 across all frames; dying cell 6 -> id 2 capped
      assert(rows((f, 1)) == (Seq(0, 1, 2, 3), false))
      assert(rows((f, 2)) == (Seq(0, 1), true))
    }
    // every track ends before fov3's empty last frame
    assert(rows((("fov3", 1))) == (Seq(0, 1, 2, 3), true))
    assert(rows((("fov3", 2))) == (Seq(0, 1), true))
    assert(rows.size == 6, s"rows: ${rows.keys.toSeq.sorted}")
    assert(!rows.keys.exists(_._1 == "blank"))
  }

  test("trackTable divisions: parent capped at division, daughters linked") {
    import SparkSpec.session.implicits._
    val linked = Relabel.predictRelationships(
      ImagePlane.toDataset(spark, movie("fov1")))
    val div = Seq(("fov1", 2, 1, 2)).toDF("fov", "parent", "daughter", "frame_div")
    val rows = Tracking.trackTable(linked, Some(div))
      .collect().map(r => r.getAs[Int]("label") ->
        (r.getAs[Seq[Int]]("daughters"), Option(r.getAs[Integer]("parent")),
          r.getAs[Boolean]("capped"))).toMap
    assert(rows(2) == ((Seq(1), None, true)))
    assert(rows(1) == ((Seq(), Some(2: Integer), false)))
  }

  test("lineageConsistent: green on the real table, red when a track is dropped") {
    val linked = Relabel.predictRelationships(
      ImagePlane.toDataset(spark, movie("fov1")))
    val tracks = Tracking.trackTable(linked)
    val ok = Tracking.lineageConsistent(linked, tracks).collect()
    assert(ok.forall(_.getAs[Boolean]("consistent")))
    val broken = Tracking.lineageConsistent(linked, tracks.filter("label <> 2")).collect()
    assert(broken.exists(!_.getAs[Boolean]("consistent")))
  }

  test(".trk round trip survives multi-channel pixels") {
    val n = 8
    val planes = (0 until 3).map { t =>
      val labels = new Array[Int](n * n)
      labels(t) = 1
      val pixels = Array.tabulate(2 * n * n)(i => i.toFloat + t * 1000f)
      ImagePlane("mc", t, 0, 0, n, n, Seq("dapi", "membrane"), pixels, labels)
    }
    val bytes = Tracking.encodeTrk(planes)
    val back = Tracking.decodeTrkPlanes("mc", bytes)
    assert(back.length == 3)
    back.zip(planes).foreach { case (b, o) =>
      assert(b.channels.length == 2)
      assert(b.pixels.sameElements(o.pixels), s"stack ${o.stack} pixels")
      assert(b.labels.sameElements(o.labels), s"stack ${o.stack} labels")
    }
  }

  test(".trk round trip: planes and lineage survive write/read") {
    val dir = graft.TempDirs.create("trk").toFile.getAbsolutePath
    val linked = Relabel.predictRelationships(
      ImagePlane.toDataset(spark, movie("fov1") ++ movie("fov2")))
    Tracking.writeTrks(linked, dir)
    assert(new java.io.File(dir).listFiles().count(_.getName.endsWith(".trk")) == 2)
    val (planes, tracks) = Tracking.readTrks(spark, dir)
    val orig = linked.collect().map(p => (p.fov, p.stack) -> p).toMap
    val back = planes.collect()
    assert(back.length == orig.size)
    back.foreach { p =>
      val o = orig((p.fov, p.stack))
      assert(p.labels.sameElements(o.labels), s"${p.fov}/${p.stack} labels")
      assert(p.pixels.sameElements(o.pixels), s"${p.fov}/${p.stack} pixels")
      assert(p.nRows == o.nRows && p.nCols == o.nCols)
    }
    val lineage = tracks.collect().map(r =>
      (r.getAs[String]("fov"), r.getAs[Int]("label")) ->
        (r.getAs[Seq[Int]]("frames"), r.getAs[Boolean]("capped"))).toMap
    val expected = Tracking.trackTable(linked).collect().map(r =>
      (r.getAs[String]("fov"), r.getAs[Int]("label")) ->
        (r.getAs[Seq[Int]]("frames"), r.getAs[Boolean]("capped"))).toMap
    assert(lineage == expected)
  }
}
