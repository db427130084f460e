package graft.ops

import graft.core.ImagePlane
import graft.sources.{Npy, SerializableHadoopConf}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Cell-lineage tracking surface — the data-engineering half of the
  * reference's tracking workflow (T1–T5 in SURVEY.md §2 addendum;
  * reference: caliban_toolbox/tracking/Tracking.ipynb). The model
  * inference itself (siamese network scoring cell pairs, cells 5/22)
  * is an external ML dependency and stays out of scope, same as F3;
  * everything the notebook does AROUND the model is data engineering
  * this engine owns:
  *
  *   - per-frame zero-mean/unit-variance normalization
  *     (Tracking.ipynb cell 43 `image_norm`) — [[normalizeFrames]];
  *   - the lineage/track table `trial.tracks` / `trial.dataframe()`
  *     (cells 25/32/38: label, frames, parent, daughters, capped)
  *     — [[trackTable]], derived from IOU-linked planes
  *     ([[Relabel.predictRelationships]]) plus an optional explicit
  *     divisions input standing in for the model's division calls;
  *   - the lineage-consistency audit (cell 10: daughters-dict keys ==
  *     distinct mask labels per movie) — [[lineageConsistent]];
  *   - the `.trk` container sink/source (`trial.dump`, cells 39/45;
  *     `get_data(...trks)`, cell 9): a tar of `raw.npy` float
  *     [T,R,C,ch], `tracked.npy` int [T,R,C,1] and `lineages.json`
  *     — [[writeTrks]] / [[readTrks]], one file per fov written from
  *     executors (the notebook's per-batch dump loop, distributed).
  *
  * Scale shape: [[trackTable]] is a relational aggregation over
  * (fov, frame, label) tuples — one shuffle keyed by (fov, label),
  * never a per-fov tensor materialization, so a 10k-movie corpus
  * spreads across the cluster. The trk sink necessarily materializes
  * one fov's stack per task (a .trk file IS that stack — same unit
  * the reference holds in memory), which bounds task memory at one
  * movie, the same contract as the NPZ sink.
  */
object Tracking {

  /** Per-channel zero-mean/unit-variance normalize of each plane
    * (Tracking.ipynb cell 43). Degenerate (constant) channels map to
    * all-zero rather than NaN.
    */
  def normalizeFrames(ds: Dataset[ImagePlane]): Dataset[ImagePlane] = {
    implicit val enc = ds.encoder
    ds.map { p =>
      val n = p.nRows * p.nCols
      val out = new Array[Float](p.pixels.length)
      var c = 0
      while (c < p.channels.length) {
        val off = c * n
        var s = 0.0
        var i = 0
        while (i < n) { s += p.pixels(off + i); i += 1 }
        val mean = s / n
        var v = 0.0
        i = 0
        while (i < n) { val d = p.pixels(off + i) - mean; v += d * d; i += 1 }
        val std = math.sqrt(v / n)
        i = 0
        while (i < n) {
          out(off + i) = if (std == 0) 0f else ((p.pixels(off + i) - mean) / std).toFloat
          i += 1
        }
        c += 1
      }
      p.copy(pixels = out)
    }
  }

  /** Lineage rows from frame-linked planes: one row per (fov, label)
    * with the frames the track spans and whether it terminates before
    * the movie ends (`capped`, Tracking.ipynb cell 32). `divisions`
    * — optional (fov, parent, daughter, frame_div) rows, the explicit
    * stand-in for the model's division calls — fills `parent` /
    * `daughters`; a dividing track is capped at its division frame.
    *
    * `stack` is the frame axis, matching [[Relabel.predictRelationships]].
    */
  def trackTable(linked: Dataset[ImagePlane],
                 divisions: Option[DataFrame] = None): DataFrame = {
    val s = linked.sparkSession
    import s.implicits._
    // only fov, stack and labels are read: pixels are never deserialized
    val cells = linked.select("fov", "stack", "labels").as[(String, Int, Array[Int])]
      .flatMap { case (fov, stack, labels) =>
        labels.iterator.filter(_ != 0).toSet.toSeq.map((l: Int) => (fov, stack, l))
      }.toDF("fov", "frame", "label")
    // movie horizon from the PLANES (a trailing empty frame still
    // extends the movie), tiny per-fov aggregate — AQE broadcasts it
    val horizons = linked.select(col("fov"), col("stack").as("frame"))
      .groupBy("fov").agg(max("frame").as("last_frame"))
    val base = cells.groupBy("fov", "label")
      .agg(sort_array(collect_set("frame")).as("frames"),
        min("frame").as("frame_start"),
        max("frame").as("frame_end"))
      .join(horizons, "fov")
      .withColumn("capped", col("frame_end") < col("last_frame"))
      .drop("last_frame")
    divisions match {
      case Some(d) =>
        val dd = d.select(col("fov"), col("parent").cast("int"),
          col("daughter").cast("int"), col("frame_div").cast("int"))
        val byParent = dd.groupBy(col("fov"), col("parent").as("label"))
          .agg(sort_array(collect_set("daughter")).as("daughters"),
            min("frame_div").as("frame_div"))
        val byChild = dd.select(col("fov"), col("daughter").as("label"),
          col("parent"))
        base.join(byParent, Seq("fov", "label"), "left")
          .join(byChild, Seq("fov", "label"), "left")
          .withColumn("daughters",
            coalesce(col("daughters"), array().cast("array<int>")))
          .withColumn("capped", col("capped") || size(col("daughters")) > 0)
      case None =>
        base.withColumn("daughters", array().cast("array<int>"))
          .withColumn("parent", lit(null).cast("int"))
          .withColumn("frame_div", lit(null).cast("int"))
    }
  }

  /** Tracking.ipynb cell 10: per fov, the lineage's label set must
    * equal the distinct nonzero mask labels. Returns one row per fov
    * with both sets and the verdict.
    */
  def lineageConsistent(linked: Dataset[ImagePlane], tracks: DataFrame): DataFrame = {
    val s = linked.sparkSession
    import s.implicits._
    // only fov and labels are read: pixels are never deserialized
    val maskLabels = linked.select("fov", "labels").as[(String, Array[Int])]
      .flatMap { case (fov, labels) =>
        labels.iterator.filter(_ != 0).toSet.toSeq.map((l: Int) => (fov, l))
      }.toDF("fov", "label")
      .groupBy("fov").agg(sort_array(collect_set("label")).as("mask_labels"))
    val trackLabels = tracks.groupBy("fov")
      .agg(sort_array(collect_set("label")).as("track_labels"))
    maskLabels.join(trackLabels, Seq("fov"), "full")
      .withColumn("consistent",
        coalesce(col("mask_labels"), array().cast("array<int>")) ===
          coalesce(col("track_labels"), array().cast("array<int>")))
  }

  // ---- .trk container ------------------------------------------------

  /** One fov's lineage entry for lineages.json. */
  private[ops] case class TrackRow(label: Int, frames: Seq[Int],
                                   daughters: Seq[Int], parentLabel: Option[Int],
                                   frameDiv: Option[Int], capped: Boolean)

  /** Local (per-fov) lineage derivation — the same semantics as
    * [[trackTable]] without divisions, used by the sink where the
    * fov's planes are already materialized in the task.
    */
  private[ops] def lineageLocal(planes: Seq[ImagePlane]): Seq[TrackRow] = {
    val lastFrame = planes.map(_.stack).max
    planes.flatMap(p => p.labels.filter(_ != 0).distinct.map(l => (l, p.stack)))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (label, fs) =>
        val frames = fs.map(_._2).distinct.sorted
        TrackRow(label, frames, Seq.empty, None, None, frames.max < lastFrame)
      }
  }

  /** Write one `.trk` per fov under `dir` (Tracking.ipynb cell 45's
    * per-batch dump loop, distributed): tar of `raw.npy` float32
    * [T,R,C,ch] channel-last, `tracked.npy` int32 [T,R,C,1],
    * `lineages.json` keyed by track label. Executors write through
    * the Hadoop filesystem, same as the NPZ sink.
    */
  def writeTrks(linked: Dataset[ImagePlane], dir: String): Unit = {
    val spark = linked.sparkSession
    val hconf = new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration)
    new Path(dir).getFileSystem(hconf.value).mkdirs(new Path(dir))
    import spark.implicits._
    linked.groupByKey(_.fov)
      .mapGroups { (fov, it) => (fov, encodeTrk(it.toSeq.sortBy(_.stack))) }
      .foreachPartition { (it: Iterator[(String, Array[Byte])]) =>
        val fs = new Path(dir).getFileSystem(hconf.value)
        it.foreach { case (fov, bytes) =>
          val out = fs.create(new Path(dir, s"$fov.trk"), true)
          try out.write(bytes) finally out.close()
        }
      }
  }

  /** Read every `.trk` under `dir` back into planes (fov = file stem)
    * and a lineage DataFrame matching [[trackTable]]'s schema.
    */
  def readTrks(spark: SparkSession, dir: String): (Dataset[ImagePlane], DataFrame) = {
    import spark.implicits._
    val files = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.trk")
      .load(dir)
      .select("path", "content")
      .as[(String, Array[Byte])]
    val planes = files.flatMap { case (path, bytes) =>
      val fov = new Path(path).getName.stripSuffix(".trk")
      decodeTrkPlanes(fov, bytes)
    }
    val tracks = files.flatMap { case (path, bytes) =>
      val fov = new Path(path).getName.stripSuffix(".trk")
      decodeTrkLineage(bytes).map { t =>
        (fov, t.label, t.frames, t.frames.min, t.frames.max,
          t.daughters, t.parentLabel.map(Integer.valueOf).orNull,
          t.frameDiv.map(Integer.valueOf).orNull, t.capped)
      }
    }.toDF("fov", "label", "frames", "frame_start", "frame_end",
      "daughters", "parent", "frame_div", "capped")
    (planes, tracks)
  }

  private[ops] def encodeTrk(planes: Seq[ImagePlane]): Array[Byte] = {
    require(planes.nonEmpty, "empty fov")
    val h = planes.head
    planes.foreach(p => require(p.nRows == h.nRows && p.nCols == h.nCols &&
      p.channels == h.channels, "ragged trk stack"))
    val t = planes.length
    val n = h.nRows * h.nCols
    val nCh = h.channels.length
    // channel-major plane pixels -> channel-last [T,R,C,ch]
    val raw = new Array[Float](t * n * nCh)
    val tracked = new Array[Int](t * n)
    planes.zipWithIndex.foreach { case (p, ti) =>
      var i = 0
      while (i < n) {
        var c = 0
        while (c < nCh) { raw(ti * n * nCh + i * nCh + c) = p.pixels(c * n + i); c += 1 }
        tracked(ti * n + i) = p.labels(i)
        i += 1
      }
    }
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = m.createObjectNode()
    lineageLocal(planes).foreach { tr =>
      val o = root.putObject(tr.label.toString)
      o.put("label", tr.label)
      val fa = o.putArray("frames"); tr.frames.foreach(fa.add)
      val da = o.putArray("daughters"); tr.daughters.foreach(da.add)
      o.putNull("parent"); o.putNull("frame_div")
      o.put("capped", tr.capped)
    }
    Tar.write(Seq(
      "raw.npy" -> Npy.writeFloats(raw, Seq(t, h.nRows, h.nCols, nCh)),
      "tracked.npy" -> Npy.writeInts(tracked, Seq(t, h.nRows, h.nCols, 1)),
      "lineages.json" -> m.writeValueAsBytes(root)))
  }

  private[ops] def decodeTrkPlanes(fov: String, bytes: Array[Byte]): Seq[ImagePlane] = {
    val entries = Tar.read(bytes)
    val raw = Npy.read(entries("raw.npy"))
    val tracked = Npy.read(entries("tracked.npy"))
    val sh = raw.shape
    require(sh.length == 4, s"raw.npy must be [T,R,C,ch], got $sh")
    val (t, rows, cols, nCh) = (sh(0), sh(1), sh(2), sh(3))
    val rv = raw.toFloats
    val lv = tracked.toInts
    val n = rows * cols
    val chNames = (0 until nCh).map(c => s"channel$c")
    (0 until t).map { ti =>
      val pixels = new Array[Float](nCh * n)
      var i = 0
      while (i < n) {
        var c = 0
        while (c < nCh) { pixels(c * n + i) = rv(ti * n * nCh + i * nCh + c); c += 1 }
        i += 1
      }
      val labels = new Array[Int](n)
      System.arraycopy(lv, ti * n, labels, 0, n)
      ImagePlane(fov, ti, 0, 0, rows, cols, chNames, pixels, labels)
    }
  }

  private[ops] def decodeTrkLineage(bytes: Array[Byte]): Seq[TrackRow] = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Tar.read(bytes)("lineages.json"))
    val it = root.fields()
    val out = scala.collection.mutable.ArrayBuffer.empty[TrackRow]
    while (it.hasNext) {
      val e = it.next()
      val o = e.getValue
      def intArr(f: String): Seq[Int] = {
        val a = o.get(f)
        if (a == null || a.isNull) Seq.empty
        else (0 until a.size()).map(a.get(_).asInt())
      }
      def optInt(f: String): Option[Int] = {
        val v = o.get(f)
        if (v == null || v.isNull) None else Some(v.asInt())
      }
      out += TrackRow(o.get("label").asInt(), intArr("frames"), intArr("daughters"),
        optInt("parent"), optInt("frame_div"), o.get("capped").asBoolean())
    }
    out.toSeq.sortBy(_.label)
  }
}

/** Minimal POSIX ustar codec — just enough for the `.trk` container
  * (regular files, names < 100 chars). Dependency-free by design: the
  * tar layout is a public fixed format (512-byte headers, octal size,
  * two-zero-block terminator).
  */
private[ops] object Tar {

  def write(entries: Seq[(String, Array[Byte])]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    entries.foreach { case (name, data) =>
      bos.write(header(name, data.length))
      bos.write(data)
      val pad = (512 - data.length % 512) % 512
      bos.write(new Array[Byte](pad))
    }
    bos.write(new Array[Byte](1024))
    bos.toByteArray
  }

  def read(bytes: Array[Byte]): Map[String, Array[Byte]] = {
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Array[Byte]]
    var off = 0
    while (off + 512 <= bytes.length && bytes(off) != 0) {
      val name = cstr(bytes, off, 100)
      val size = java.lang.Long.parseLong(cstr(bytes, off + 124, 12).trim, 8).toInt
      val data = new Array[Byte](size)
      System.arraycopy(bytes, off + 512, data, 0, size)
      if (bytes(off + 156) == '0' || bytes(off + 156) == 0) out(name) = data
      off += 512 + size + (512 - size % 512) % 512
    }
    out.toMap
  }

  private def cstr(b: Array[Byte], off: Int, len: Int): String = {
    var end = off
    while (end < off + len && b(end) != 0) end += 1
    new String(b, off, end - off, java.nio.charset.StandardCharsets.US_ASCII)
  }

  private def header(name: String, size: Int): Array[Byte] = {
    require(name.getBytes.length < 100, s"tar name too long: $name")
    val h = new Array[Byte](512)
    def put(off: Int, s: String): Unit = {
      val b = s.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      System.arraycopy(b, 0, h, off, b.length)
    }
    put(0, name)
    put(100, "0000644"); put(108, "0000000"); put(116, "0000000")
    put(124, f"${size.toLong}%011o")
    put(136, "00000000000")
    java.util.Arrays.fill(h, 148, 156, ' '.toByte) // checksum field spaces
    h(156) = '0'
    put(257, "ustar"); h(262) = 0; put(263, "00")
    var sum = 0
    h.foreach(b => sum += b & 0xff)
    put(148, f"$sum%06o")
    h(154) = 0; h(155) = ' '
    h
  }
}
