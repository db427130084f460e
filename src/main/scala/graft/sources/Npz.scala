package graft.sources

import graft.core.ImagePlane
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel

import org.apache.commons.compress.archivers.zip.{ZipArchiveEntry, ZipArchiveOutputStream, Zip64Mode}
import org.apache.hadoop.util.CrcUtil

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, File, InputStream, SequenceInputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.util.zip.{CRC32, Deflater, DeflaterOutputStream, ZipEntry, ZipInputStream, ZipOutputStream}
import scala.jdk.CollectionConverters._

/** One partition of a combined training NPZ, encoded on its executor:
  * `planes` planes of shape (`nRows`, `nCols`, `nCh`) — `uniform` is
  * false if the partition's planes disagree on it — and, for the X
  * (channel-last float) and y (int label) entries, the payload as a raw
  * deflate chunk with its uncompressed length and CRC-32. Public: Spark
  * codegen cannot compile an encoder for a private nested class.
  */
final case class NpzChunk(planes: Long, nRows: Int, nCols: Int, nCh: Int, uniform: Boolean,
                          x: Array[Byte], xLength: Long, xCrc: Int,
                          y: Array[Byte], yLength: Long, yCrc: Int)

/** NPZ (zip of NPY) source/sink — the reference's unit of annotation
  * work and training data (io_utils.py:37-239, S10/S12/S13/S14 in
  * SURVEY.md §2.1).
  *
  * Read path: `spark.read.format("binaryFile")` over a directory +
  * per-file decode in a `flatMap` — each executor decodes its own
  * files; nothing funnels through the driver. Legacy key `annotated`
  * is accepted for `y` (io_utils.py:206). A training NPZ
  * `{X: [batch, rows, cols, chan], y: [batch, rows, cols, 1]}` fans
  * out to one ImagePlane per batch index.
  *
  * Write path: one NPZ per (fov, crop, slice) named
  * `fov_{f}_crop_{c}_slice_{s}.npz` (io_utils.py:73) with the blank-
  * label routing of S10 (include / skip / separate), executed with
  * `foreachPartition` so files are written where the data lives.
  */
object Npz {

  def readEntries(bytes: Array[Byte]): Map[String, Npy.Data] =
    readEntriesFiltered(bytes, _ => true)

  /** Selective decode: zip entries whose name fails `keep` are skipped
    * without decompression (column pruning at the container level).
    */
  def readEntriesFiltered(bytes: Array[Byte], keep: String => Boolean)
      : Map[String, Npy.Data] = {
    val zis = new ZipInputStream(new ByteArrayInputStream(bytes))
    val out = Map.newBuilder[String, Npy.Data]
    var e: ZipEntry = zis.getNextEntry
    while (e != null) {
      val name = e.getName.stripSuffix(".npy")
      if (keep(name)) {
        val bos = new ByteArrayOutputStream()
        val buf = new Array[Byte](65536)
        var n = zis.read(buf)
        while (n > 0) { bos.write(buf, 0, n); n = zis.read(buf) }
        out += name -> Npy.read(bos.toByteArray)
      }
      e = zis.getNextEntry
    }
    zis.close()
    out.result()
  }

  def writeEntries(entries: Map[String, Array[Byte]]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val zos = new ZipOutputStream(bos)
    entries.foreach { case (name, bytes) =>
      zos.putNextEntry(new ZipEntry(s"$name.npy"))
      zos.write(bytes)
      zos.closeEntry()
    }
    zos.close()
    bos.toByteArray
  }

  /** Decode one training NPZ into planes; `fov` is derived from the
    * file name, batch index becomes `stack`.
    */
  def decodeTrainingNpz(fileName: String, bytes: Array[Byte],
                        channels: Seq[String] = Seq.empty): Seq[ImagePlane] = {
    val entries = readEntries(bytes)
    val x = entries.getOrElse("X", sys.error(s"$fileName: no X key"))
    val y = entries.get("y").orElse(entries.get("annotated"))
      .getOrElse(sys.error(s"$fileName: no y/annotated key"))
    val Seq(batch, rows, cols, nCh) = x.shape match {
      case s if s.length == 4 => s
      case s if s.length == 3 => Seq(1) ++ s
      case s => sys.error(s"$fileName: unsupported X shape $s")
    }
    val chNames = if (channels.nonEmpty) channels else (0 until nCh).map(i => s"channel$i")
    val xv = x.toFloats
    val yv = y.toInts
    val base = new File(fileName).getName.stripSuffix(".npz")
    (0 until batch).map { b =>
      // reference layout is [batch, rows, cols, channels] (channel-last);
      // repack to our channel-major planes
      val pixels = new Array[Float](nCh * rows * cols)
      var r = 0
      while (r < rows) {
        var c = 0
        while (c < cols) {
          var ch = 0
          while (ch < nCh) {
            pixels(ch * rows * cols + r * cols + c) =
              xv(((b * rows + r) * cols + c) * nCh + ch)
            ch += 1
          }
          c += 1
        }
        r += 1
      }
      val labels = new Array[Int](rows * cols)
      var i = 0
      while (i < rows * cols) {
        labels(i) = yv(b * rows * cols + i)
        i += 1
      }
      ImagePlane(base, b, 0, 0, rows, cols, chNames, pixels, labels)
    }
  }

  /** S12-flavored source: read every NPZ under `dir` into planes. */
  def readTrainingNpzDir(spark: SparkSession, dir: String,
                         channels: Seq[String] = Seq.empty): Dataset[ImagePlane] = {
    import spark.implicits._
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.npz")
      .load(dir)
      .select("path", "content")
      .as[(String, Array[Byte])]
      .flatMap { case (path, bytes) => decodeTrainingNpz(path, bytes, channels) }
  }

  /** Encode one work unit (all stacks of a (fov, crop, slice)) as a
    * channel-last `[stacks, rows, cols, chan]` NPZ, the reference
    * layout.
    */
  def encodeStack(planes: Seq[ImagePlane]): Array[Byte] = {
    val sorted = planes.sortBy(_.stack)
    val h = sorted.head
    val nCh = h.channels.length
    val n = sorted.length
    val x = new Array[Float](n * h.nRows * h.nCols * nCh)
    val y = new Array[Int](n * h.nRows * h.nCols)
    sorted.zipWithIndex.foreach { case (p, b) =>
      var r = 0
      while (r < p.nRows) {
        var c = 0
        while (c < p.nCols) {
          var ch = 0
          while (ch < nCh) {
            x(((b * p.nRows + r) * p.nCols + c) * nCh + ch) =
              p.pixels(ch * p.nRows * p.nCols + r * p.nCols + c)
            ch += 1
          }
          y(b * p.nRows * p.nCols + r * p.nCols + c) = p.labels(r * p.nCols + c)
          c += 1
        }
        r += 1
      }
    }
    writeEntries(Map(
      "X" -> Npy.writeFloats(x, Seq(n, h.nRows, h.nCols, nCh)),
      "y" -> Npy.writeInts(y, Seq(n, h.nRows, h.nCols, 1))))
  }

  def encodePlane(p: ImagePlane): Array[Byte] = encodeStack(Seq(p))

  /** S10 `save_npzs_for_caliban`: one NPZ per (fov, crop, slice) work
    * unit — `fov_{f}_crop_{c}_slice_{s}.npz` (io_utils.py:73) holding
    * that unit's whole sub-stack — with blank-label routing: "include"
    * (write normally), "skip" (drop blanks), "separate" (blanks into
    * `separate/`). Grouping happens executor-side (groupByKey), one
    * file written per group where the data lives, through the Hadoop
    * `FileSystem` for `saveDir`'s scheme — so the shared dir can be
    * `file://` in tests and `s3a://`/`hdfs://` on a cluster, where the
    * executors' local disks are NOT the driver's.
    */
  def saveNpzsForCaliban(ds: Dataset[ImagePlane], saveDir: String,
                         blankLabels: String = "include"): Unit = {
    require(Seq("include", "skip", "separate").contains(blankLabels),
      s"invalid blank_labels $blankLabels")
    val spark = ds.sparkSession
    val hconf = new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration)
    val dirFs = new Path(saveDir).getFileSystem(hconf.value)
    dirFs.mkdirs(new Path(saveDir))
    if (blankLabels == "separate") dirFs.mkdirs(new Path(saveDir, "separate"))
    import spark.implicits._
    ds.groupByKey(p => (p.fov, p.crop, p.slice))
      .mapGroups { (key, it) =>
        val planes = it.toSeq
        val blank = planes.forall(_.labels.forall(_ == 0))
        (key._1, key._2, key._3, encodeStack(planes), blank)
      }
      .foreachPartition { (it: Iterator[(String, Int, Int, Array[Byte], Boolean)]) =>
        val fs = new Path(saveDir).getFileSystem(hconf.value)
        it.foreach { case (fov, crop, slice, bytes, blank) =>
          val target =
            if (!blank || blankLabels == "include") Some(saveDir)
            else if (blankLabels == "separate") Some(s"$saveDir/separate")
            else None
          target.foreach { d =>
            val out = fs.create(new Path(d, s"fov_${fov}_crop_${crop}_slice_${slice}.npz"), true)
            try out.write(bytes) finally out.close()
          }
        }
      }
  }

  /** Channel-last little-endian float bytes of one plane (the NPY
    * payload row of the combined X tensor).
    */
  private[sources] def channelLastFloatBytes(p: ImagePlane): Array[Byte] = {
    val nCh = p.channels.length
    val planeSize = p.nRows * p.nCols
    val bb = ByteBuffer.allocate(planeSize * nCh * 4).order(ByteOrder.LITTLE_ENDIAN)
    val fb = bb.asFloatBuffer()
    var r = 0
    while (r < p.nRows) {
      var c = 0
      while (c < p.nCols) {
        var ch = 0
        while (ch < nCh) {
          fb.put(p.pixels(ch * planeSize + r * p.nCols + c))
          ch += 1
        }
        c += 1
      }
      r += 1
    }
    bb.array()
  }

  private[sources] def labelIntBytes(p: ImagePlane): Array[Byte] = {
    val bb = ByteBuffer.allocate(p.labels.length * 4).order(ByteOrder.LITTLE_ENDIAN)
    bb.asIntBuffer().put(p.labels)
    bb.array()
  }

  /** Deflated size, uncompressed length and CRC-32 of a run of raw
    * deflate chunks; `+` appends one run to another.
    */
  private[sources] final case class RawEntry(deflated: Long, length: Long, crc: Int) {
    def +(next: RawEntry): RawEntry = RawEntry(deflated + next.deflated, length + next.length,
      CrcUtil.compose(crc, next.crc, next.length, CrcUtil.GZIP_POLYNOMIAL))
  }

  /** Raw deflate at the zip default level, ended with a sync flush and
    * no final block, so chunks from separate deflaters concatenate
    * into one valid deflate stream.
    */
  private final class ChunkDeflater {
    private val bos = new ByteArrayOutputStream()
    private val deflater = new Deflater(Deflater.DEFAULT_COMPRESSION, true)
    private val out = new DeflaterOutputStream(bos, deflater, 65536, true)
    private val crc = new CRC32()
    var length = 0L
    def write(b: Array[Byte]): Unit = { out.write(b); crc.update(b); length += b.length }
    def crcValue: Int = crc.getValue.toInt
    def finish(): Array[Byte] = { out.flush(); deflater.end(); bos.toByteArray }
  }

  /** The empty final deflate block that closes a stream of chunks. */
  private val FinalBlock = Array[Byte](3, 0)

  /** One partition's planes as one [[NpzChunk]]; empty partitions emit nothing. */
  private[sources] def encodeChunk(planes: Iterator[ImagePlane]): Iterator[NpzChunk] =
    if (!planes.hasNext) Iterator.empty
    else {
      val x = new ChunkDeflater
      val y = new ChunkDeflater
      val h = planes.next()
      var n = 0L
      var uniform = true
      (Iterator.single(h) ++ planes).foreach { p =>
        uniform &&= p.nRows == h.nRows && p.nCols == h.nCols && p.channels.length == h.channels.length
        x.write(channelLastFloatBytes(p))
        y.write(labelIntBytes(p))
        n += 1
      }
      Iterator.single(NpzChunk(n, h.nRows, h.nCols, h.channels.length, uniform,
        x.finish(), x.length, x.crcValue, y.finish(), y.length, y.crcValue))
    }

  /** Total plane count of the partitions; the NPY shape holds Ints. */
  private[sources] def planeCount(perPartition: Seq[Long]): Int = {
    val n = perPartition.sum
    require(n > 0, "no planes to combine")
    require(n <= Int.MaxValue, s"$n planes exceed the NPY shape's Int range")
    n.toInt
  }

  /** Write one deflated zip entry: the NPY header as its own
    * chunk, then `chunks` (whose sizes and CRCs are `parts`), then the
    * final block. Sizes and CRC go into the local header up front, so
    * the entry streams without a data descriptor.
    */
  private def writeRawEntry(zos: ZipArchiveOutputStream, name: String, npyHeader: Array[Byte],
                            parts: Seq[RawEntry], chunks: Iterator[Array[Byte]]): Unit = {
    val d = new ChunkDeflater
    d.write(npyHeader)
    val head = d.finish()
    val total = (RawEntry(head.length, d.length, d.crcValue) +: parts)
      .reduce(_ + _) + RawEntry(FinalBlock.length, 0L, 0)
    val e = new ZipArchiveEntry(name)
    e.setMethod(ZipEntry.DEFLATED)
    e.setTime(System.currentTimeMillis())
    e.setSize(total.length)
    e.setCompressedSize(total.deflated)
    e.setCrc(total.crc & 0xffffffffL)
    val streams = (Iterator.single(head) ++ chunks ++ Iterator.single(FinalBlock))
      .map(b => new ByteArrayInputStream(b): InputStream)
    zos.addRawArchiveEntry(e, new SequenceInputStream(streams.asJavaEnumeration))
  }

  /** S14 `concatenate_npz_files` / `create_combined_npz`
    * (pipeline.py:70-110): fold a dataset of planes into one combined
    * training NPZ `{X: [n, rows, cols, chan], y: [n, rows, cols, 1]}`.
    *
    * Single-file output is inherently driver-written, but the encode
    * runs on the executors in one pass: each partition of the
    * `(fov, crop, slice, stack)`-sorted planes becomes one [[NpzChunk]]
    * holding its X and y payloads as raw deflate chunks with their
    * lengths and CRC-32s. The chunks are persisted (not the raw
    * planes); one metadata collect gives the plane count and checks the
    * shape is uniform; the driver then composes each entry's CRC and
    * streams the header chunk and the partition chunks from
    * `toLocalIterator` into the zip unchanged. Driver heap holds one
    * partition's deflated chunk at a time, never the dataset; a chunk
    * is one byte array, so it must stay under 2 GB. The file
    * goes through the Hadoop FileSystem so `outFile` may live on any
    * mounted store. The distributed form of the same data is
    * PlaneStore.save.
    */
  def createCombinedNpz(ds: Dataset[ImagePlane], outFile: String): Unit = {
    val spark = ds.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, length}
    val chunks = ds.sort("fov", "crop", "slice", "stack")
      .mapPartitions((it: Iterator[ImagePlane]) => encodeChunk(it))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val meta = chunks.withColumn("xDeflated", length(col("x")))
        .withColumn("yDeflated", length(col("y"))).drop("x", "y").collect()
      val n = planeCount(meta.map(_.getAs[Long]("planes")).toSeq)
      val shapes = meta.map(r =>
        (r.getAs[Int]("nRows"), r.getAs[Int]("nCols"), r.getAs[Int]("nCh"))).distinct
      val uniform = meta.forall(_.getAs[Boolean]("uniform"))
      require(shapes.length == 1 && uniform,
        s"combined NPZ requires uniform plane shape, got ${shapes.mkString(", ")}" +
          (if (uniform) "" else " and mixed shapes within a partition"))
      val (rows, cols, nCh) = shapes(0)
      def parts(e: String) = meta.toSeq.map(r => RawEntry(r.getAs[Int](s"${e}Deflated"),
        r.getAs[Long](s"${e}Length"), r.getAs[Int](s"${e}Crc")))
      def payload(e: String) = chunks.select(col(e)).as[Array[Byte]].toLocalIterator().asScala
      val fs = new Path(outFile).getFileSystem(spark.sparkContext.hadoopConfiguration)
      val zos = new ZipArchiveOutputStream(fs.create(new Path(outFile), true))
      try {
        zos.setUseZip64(Zip64Mode.AsNeeded)
        writeRawEntry(zos, "X.npy", Npy.header("<f4", Seq(n, rows, cols, nCh)), parts("x"), payload("x"))
        writeRawEntry(zos, "y.npy", Npy.header("<i4", Seq(n, rows, cols, 1)), parts("y"), payload("y"))
      } finally zos.close()
    } finally chunks.unpersist()
  }

  /** The work-unit file name `fov_{f}_crop_{c}_slice_{s}` the sink
    * writes (io_utils.py:73), matched against the file's base name.
    */
  private val UnitName = "fov_(.+)_crop_(\\d+)_slice_(\\d+)"

  /** The NPZ work units under `dir`, still compressed: one row per file
    * whose base name parses as a unit, with columns (path, fov, crop,
    * slice, content). Nothing is decoded, so a join or exchange on the
    * unit key moves the files' bytes, not their planes.
    */
  private[graft] def unitFiles(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, regexp_extract}
    val name = regexp_extract(col("path"), "[^/]*$", 0)
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.npz")
      .load(dir)
      .where(name.rlike(UnitName))
      .select(col("path"), regexp_extract(name, UnitName, 1).as("fov"),
        regexp_extract(name, UnitName, 2).cast("int").as("crop"),
        regexp_extract(name, UnitName, 3).cast("int").as("slice"), col("content"))
  }

  /** S12's zero-fill for one work unit: stacks `0 until stackLen` of
    * (fov, crop, slice), decoded from `content` where the file holds
    * them and all-zero `nRows` x `nCols` planes where it does not (a
    * null `content` is a unit the annotators never returned). Stacks
    * the file holds past `stackLen` are dropped; `stackLen <= 0` gives
    * no planes.
    */
  private[graft] def fillUnit(fov: String, crop: Int, slice: Int, stackLen: Int,
                              path: String, content: Array[Byte], nRows: Int, nCols: Int,
                              channels: Seq[String]): IndexedSeq[ImagePlane] = {
    val decoded =
      if (content == null) IndexedSeq.empty else decodeTrainingNpz(path, content, channels).toIndexedSeq
    (0 until stackLen).map { b =>
      if (b < decoded.length) decoded(b).copy(fov = fov, crop = crop, slice = slice)
      else ImagePlane(fov, b, crop, slice, nRows, nCols, channels,
        new Array[Float](channels.length * nRows * nCols), new Array[Int](nRows * nCols))
    }
  }

  /** S12 `load_npzs` (io_utils.py:166-239): read a caliban crop dir
    * back, zero-filling planes whose NPZ is missing (annotator never
    * returned it) against the expected (fov, crop, slice, stackLen)
    * grid — the truncated last slice simply declares a shorter
    * stackLen, as the reference handles it.
    */
  def loadNpzsWithGrid(spark: SparkSession, dir: String,
                       expected: Seq[(String, Int, Int, Int)],
                       nRows: Int, nCols: Int,
                       channels: Seq[String] = Seq("channel0")): Dataset[ImagePlane] = {
    import spark.implicits._
    val grid = spark.createDataset(expected)
      .toDF("fov", "crop", "slice", "stackLen")
    loadNpzsWithGridDf(spark, dir, grid, nRows, nCols, channels)
  }

  /** Distributed-grid variant: `expectedGrid` has columns
    * (fov, crop, slice, stackLen) and may come from any plan. The grid
    * is left-joined to the still-compressed [[unitFiles]] on
    * (fov, crop, slice), and each unit is decoded and zero-filled by
    * [[fillUnit]] after the join, so the join never broadcasts or
    * shuffles decoded planes.
    */
  def loadNpzsWithGridDf(spark: SparkSession, dir: String,
                         expectedGrid: DataFrame,
                         nRows: Int, nCols: Int,
                         channels: Seq[String] = Seq("channel0")): Dataset[ImagePlane] = {
    import spark.implicits._
    expectedGrid.select("fov", "crop", "slice", "stackLen")
      .join(unitFiles(spark, dir), Seq("fov", "crop", "slice"), "left")
      .select("fov", "crop", "slice", "stackLen", "path", "content")
      .as[(String, Int, Int, Int, String, Array[Byte])]
      .flatMap { case (fov, crop, slice, stackLen, path, content) =>
        fillUnit(fov, crop, slice, stackLen, path, content, nRows, nCols, channels)
      }
  }
}
