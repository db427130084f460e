package graft.sources

import graft.SparkSpec
import graft.core.ImagePlane
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import java.nio.file.Files
import java.util.zip.{CRC32, ZipFile}
import scala.jdk.CollectionConverters._

/** The combined-NPZ sink assembles each entry from deflate chunks
  * encoded per partition on the executors. These specs read the file
  * back entry by entry and check sizes, CRCs and the exact bytes
  * against the per-plane encoding in sort order.
  */
class CombinedNpzSpec extends SparkSpec {

  private def planes(n: Int, rows: Int, cols: Int): Seq[ImagePlane] =
    (0 until n).map { i =>
      ImagePlane(s"fov${i % 2}", i, 0, 0, rows, cols, Seq("c0", "c1"),
        Array.tabulate(2 * rows * cols)(k => (i * 7919 + k * 31 % 997).toFloat),
        Array.tabulate(rows * cols)(k => (k + i) % 5))
    }

  /** Every entry's bytes, checked against its recorded CRC and size. */
  private def readZip(path: String): Map[String, Array[Byte]] = {
    val zf = new ZipFile(path)
    try zf.entries().asScala.map { e =>
      val bytes = zf.getInputStream(e).readAllBytes()
      val crc = new CRC32()
      crc.update(bytes)
      assert(bytes.length.toLong == e.getSize, s"${e.getName} size")
      assert(crc.getValue == e.getCrc, s"${e.getName} CRC-32")
      assert(e.getMethod == java.util.zip.ZipEntry.DEFLATED)
      e.getName -> bytes
    }.toMap finally zf.close()
  }

  private def expected(ps: Seq[ImagePlane]): (Array[Byte], Array[Byte]) = {
    val sorted = ps.sortBy(p => (p.fov, p.crop, p.slice, p.stack))
    val h = sorted.head
    (Npy.header("<f4", Seq(sorted.length, h.nRows, h.nCols, h.channels.length)) ++
      sorted.flatMap(Npz.channelLastFloatBytes),
      Npy.header("<i4", Seq(sorted.length, h.nRows, h.nCols, 1)) ++
        sorted.flatMap(Npz.labelIntBytes))
  }

  private def roundTrip(ps: Seq[ImagePlane], parts: Int): Unit = {
    val out = Files.createTempDirectory("combined_npz").toFile.getAbsolutePath + "/all.npz"
    Npz.createCombinedNpz(ImagePlane.toDataset(spark, ps).repartition(parts), out)
    val entries = readZip(out)
    assert(entries.keySet == Set("X.npy", "y.npy"))
    val (x, y) = expected(ps)
    assert(entries("X.npy").sameElements(x), "X bytes equal the per-plane encoding in sort order")
    assert(entries("y.npy").sameElements(y), "y bytes equal the per-plane encoding in sort order")
    val decoded = Npz.decodeTrainingNpz("all.npz", Files.readAllBytes(java.nio.file.Paths.get(out)))
    assert(decoded.length == ps.length)
  }

  test("multi-partition input with empty partitions: exact X and y bytes, CRCs and sizes") {
    val ps = planes(3, 6, 5)
    // without coalescing, the sorted planes are split over several chunks
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try {
      import spark.implicits._
      val chunks = ImagePlane.toDataset(spark, ps).repartition(7)
        .sort("fov", "crop", "slice", "stack")
        .mapPartitions((it: Iterator[ImagePlane]) => Npz.encodeChunk(it)).count()
      assert(chunks > 1, s"$chunks chunk(s)")
      roundTrip(ps, 7)
      roundTrip(planes(40, 9, 11), 7)
    } finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    roundTrip(ps, 7)
  }

  test("single plane") {
    roundTrip(planes(1, 4, 4), 1)
  }

  test("an empty partition encodes to no chunk") {
    assert(Npz.encodeChunk(Iterator.empty).isEmpty)
    val one = Npz.encodeChunk(planes(2, 3, 3).iterator).toSeq
    assert(one.length == 1 && one.head.planes == 2 && one.head.uniform)
    assert(!Npz.encodeChunk((planes(1, 3, 3) ++ planes(1, 4, 3)).iterator).next().uniform)
  }

  test("plane count is summed as Long and must fit the NPY shape") {
    assert(Npz.planeCount(Seq(2L, 0L, 3L)) == 5)
    intercept[IllegalArgumentException](Npz.planeCount(Seq(Int.MaxValue.toLong, 1L)))
    intercept[IllegalArgumentException](Npz.planeCount(Seq.empty))
  }

  test("composed CRC-32 equals CRC32 over the whole, for random splits with empty pieces") {
    val gen = for {
      len <- Gen.choose(0, 5000)
      cuts <- Gen.listOfN(6, Gen.choose(0, len))
      seed <- Gen.long
    } yield (len, cuts.sorted, seed)
    (0 until 200).flatMap(i => gen(Gen.Parameters.default, Seed(7L + i))).foreach {
      case (len, cuts, seed) =>
        val bytes = new Array[Byte](len)
        new scala.util.Random(seed).nextBytes(bytes)
        val pieces = (0 +: cuts).zip(cuts :+ len).map { case (a, b) =>
          val c = new CRC32()
          c.update(bytes, a, b - a)
          Npz.RawEntry(0L, (b - a).toLong, c.getValue.toInt)
        }
        val whole = new CRC32()
        whole.update(bytes)
        val composed = pieces.reduce(_ + _)
        assert(composed.length == len)
        assert((composed.crc & 0xffffffffL) == whole.getValue, s"len $len cuts $cuts")
    }
  }
}
