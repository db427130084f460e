package graft.sources

import java.io.{ByteArrayOutputStream, DataOutputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets

/** Minimal NPY (numpy .npy v1.0) codec — enough to read and write the
  * reference's NPZ payloads (io_utils.py:90: float X, int y, C-order).
  * Format per the public numpy format spec (numpy/lib/format.py docs):
  * magic \x93NUMPY, version, little-endian uint16 header length,
  * python-dict header {'descr','fortran_order','shape'} padded to 64.
  */
object Npy {

  sealed trait Data {
    def shape: Seq[Int]
    def toFloats: Array[Float]
    def toInts: Array[Int]
  }
  case class FloatData(shape: Seq[Int], values: Array[Float]) extends Data {
    def toFloats: Array[Float] = values
    def toInts: Array[Int] = values.map(_.toInt)
  }
  case class IntData(shape: Seq[Int], values: Array[Int]) extends Data {
    def toFloats: Array[Float] = values.map(_.toFloat)
    def toInts: Array[Int] = values
  }

  private val Magic = Array[Byte](0x93.toByte, 'N', 'U', 'M', 'P', 'Y')

  def read(bytes: Array[Byte]): Data = {
    require(bytes.length > 10 && bytes.take(6).sameElements(Magic), "not an NPY file")
    val major = bytes(6)
    val headerLen =
      if (major == 1) ByteBuffer.wrap(bytes, 8, 2).order(ByteOrder.LITTLE_ENDIAN).getShort & 0xffff
      else ByteBuffer.wrap(bytes, 8, 4).order(ByteOrder.LITTLE_ENDIAN).getInt
    val headerStart = if (major == 1) 10 else 12
    val header = new String(bytes, headerStart, headerLen, StandardCharsets.ISO_8859_1)
    val descr = """'descr':\s*'([^']+)'""".r.findFirstMatchIn(header)
      .map(_.group(1)).getOrElse(sys.error(s"no descr in $header"))
    val fortran = """'fortran_order':\s*(True|False)""".r.findFirstMatchIn(header)
      .exists(_.group(1) == "True")
    require(!fortran, "fortran_order not supported")
    val shape = """'shape':\s*\(([^)]*)\)""".r.findFirstMatchIn(header)
      .map(_.group(1).split(",").map(_.trim).filter(_.nonEmpty).map(_.toInt).toSeq)
      .getOrElse(sys.error(s"no shape in $header"))
    val n = if (shape.isEmpty) 1 else shape.product
    val buf = ByteBuffer.wrap(bytes, headerStart + headerLen,
      bytes.length - headerStart - headerLen).order(ByteOrder.LITTLE_ENDIAN)
    descr match {
      case "<f4" =>
        val out = new Array[Float](n); buf.asFloatBuffer().get(out); FloatData(shape, out)
      case "<f8" =>
        val out = new Array[Float](n)
        val db = buf.asDoubleBuffer()
        var i = 0; while (i < n) { out(i) = db.get(i).toFloat; i += 1 }
        FloatData(shape, out)
      case "<i2" | "<u2" =>
        val out = new Array[Int](n)
        val sb = buf.asShortBuffer()
        val mask = descr == "<u2"
        var i = 0
        while (i < n) { val v = sb.get(i); out(i) = if (mask) v & 0xffff else v; i += 1 }
        IntData(shape, out)
      case "<i4" =>
        val out = new Array[Int](n); buf.asIntBuffer().get(out); IntData(shape, out)
      case "<i8" =>
        val out = new Array[Int](n)
        val lb = buf.asLongBuffer()
        var i = 0; while (i < n) { out(i) = lb.get(i).toInt; i += 1 }
        IntData(shape, out)
      case "|u1" | "<u1" =>
        val out = new Array[Int](n)
        var i = 0; while (i < n) { out(i) = bytes(headerStart + headerLen + i) & 0xff; i += 1 }
        IntData(shape, out)
      case other => sys.error(s"unsupported dtype $other")
    }
  }

  /** Just the NPY v1.0 header; callers stream the payload after it
    * (the combined-NPZ sink appends executor-encoded chunks without
    * ever materializing the full tensor).
    */
  def header(descr: String, shape: Seq[Int]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    writeHeader(out, descr, shape)
    out.flush()
    bos.toByteArray
  }

  private def writeHeader(out: DataOutputStream, descr: String, shape: Seq[Int]): Unit = {
    val shapeStr = shape.mkString("(", ", ", if (shape.length == 1) ",)" else ")")
    var header = s"{'descr': '$descr', 'fortran_order': False, 'shape': $shapeStr, }"
    val total = 10 + header.length + 1
    val pad = (64 - total % 64) % 64
    header = header + (" " * pad) + "\n"
    out.write(Magic)
    out.write(1); out.write(0)
    out.write(header.length & 0xff)
    out.write((header.length >> 8) & 0xff)
    out.write(header.getBytes(StandardCharsets.ISO_8859_1))
  }

  def writeFloats(values: Array[Float], shape: Seq[Int]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    writeHeader(out, "<f4", shape)
    val buf = ByteBuffer.allocate(values.length * 4).order(ByteOrder.LITTLE_ENDIAN)
    buf.asFloatBuffer().put(values)
    out.write(buf.array())
    out.flush()
    bos.toByteArray
  }

  def writeInts(values: Array[Int], shape: Seq[Int]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    writeHeader(out, "<i4", shape)
    val buf = ByteBuffer.allocate(values.length * 4).order(ByteOrder.LITTLE_ENDIAN)
    buf.asIntBuffer().put(values)
    out.write(buf.array())
    out.flush()
    bos.toByteArray
  }
}
