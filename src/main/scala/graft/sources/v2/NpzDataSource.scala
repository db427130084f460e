package graft.sources.v2

import graft.sources.Npz
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{EqualTo, Filter, In}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import java.util.concurrent.atomic.AtomicInteger

/** DataSource V2 for caliban NPZ work units
  * (`fov_{f}_crop_{c}_slice_{s}.npz`, io_utils.py:73):
  *
  *   spark.read.format("graft.sources.v2.NpzDataSource").load(dir)
  *
  * Scale behaviors the `binaryFile`+flatMap path cannot give:
  *   - **filename-predicate pushdown**: EqualTo/In filters on
  *     fov/crop/slice prune the FILE LIST on the driver before any
  *     byte is read (the reference's `_assemble_paths` walk, done by
  *     the planner);
  *   - **column pruning**: if `pixels` (or `labels`) isn't projected,
  *     the zip entry for X (or y) is never decompressed — a
  *     metadata-only `SELECT fov, count(*)` touches headers, not
  *     tensors;
  *   - one input partition per file: executors decode their own units.
  */
class NpzDataSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = NpzTable.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table =
    new NpzTable(properties.get("path"))
  override def supportsExternalMetadata(): Boolean = true
}

object NpzTable {
  val Schema: StructType = StructType(Seq(
    StructField("fov", StringType, nullable = false),
    StructField("crop", IntegerType, nullable = false),
    StructField("slice", IntegerType, nullable = false),
    StructField("stack", IntegerType, nullable = false),
    StructField("nRows", IntegerType, nullable = false),
    StructField("nCols", IntegerType, nullable = false),
    StructField("pixels", ArrayType(FloatType), nullable = false),
    StructField("labels", ArrayType(IntegerType), nullable = false)))

  /** Test observability: files planned by the most recent scan. */
  val lastPlannedFiles = new AtomicInteger(-1)
}

class NpzTable(path: String) extends Table with SupportsRead {
  override def name(): String = s"npz:$path"
  override def schema(): StructType = NpzTable.Schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new NpzScanBuilder(path)
}

class NpzScanBuilder(path: String) extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = NpzTable.Schema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (accepted, rejected) = filters.partition {
      case EqualTo(a, _) => Seq("fov", "crop", "slice").contains(a)
      case In(a, _) => Seq("fov", "crop", "slice").contains(a)
      case _ => false
    }
    pushed = accepted
    rejected // everything else evaluated by Spark above the scan
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  // the SESSION Hadoop conf (spark.hadoop.*: s3a credentials, FS
  // impls), captured on the driver as TiffScanBuilder does
  override def build(): Scan = new NpzScan(path, pushed, required,
    new SerializableConfiguration(SparkSession.active.sessionState.newHadoopConf()))
}

class NpzScan(path: String, pushed: Array[Filter], required: StructType,
              hadoopConf: SerializableConfiguration)
    extends Scan with Batch {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"NpzScan path=$path pushed=${pushed.mkString(",")} columns=${required.fieldNames.mkString(",")}"

  private def unitMatches(fov: String, crop: Int, slice: Int): Boolean =
    pushed.forall {
      case EqualTo("fov", v) => fov == v
      case EqualTo("crop", v) => crop == v.asInstanceOf[Number].intValue()
      case EqualTo("slice", v) => slice == v.asInstanceOf[Number].intValue()
      case In("fov", vs) => vs.contains(fov)
      case In("crop", vs) => vs.map(_.asInstanceOf[Number].intValue()).contains(crop)
      case In("slice", vs) => vs.map(_.asInstanceOf[Number].intValue()).contains(slice)
      case _ => true
    }

  override def planInputPartitions(): Array[InputPartition] = {
    val fs = new Path(path).getFileSystem(hadoopConf.value)
    val re = "fov_(.+)_crop_(\\d+)_slice_(\\d+)\\.npz".r
    val parts = fs.listStatus(new Path(path)).toSeq
      .filter(_.getPath.getName.endsWith(".npz"))
      .flatMap { st =>
        re.findFirstMatchIn(st.getPath.getName).collect {
          case m if unitMatches(m.group(1), m.group(2).toInt, m.group(3).toInt) =>
            NpzInputPartition(st.getPath.toString, m.group(1),
              m.group(2).toInt, m.group(3).toInt)
        }
      }
    NpzTable.lastPlannedFiles.set(parts.length)
    parts.toArray[InputPartition]
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new NpzReaderFactory(required, SparkSession.active.sparkContext.broadcast(hadoopConf))
}

case class NpzInputPartition(file: String, fov: String, crop: Int, slice: Int)
    extends InputPartition

class NpzReaderFactory(required: StructType,
                       hadoopConf: Broadcast[SerializableConfiguration])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new NpzPartitionReader(partition.asInstanceOf[NpzInputPartition], required,
      hadoopConf.value.value)
}

class NpzPartitionReader(part: NpzInputPartition, required: StructType,
                         hadoopConf: Configuration)
    extends PartitionReader[InternalRow] {

  private val needPixels = required.fieldNames.contains("pixels")
  private val needLabels = required.fieldNames.contains("labels")

  private lazy val rows: Iterator[InternalRow] = {
    val fs = new Path(part.file).getFileSystem(hadoopConf)
    val in = fs.open(new Path(part.file))
    val bytes = try {
      val len = fs.getFileStatus(new Path(part.file)).getLen.toInt
      val buf = new Array[Byte](len)
      in.readFully(0, buf)
      buf
    } finally in.close()
    // decode only the zip entries the projection needs
    val keep: String => Boolean = {
      case "X" => needPixels
      case "y" | "annotated" => needLabels || !needPixels // need at least shapes
      case _ => false
    }
    val entries = Npz.readEntriesFiltered(bytes, keep)
    val shapeSource = entries.get("X").orElse(entries.get("y")).orElse(entries.get("annotated"))
    val Seq(batch, nRows, nCols) = shapeSource.map(_.shape.take(3))
      .getOrElse(Seq(0, 0, 0))
    val xv = entries.get("X").map(_.toFloats)
    val yv = entries.get("y").orElse(entries.get("annotated")).map(_.toInts)
    val nCh = entries.get("X").map(_.shape.lift(3).getOrElse(1)).getOrElse(1)
    (0 until batch).iterator.map { b =>
      val values = required.fieldNames.map {
        case "fov" => UTF8String.fromString(part.fov)
        case "crop" => part.crop
        case "slice" => part.slice
        case "stack" => b
        case "nRows" => nRows
        case "nCols" => nCols
        case "pixels" =>
          val src = xv.get
          // channel-last [b, rows, cols, ch] -> channel-major plane
          val out = new Array[Float](nCh * nRows * nCols)
          var r = 0
          while (r < nRows) {
            var c = 0
            while (c < nCols) {
              var ch = 0
              while (ch < nCh) {
                out(ch * nRows * nCols + r * nCols + c) =
                  src(((b * nRows + r) * nCols + c) * nCh + ch)
                ch += 1
              }
              c += 1
            }
            r += 1
          }
          new GenericArrayData(out)
        case "labels" =>
          val src = yv.get
          val out = new Array[Int](nRows * nCols)
          System.arraycopy(src, b * nRows * nCols, out, 0, nRows * nCols)
          new GenericArrayData(out)
        case other => sys.error(s"unknown column $other")
      }
      new GenericInternalRow(values.asInstanceOf[Array[Any]])
    }
  }

  private var current: InternalRow = _
  override def next(): Boolean =
    if (rows.hasNext) { current = rows.next(); true } else false
  override def get(): InternalRow = current
  override def close(): Unit = ()
}
