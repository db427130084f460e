package graft.ops

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.core.ImagePlane
import graft.sources.Npz
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Dataset, SparkSession}

import scala.jdk.CollectionConverters._

/** C9 `reconstruct_image_stack` (reshape_data.py:194-234) — the EP2
  * post-annotation inverse pipeline:
  *
  *   read NPZ crop dir (zero-filling units the annotators never
  *   returned, S12) -> stitch slices if sliced (C8) -> stitch crops if
  *   cropped (C4) -> relabel (W3/W4/J2 via graft.ops.Relabel).
  *
  * The geometry needed for inversion travels as the plan case classes
  * (the reference's `log_data` JSON sidecar, io_utils.py:124-133).
  */
object Reconstruct {

  case class ReconstructionPlan(
      fovs: Seq[String],
      cropPlan: Option[CropOps.CropPlan],
      slicePlan: Option[SliceOps.SlicePlan],
      nRows: Int, nCols: Int,
      channels: Seq[String],
      stackLen: Int = 1)

  /** Forward pass bookkeeping: run crop (optional) then slice
    * (optional), returning the work units plus the inversion plan.
    */
  def cropAndSlice(ds: Dataset[ImagePlane],
                   origRows: Int, origCols: Int, stackLen: Int,
                   cropSize: Option[(Int, Int, Double)],
                   sliceLen: Option[(Int, Int)],
                   fovs: Seq[String], channels: Seq[String])
      : (Dataset[ImagePlane], ReconstructionPlan) = {
    val cropPlan = cropSize.map { case (r, c, overlap) =>
      CropOps.planCrops(origRows, origCols, r, c, overlap)
    }
    val slicePlan = sliceLen.map { case (len, overlap) =>
      SliceOps.planSlices(stackLen, len, overlap)
    }
    var out = ds
    cropPlan.foreach(p => out = CropOps.cropPlanes(out, p))
    slicePlan.foreach(p => out = SliceOps.slicePlanes(out, p))
    (out, ReconstructionPlan(fovs, cropPlan, slicePlan, origRows, origCols, channels, stackLen))
  }

  /** Persist the plan as the reference's `log_data.json` sidecar next
    * to the NPZ work units (io_utils.py:124-133, reshape_data.py:210-211)
    * so EP2 can run in a LATER process — the reference's actual
    * workflow, where annotators hold the crops for days. Field names
    * mirror the reference's log_data keys. Written through the Hadoop
    * FileSystem so the sidecar lands on the same shared store as the
    * NPZs.
    */
  def savePlan(spark: SparkSession, dir: String, plan: ReconstructionPlan): Unit = {
    val m = new ObjectMapper()
    val root = m.createObjectNode()
    val fovs = root.putArray("fov_names"); plan.fovs.foreach(fovs.add)
    val chs = root.putArray("channels"); plan.channels.foreach(chs.add)
    root.put("original_rows", plan.nRows)
    root.put("original_cols", plan.nCols)
    root.put("stack_len", plan.stackLen)
    plan.cropPlan.foreach { cp =>
      val c = root.putObject("crop")
      Seq("row_starts" -> cp.rowStarts, "row_ends" -> cp.rowEnds,
          "col_starts" -> cp.colStarts, "col_ends" -> cp.colEnds)
        .foreach { case (k, arr) => val a = c.putArray(k); arr.foreach(a.add) }
      c.put("row_padding", cp.rowPadding)
      c.put("col_padding", cp.colPadding)
    }
    plan.slicePlan.foreach { sp =>
      val s = root.putObject("slice")
      val st = s.putArray("slice_start_indices"); sp.starts.foreach(st.add)
      val en = s.putArray("slice_end_indices"); sp.ends.foreach(en.add)
      s.put("slice_stack_len", sp.stackLen)
    }
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new Path(dir, "log_data.json"), true)
    try out.write(m.writerWithDefaultPrettyPrinter().writeValueAsBytes(root))
    finally out.close()
  }

  private def intArr(n: JsonNode): Array[Int] =
    n.elements().asScala.map(_.asInt).toArray

  /** Load a `log_data.json` sidecar written by [[savePlan]]. */
  def loadPlan(spark: SparkSession, dir: String): ReconstructionPlan = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(new Path(dir, "log_data.json"))
    val root = try new ObjectMapper().readTree(in.readAllBytes()) finally in.close()
    val cropPlan = Option(root.get("crop")).map { c =>
      CropOps.CropPlan(
        intArr(c.get("row_starts")), intArr(c.get("row_ends")),
        intArr(c.get("col_starts")), intArr(c.get("col_ends")),
        c.get("row_padding").asInt, c.get("col_padding").asInt,
        root.get("original_rows").asInt, root.get("original_cols").asInt)
    }
    val slicePlan = Option(root.get("slice")).map { s =>
      SliceOps.SlicePlan(
        intArr(s.get("slice_start_indices")), intArr(s.get("slice_end_indices")),
        s.get("slice_stack_len").asInt)
    }
    ReconstructionPlan(
      root.get("fov_names").elements().asScala.map(_.asText).toSeq,
      cropPlan, slicePlan,
      root.get("original_rows").asInt, root.get("original_cols").asInt,
      root.get("channels").elements().asScala.map(_.asText).toSeq,
      Option(root.get("stack_len")).map(_.asInt).getOrElse(1))
  }

  /** EP2 inverse for a later process: read the `log_data.json` sidecar
    * from the NPZ dir itself, then reconstruct.
    */
  def reconstructFromNpzDir(spark: SparkSession, dir: String): Dataset[ImagePlane] =
    reconstructFromNpzDir(spark, dir, loadPlan(spark, dir))

  /** EP2 inverse: NPZ dir -> reconstructed full-size planes, in one
    * exchange of the still-compressed work units.
    *
    * The units ([[Npz.unitFiles]]) whose crop and slice indices are in
    * the plan are unioned with one marker row per plan fov (null
    * content, slice -1), so a fov none of whose units came back still
    * reconstructs, as zeros. The union is hash-partitioned by fov and
    * sorted by (fov, slice, crop): that repartition is the plan's only
    * shuffle, and it moves NPZ bytes, not decoded planes. One
    * `mapPartitions` pass then streams each fov slice by slice: it
    * decodes and zero-fills the slice's units (S12, [[Npz.fillUnit]]),
    * keeps the stacks the slice owns (C8, [[SliceOps.ownedStacks]]) and
    * stitches each kept stack's crops (C4, [[CropOps.stitchGroup]]).
    * Units of a fov outside the plan have no marker and are skipped.
    * Task memory is one (fov, slice): its compressed units, their
    * decoded crops and one canvas.
    */
  def reconstructFromNpzDir(spark: SparkSession, dir: String,
                            plan: ReconstructionPlan): Dataset[ImagePlane] = {
    import org.apache.spark.sql.functions.{col, lit}
    import spark.implicits._
    val nCrops = plan.cropPlan.map(_.numCrops).getOrElse(1)
    val slices = plan.slicePlan.getOrElse(
      SliceOps.SlicePlan(Array(0), Array(plan.stackLen), plan.stackLen))
    val units = Npz.unitFiles(spark, dir)
      .where(col("crop") < nCrops && col("slice") < slices.numSlices)
    val markers = plan.fovs.toDF("fov").select(lit(null).cast("string").as("path"), col("fov"),
      lit(-1).as("crop"), lit(-1).as("slice"), lit(null).cast("binary").as("content"))
    units.unionByName(markers)
      .repartition(col("fov"))
      .sortWithinPartitions("fov", "slice", "crop")
      .select("fov", "slice", "crop", "path", "content")
      .as[(String, Int, Int, String, Array[Byte])]
      .mapPartitions(rows => stitchFovs(rows.buffered, plan, nCrops, slices))
  }

  /** The reconstruct kernel over one partition of (fov, slice, crop)-
    * sorted rows, where each plan fov's marker row sorts first.
    */
  private def stitchFovs(
      in: collection.BufferedIterator[(String, Int, Int, String, Array[Byte])],
      plan: ReconstructionPlan, nCrops: Int, slices: SliceOps.SlicePlan): Iterator[ImagePlane] = {
    val unitRows = plan.cropPlan.map(_.cropRows).getOrElse(plan.nRows)
    val unitCols = plan.cropPlan.map(_.cropCols).getOrElse(plan.nCols)
    def sliceOut(fov: String, s: Int): Iterator[ImagePlane] = {
      val files = Map.newBuilder[Int, (String, Array[Byte])]
      while (in.hasNext && in.head._1 == fov && in.head._2 == s) {
        val (_, _, crop, path, content) = in.next()
        files += crop -> (path, content)
      }
      val byCrop = files.result()
      val start = slices.starts(s)
      val crops = (0 until nCrops).map { c =>
        val (path, content) = byCrop.getOrElse(c, (null, null))
        Npz.fillUnit(fov, c, s, slices.ends(s) - start, path, content,
          unitRows, unitCols, plan.channels)
      }
      SliceOps.ownedStacks(slices, s).iterator.map { stack =>
        val planes = crops.map(_(stack - start))
        plan.cropPlan match {
          case Some(cp) => CropOps.stitchGroup(fov, stack, 0, planes, cp)
          case None => planes.head.copy(stack = stack, slice = 0)
        }
      }
    }
    Iterator.continually(in).takeWhile(_.hasNext).flatMap { _ =>
      val fov = in.head._1
      val inPlan = in.head._2 < 0
      while (in.hasNext && in.head._1 == fov && (in.head._2 < 0 || !inPlan)) in.next()
      if (inPlan) (0 until slices.numSlices).iterator.flatMap(sliceOut(fov, _))
      else Iterator.empty
    }
  }
}
