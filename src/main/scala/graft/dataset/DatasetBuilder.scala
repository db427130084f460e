package graft.dataset

import graft.core.ImagePlane
import graft.ops.{ImageResize, LabelClean}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** One training image row: an ImagePlane plus its experiment lineage
  * (tissue/platform ride along as plain columns — the Spark model
  * dissolves the reference's manual index-alignment bookkeeping,
  * dataset_builder.py:274-286).
  */
case class TrainPlane(
    experiment: String, tissue: String, platform: String, split: String,
    fov: String, stack: Int, crop: Int, slice: Int,
    nRows: Int, nCols: Int, channels: Seq[String],
    pixels: Array[Float], labels: Array[Int]) {
  def plane: ImagePlane =
    ImagePlane(fov, stack, crop, slice, nRows, nCols, channels, pixels, labels)
}

/** R6/R7 `DatasetBuilder.build_dataset` (dataset_builder.py:566-649) —
  * the reference's flagship query (EP3 in SURVEY.md §3):
  *
  *   load experiments -> J1 broadcast metadata join -> seeded
  *   per-experiment train/val/test split -> P1 category subset ->
  *   C12 reshape -> P4 clean -> R5 balance (not test) -> A2 summary.
  *
  * Shuffle points: the per-experiment split window (keyed by
  * experiment — bounded groups) and the balance resample; everything
  * else is narrow. Metadata is always broadcast (tiny).
  */
object DatasetBuilder {

  /** J1: fan experiment-level metadata onto images
    * (dataset_builder.py:150-163) — a broadcast join.
    */
  def attachMetadata(planes: DataFrame, metadata: DataFrame): DataFrame =
    planes.join(broadcast(metadata), Seq("experiment"))

  /** Per-experiment seeded split with the reference's count rules.
    * One window over rand(seed) within each experiment gives each row
    * its rank and, over the whole-partition frame, its experiment's
    * size; a UDF maps the size to train/val thresholds with
    * Splitter.splitCounts. No job runs at construction; the ratios are
    * checked here, at the call.
    */
  def assignSplits(planes: DataFrame, seed: Long,
                   ratios: (Double, Double, Double) = (0.8, 0.1, 0.1)): DataFrame = {
    Splitter.checkRatios(ratios)
    val w = Window.partitionBy("experiment").orderBy(col("__r"))
    val split = udf { (rn: Int, n: Long) =>
      val (tr, va, _) = Splitter.splitCounts(n, ratios)
      if (rn < tr) "train" else if (rn < tr + va) "val" else "test"
    }.asNonNullable()
    planes
      .withColumn("__r", rand(seed))
      .withColumn("__rn", row_number().over(w) - 1)
      .withColumn("__n", count(lit(1)).over(
        w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("split", split(col("__rn"), col("__n")))
      .drop("__r", "__rn", "__n")
  }

  /** P1 `_subset_data_dict`: category filters; 'all' = no predicate. */
  def subset(planes: DataFrame, tissues: Seq[String], platforms: Seq[String]): DataFrame = {
    var out = planes
    if (tissues.nonEmpty && tissues != Seq("all"))
      out = out.filter(col("tissue").isin(tissues: _*))
    if (platforms.nonEmpty && platforms != Seq("all"))
      out = out.filter(col("platform").isin(platforms: _*))
    out
  }

  /** The composed pipeline. `resizeTarget` (median cell area in px)
    * triggers the C12 'by_image'-style ratio = sqrt(target/median).
    */
  def buildDataset(spark: SparkSession,
                   planes: DataFrame, metadata: DataFrame,
                   tissues: Seq[String] = Seq("all"),
                   platforms: Seq[String] = Seq("all"),
                   outRows: Int = 0, outCols: Int = 0,
                   resizeTarget: Option[Double] = None,
                   relabelCC: Boolean = true,
                   smallObjectThreshold: Int = 0,
                   minObjects: Int = 1,
                   balance: Boolean = false,
                   seed: Long = 0L): Dataset[TrainPlane] = {
    import spark.implicits._
    val joined = assignSplits(attachMetadata(planes, metadata), seed)
    val subsetted = subset(joined, tissues, platforms)
    val typed = subsetted.as[TrainPlane]

    // C12 reshape: global median-cell-size ratio, tolerance-gated
    val reshaped: Dataset[TrainPlane] =
      if (outRows > 0 && outCols > 0) {
        val ratio = resizeTarget match {
          case Some(target) =>
            ImageResize.medianCellSize(typed.map(_.plane))
              .map(m => math.sqrt(target / m)).getOrElse(1.0)
          case None => 1.0
        }
        typed.flatMap { tp =>
          val resized =
            if (ratio > 1.5 || ratio < 1 / 1.5) ImageResize.resizePlane(tp.plane, ratio)
            else tp.plane
          val padded = ImageResize.padPlane(resized, outRows, outCols)
          val plan = graft.ops.CropOps.planCrops(padded.nRows, padded.nCols, outRows, outCols, 0.0)
          graft.ops.CropOps.cropOne(padded, plan).map { c =>
            tp.copy(fov = c.fov, stack = c.stack, crop = c.crop, slice = c.slice,
              nRows = c.nRows, nCols = c.nCols, pixels = c.pixels, labels = c.labels)
          }
        }
      } else typed

    // P4 clean
    val cleaned = reshaped
      .map { tp =>
        var l = tp.labels
        if (relabelCC) l = LabelClean.connectedComponents(l, tp.nRows, tp.nCols)
        if (smallObjectThreshold > 0) l = LabelClean.removeSmallObjects(l, smallObjectThreshold)
        tp.copy(labels = l)
      }
      .filter((tp: TrainPlane) => tp.labels.filter(_ != 0).distinct.length >= minObjects)

    // R5 balance train/val only (dataset_builder.py:644-646)
    if (balance) {
      val df = cleaned.toDF()
      val trainVal = Balancer.balance(df.filter(col("split") =!= "test"), "tissue", seed)
      trainVal.unionAll(df.filter(col("split") === "test")).as[TrainPlane]
    } else cleaned
  }

  /** A2 `summarize_dataset` (dataset_builder.py:651-692): per-category
    * image and cell counts (cells = distinct nonzero labels per image).
    */
  def summarize(ds: Dataset[TrainPlane], categoryCol: String): DataFrame = {
    ds.toDF()
      .withColumn("n_cells",
        graft.functions.LabelExprs.distinctNonzeroCount(col("labels")))
      .groupBy(categoryCol)
      .agg(sum("n_cells").as("total_cells"), count(lit(1)).as("n_images"))
      .orderBy(categoryCol)
  }
}
