package graft.queries

import graft.core.ImagePlane
import graft.ops.{CropOps, Relabel, SliceOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Q._

/** Image-domain operator queries (crop/slice/stitch/relabel — the
  * reference's core semantics, SURVEY.md §2.8). The computations are
  * not SQL-expressible over the driver tables, but each runs on a
  * DETERMINISTIC fixture, so the full expected relation is pinned as
  * a DuckDB oracle (see [[oracles]]); each row additionally carries
  * its own invariant verdict, and the ScalaTest suite asserts the
  * same invariants with diagnostics.
  */
object ImageQueries {

  /** Deterministic fixture: 4 fovs x 4 stacks of 60x60 grid-labeled
    * planes (reshape_data_test.py:163-169 pattern).
    */
  private def fixturePlanes(spark: SparkSession): Seq[ImagePlane] =
    ImagePlane.blankPlanes(4, 4, 60, 60)
      .map(ImagePlane.gridLabels(_, cellSize = 10))

  /** Crop -> stitch round trip; one row per plane with the reference's
    * three invariants (shape, nonzero mask, distinct cell count).
    */
  private def qImgCropRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val orig = fixturePlanes(s)
    val plan = CropOps.planCrops(60, 60, 24, 24, 0.5)
    val ds = ImagePlane.toDataset(s, orig)
    val stitched = CropOps.stitchCrops(CropOps.cropPlanes(ds, plan), plan)
    val origCounts = orig.map(p =>
      (p.fov, p.stack) -> (p.labels.count(_ != 0), p.labels.filter(_ != 0).distinct.length)).toMap
    stitched.map { p =>
      val (nnz, cells) = origCounts((p.fov, p.stack))
      (p.fov, p.stack, p.nRows, p.nCols,
        p.labels.count(_ != 0) == nnz,
        p.labels.filter(_ != 0).distinct.length == cells)
    }.toDF("fov", "stack", "n_rows", "n_cols", "mask_ok", "count_ok")
      .orderBy("fov", "stack")
  }

  /** Slice -> stitch round trip on corner-tagged stacks
    * (reshape_data_test.py:209-210 invariant).
    */
  private def qImgSliceRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val orig = ImagePlane.blankPlanes(4, 9, 20, 20).map(ImagePlane.cornerTag)
    val plan = SliceOps.planSlices(9, 4, 1)
    val ds = ImagePlane.toDataset(s, orig)
    SliceOps.stitchSlices(SliceOps.slicePlanes(ds, plan), plan)
      .map(p => (p.fov, p.stack, p.labels(0), p.labels(0) == p.stack + 1))
      .toDF("fov", "stack", "corner_tag", "tag_ok")
      .orderBy("fov", "stack")
  }

  /** IOU frame-chain relabel (relabel.py:97-276): moving cells keep
    * one id across the stack.
    */
  private def qImgRelabelChain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val n = 32
    val frames = for {
      f <- 0 until 4
      t <- 0 until 6
    } yield {
      val labels = new Array[Int](n * n)
      for (r <- 4 until 14; c <- (4 + t) until (14 + t)) labels(r * n + c) = 37 + t * 13 + f
      ImagePlane(s"fov${f + 1}", t, 0, 0, n, n, Seq("c"), new Array[Float](n * n), labels)
    }
    Relabel.predictRelationships(ImagePlane.toDataset(s, frames))
      .map(p => (p.fov, p.stack, p.labels.filter(_ != 0).distinct.toSeq.sorted.mkString(",")))
      .toDF("fov", "stack", "ids")
      .orderBy("fov", "stack")
  }

  /** F1 contrast chain self-check: adjust (blur+gamma+CLAHE) each
    * fixture plane; rows carry range/monotonicity verdicts.
    */
  private def qImgAdjust(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val planes = fixturePlanes(s).map { p =>
      val rng = new scala.util.Random(p.stack + p.fov.hashCode)
      p.copy(pixels = Array.fill(p.nRows * p.nCols)(rng.nextFloat() * 120f))
    }
    ImagePlane.toDataset(s, planes).map { p =>
      val adj = graft.ops.ImageFunctions.adjustImage(
        p.pixels, p.nRows, p.nCols, blurSigma = 1.0, gamma = 0.8, doClahe = true)
      (p.fov, p.stack,
        adj.forall(v => v >= 0f && v <= 255.5f),
        adj.max > adj.min)
    }.toDF("fov", "stack", "range_ok", "non_degenerate")
      .orderBy("fov", "stack")
  }

  /** A3 scale twin: per-category cell-size median, exact window rank
    * vs the percentile_approx sketch over native `label_areas`, on
    * deterministic mixed-size grid masks (per category, 3 planes of
    * 36 area-81 cells + 1 plane of 9 area-361 cells — grid cells keep
    * a 1 px boundary — so the exact median is 81 and the self-check
    * is sharp).
    */
  private def qA3CellsizeSketch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cats = Seq("fluo", "mibi", "phase")
    val masks = cats.flatMap { cat =>
      val small = ImagePlane.blankPlanes(3, 1, 60, 60)
        .map(ImagePlane.gridLabels(_, cellSize = 10))
      val large = ImagePlane.blankPlanes(1, 1, 60, 60)
        .map(ImagePlane.gridLabels(_, cellSize = 20))
      (small ++ large).map(p => (cat, p.labels))
    }
    graft.dataset.DetectionMetrics.cellSizeMedianSketch(
        masks.toDF("category", "trueLabels"))
      .select(col("category"), col("n_cells"), col("approx_median"),
        col("exact_median"), col("median_within_tol"))
      .orderBy("category")
  }

  /** T2 track table (Tracking.ipynb cells 25/32) over a deterministic
    * 3-track movie per fov: cell A (orig id 5) moves 1 px/frame across
    * all 6 frames, cell C (orig id 9) dies after frame 2 (capped),
    * cell B (orig id 7) is born at frame 2. IOU linking renumbers them
    * 1/2/3; the oracle pins the exact lineage rows that must follow.
    */
  private def qTrkTable(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val n = 32
    val frames = for {
      f <- 0 until 2
      t <- 0 until 6
    } yield {
      val labels = new Array[Int](n * n)
      for (r <- 2 until 11; c <- (2 + t) until (11 + t)) labels(r * n + c) = 5
      if (t <= 2) for (r <- 14 until 19; c <- 20 until 29) labels(r * n + c) = 9
      if (t >= 2) for (r <- 20 until 29; c <- 4 until 13) labels(r * n + c) = 7
      ImagePlane(s"fov${f + 1}", t, 0, 0, n, n, Seq("c"),
        new Array[Float](n * n), labels)
    }
    val linked = Relabel.predictRelationships(ImagePlane.toDataset(s, frames))
    graft.ops.Tracking.trackTable(linked)
      .select(col("fov"), col("label"), col("frame_start"), col("frame_end"),
        size(col("frames")).as("n_frames"), col("capped"))
      .orderBy("fov", "label")
  }

  /** The image-domain computations are not SQL-expressible, but every
    * query here runs over a DETERMINISTIC fixture, so its full result
    * relation is derivable a priori from the operator contracts — the
    * oracles pin those expected relations (same pattern as the
    * dataset-contract queries). A broken round trip, relabel chain,
    * contrast range or sketch flips a verdict column (or a
    * shape/count) and fails the hash match; the ScalaTest suites
    * assert the same invariants with full diagnostics.
    *
    * Derivations:
    *  - crop round trip: 4 fovs x stacks 0-3 of 60x60 planes; stitch
    *    restores shape and the nonzero/cell-count invariants
    *    (reshape_data_test.py:163-169 semantics) -> all-true verdicts;
    *  - slice round trip: 4 fovs x stacks 0-8, corner tag = stack+1
    *    by construction (reshape_data_test.py:209-210);
    *  - relabel chain: one 10x10 cell per frame moving 1 px/frame,
    *    consecutive IOU = 72/90 = 0.8 >= 0.1 -> every frame links to
    *    id 1 in all 4 fovs x frames 0-5;
    *  - adjust: blur+gamma+CLAHE maps into [0,255] and random input
    *    is non-degenerate -> all-true verdicts, 4 fovs x stacks 0-3;
    *  - cell-size sketch: per category 3 planes of 36 9x9-interior
    *    cells (area 81) + 1 plane of 9 19x19 cells (area 361) ->
    *    n_cells 117, exact median 81; the percentile_approx sketch at
    *    its default accuracy is exact at this cardinality -> 81.0.
    */
  val registry: Seq[QueryDef] = Seq(
    QueryDef("q_trk_table", qTrkTable,
      """SELECT * FROM (VALUES
        |  ('fov1', 1, 0, 5, 6, FALSE),
        |  ('fov1', 2, 0, 2, 3, TRUE),
        |  ('fov1', 3, 2, 5, 4, FALSE),
        |  ('fov2', 1, 0, 5, 6, FALSE),
        |  ('fov2', 2, 0, 2, 3, TRUE),
        |  ('fov2', 3, 2, 5, 4, FALSE)
        |) AS t(fov, label, frame_start, frame_end, n_frames, capped)
        |ORDER BY fov, label""".stripMargin),
    QueryDef("q_img_crop_roundtrip", qImgCropRoundtrip,
      """SELECT 'fov' || CAST(f AS VARCHAR) AS fov, s AS stack,
        |       60 AS n_rows, 60 AS n_cols, TRUE AS mask_ok, TRUE AS count_ok
        |FROM generate_series(1, 4) t(f), generate_series(0, 3) u(s)
        |ORDER BY fov, stack""".stripMargin),
    QueryDef("q_img_slice_roundtrip", qImgSliceRoundtrip,
      """SELECT 'fov' || CAST(f AS VARCHAR) AS fov, s AS stack,
        |       s + 1 AS corner_tag, TRUE AS tag_ok
        |FROM generate_series(1, 4) t(f), generate_series(0, 8) u(s)
        |ORDER BY fov, stack""".stripMargin),
    QueryDef("q_img_relabel_chain", qImgRelabelChain,
      """SELECT 'fov' || CAST(f AS VARCHAR) AS fov, s AS stack, '1' AS ids
        |FROM generate_series(1, 4) t(f), generate_series(0, 5) u(s)
        |ORDER BY fov, stack""".stripMargin),
    QueryDef("q_img_adjust", qImgAdjust,
      """SELECT 'fov' || CAST(f AS VARCHAR) AS fov, s AS stack,
        |       TRUE AS range_ok, TRUE AS non_degenerate
        |FROM generate_series(1, 4) t(f), generate_series(0, 3) u(s)
        |ORDER BY fov, stack""".stripMargin),
    QueryDef("q_a3_cellsize_sketch", qA3CellsizeSketch,
      """SELECT * FROM (VALUES
        |  ('fluo',  117, CAST(81.0 AS DOUBLE), CAST(81.0 AS DOUBLE), TRUE),
        |  ('mibi',  117, CAST(81.0 AS DOUBLE), CAST(81.0 AS DOUBLE), TRUE),
        |  ('phase', 117, CAST(81.0 AS DOUBLE), CAST(81.0 AS DOUBLE), TRUE)
        |) AS t(category, n_cells, approx_median, exact_median, median_within_tol)
        |ORDER BY category""".stripMargin),
  )
}
