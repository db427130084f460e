package graft.ops

import graft.core.ImagePlane
import org.apache.spark.sql.Dataset

/** 2-D crop planning, tiling and stitching.
  *
  * Re-expresses the reference's crop kernel family
  * (caliban_toolbox/utils/crop_utils.py:38-221 — C1/C2/C4 in
  * SURVEY.md §2.8) in the plane-per-row model:
  *   - the tiling plan (C1) is tiny driver-side arithmetic carried as
  *     a case class (the reference persists it as `log_data`,
  *     reshape_data.py:138-149);
  *   - cropping (C2) is a narrow `flatMap` — no shuffle;
  *   - stitching (C4) is `groupByKey(fov, stack, slice).mapGroups`
  *     with the reference's order-dependent semantics: crops placed in
  *     index order, incoming labels offset past the running canvas max
  *     (W1, crop_utils.py:174-176), overlap conflicts resolved by
  *     majority pixel vote (J3, crop_utils.py:178-206), background
  *     never overwriting (crop_utils.py:209).
  *
  * The standalone `stitchCrops` shuffles decoded crops, keyed by
  * (fov, stack, slice). EP2's reconstruct does not call it: it
  * exchanges the compressed NPZ units by fov and runs [[stitchGroup]]
  * in its streaming kernel (Reconstruct.reconstructFromNpzDir), so
  * there the one wide dependency moves file bytes, not planes.
  */
object CropOps {

  /** C1 `compute_crop_indices` (crop_utils.py:38-82): 1-D tiling plan.
    * Starts spaced `cropSize - overlapPix`; final crop zero-padded to
    * full size; returns (starts, ends, padding).
    */
  def computeCropIndices(imgLen: Int, cropSize: Int, overlapFrac: Double)
      : (Array[Int], Array[Int], Int) = {
    require(cropSize > 0 && cropSize <= imgLen, s"crop size $cropSize vs img $imgLen")
    require(overlapFrac >= 0 && overlapFrac < 1, s"bad overlap $overlapFrac")
    val overlapPix = (cropSize * overlapFrac).toInt
    val stride = cropSize - overlapPix
    val starts = (0 until imgLen by stride).toArray
    val ends = starts.map(_ + cropSize)
    val padding = ends.last - imgLen
    (starts, ends, padding)
  }

  /** The crop-geometry record (the reference's `log_data` dict,
    * reshape_data.py:138-149) — everything needed to invert the crop.
    */
  case class CropPlan(
      rowStarts: Array[Int], rowEnds: Array[Int],
      colStarts: Array[Int], colEnds: Array[Int],
      rowPadding: Int, colPadding: Int,
      origRows: Int, origCols: Int) {
    def numCrops: Int = rowStarts.length * colStarts.length
    def cropRows: Int = rowEnds(0) - rowStarts(0)
    def cropCols: Int = colEnds(0) - colStarts(0)
  }

  def planCrops(origRows: Int, origCols: Int, cropSizeRows: Int, cropSizeCols: Int,
                overlapFrac: Double): CropPlan = {
    val (rs, re, rp) = computeCropIndices(origRows, cropSizeRows, overlapFrac)
    val (cs, ce, cp) = computeCropIndices(origCols, cropSizeCols, overlapFrac)
    CropPlan(rs, re, cs, ce, rp, cp, origRows, origCols)
  }

  /** C2 `crop_helper` (crop_utils.py:85-138): emit the crop grid per
    * plane, crop index `i * nColCrops + j` (rows outer, cols inner —
    * crop_utils.py:131-136). Out-of-bounds reads are zero-padding.
    * Narrow transformation: one input row fans out to numCrops rows.
    */
  def cropPlanes(ds: Dataset[ImagePlane], plan: CropPlan): Dataset[ImagePlane] = {
    implicit val enc = ds.encoder
    ds.flatMap { p =>
      require(p.crop == 0, s"already cropped: crop=${p.crop}")
      cropOne(p, plan)
    }
  }

  private[graft] def cropOne(p: ImagePlane, plan: CropPlan): Seq[ImagePlane] = {
    val cr = plan.cropRows
    val cc = plan.cropCols
    val nCh = p.channels.length
    for {
      (rs, i) <- plan.rowStarts.toSeq.zipWithIndex
      (cs, j) <- plan.colStarts.toSeq.zipWithIndex
    } yield {
      val pixels = new Array[Float](nCh * cr * cc)
      val labels = new Array[Int](cr * cc)
      var ch = 0
      while (ch < nCh) {
        var r = 0
        while (r < cr) {
          val srcR = rs + r
          if (srcR < p.nRows) {
            var c = 0
            while (c < cc) {
              val srcC = cs + c
              if (srcC < p.nCols) {
                pixels(ch * cr * cc + r * cc + c) = p.pixels(ch * p.nRows * p.nCols + srcR * p.nCols + srcC)
                if (ch == 0) labels(r * cc + c) = p.labels(srcR * p.nCols + srcC)
              }
              c += 1
            }
          }
          r += 1
        }
        ch += 1
      }
      p.copy(crop = i * plan.colStarts.length + j, nRows = cr, nCols = cc,
        pixels = pixels, labels = labels)
    }
  }

  /** C4 `stitch_crops` (crop_utils.py:141-221): inverse of cropPlanes.
    * Sequential within (fov, stack, slice) by construction — the
    * reference's semantics are order-dependent (each crop sees all
    * previously placed labels).
    */
  def stitchCrops(ds: Dataset[ImagePlane], plan: CropPlan): Dataset[ImagePlane] = {
    implicit val enc = ds.encoder
    import ds.sparkSession.implicits._
    ds.groupByKey(p => (p.fov, p.stack, p.slice))
      .mapGroups { (key, it) =>
        stitchGroup(key._1, key._2, key._3, it.toSeq.sortBy(_.crop), plan)
      }
  }

  private[graft] def stitchGroup(fov: String, stack: Int, slice: Int,
                               crops: Seq[ImagePlane], plan: CropPlan): ImagePlane = {
    val padR = plan.origRows + plan.rowPadding
    val padC = plan.origCols + plan.colPadding
    val nCh = crops.head.channels.length
    val canvasPix = new Array[Float](nCh * padR * padC)
    val canvasLab = new Array[Int](padR * padC)
    var nextFresh = 1 // running label offset (W1): ids unique across crops
    val cr = plan.cropRows
    val cc = plan.cropCols
    crops.foreach { cp =>
      val i = cp.crop / plan.colStarts.length
      val j = cp.crop % plan.colStarts.length
      val r0 = plan.rowStarts(i)
      val c0 = plan.colStarts(j)
      // pixels: direct placement (raw channels agree on overlaps)
      var ch = 0
      while (ch < nCh) {
        var r = 0
        while (r < cr) {
          val dstR = r0 + r
          if (dstR < padR) {
            var c = 0
            while (c < cc) {
              val dstC = c0 + c
              if (dstC < padC)
                canvasPix(ch * padR * padC + dstR * padC + dstC) = cp.pixels(ch * cr * cc + r * cc + c)
              c += 1
            }
          }
          r += 1
        }
        ch += 1
      }
      // labels: J3 overlap vote. For each incoming cell, count which
      // already-placed canvas id it overlaps most; majority id wins,
      // otherwise a fresh id past the running max (crop_utils.py:165-213).
      val votes = scala.collection.mutable.Map.empty[Int, scala.collection.mutable.Map[Int, Int]]
      var r = 0
      while (r < cr) {
        val dstR = r0 + r
        if (dstR < padR) {
          var c = 0
          while (c < cc) {
            val dstC = c0 + c
            if (dstC < padC) {
              val in = cp.labels(r * cc + c)
              if (in != 0) {
                val placed = canvasLab(dstR * padC + dstC)
                if (placed != 0)
                  votes.getOrElseUpdate(in, scala.collection.mutable.Map.empty)
                    .updateWith(placed) { v => Some(v.getOrElse(0) + 1) }
              }
            }
            c += 1
          }
        }
        r += 1
      }
      val remap = scala.collection.mutable.Map.empty[Int, Int]
      cp.labels.foreach { in =>
        if (in != 0 && !remap.contains(in)) {
          val target = votes.get(in).map(_.maxBy { case (id, n) => (n, -id) }._1)
          remap(in) = target.getOrElse { val id = nextFresh; nextFresh += 1; id }
        }
      }
      // place: background (0) never overwrites (crop_utils.py:209)
      r = 0
      while (r < cr) {
        val dstR = r0 + r
        if (dstR < padR) {
          var c = 0
          while (c < cc) {
            val dstC = c0 + c
            if (dstC < padC) {
              val in = cp.labels(r * cc + c)
              if (in != 0 && canvasLab(dstR * padC + dstC) == 0)
                canvasLab(dstR * padC + dstC) = remap(in)
            }
            c += 1
          }
        }
        r += 1
      }
      // keep nextFresh past everything placed
      if (remap.nonEmpty) nextFresh = math.max(nextFresh, remap.values.max + 1)
    }
    // trim padding back to original dims
    val outPix = new Array[Float](nCh * plan.origRows * plan.origCols)
    val outLab = new Array[Int](plan.origRows * plan.origCols)
    var ch = 0
    while (ch < nCh) {
      var r = 0
      while (r < plan.origRows) {
        System.arraycopy(canvasPix, ch * padR * padC + r * padC,
          outPix, ch * plan.origRows * plan.origCols + r * plan.origCols, plan.origCols)
        if (ch == 0)
          System.arraycopy(canvasLab, r * padC, outLab, r * plan.origCols, plan.origCols)
        r += 1
      }
      ch += 1
    }
    ImagePlane(fov, stack, 0, slice, plan.origRows, plan.origCols,
      crops.head.channels, outPix, outLab)
  }
}
