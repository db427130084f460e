package graft.ops

import graft.core.ImagePlane
import org.apache.spark.sql.Dataset

/** z/t slicing along the `stacks` dimension and its inverse.
  *
  * Re-expresses caliban_toolbox/utils/slice_utils.py:40-161 (C5/C6/C8
  * in SURVEY.md §2.8). In the plane-per-row model a slice is a
  * re-tagging of rows: a stack row belongs to every slice whose
  * [start, end) interval covers it (overlap => `flatMap`, possibly 2
  * output rows), with the in-slice stack index rebased to 0.
  *
  * stitchSlices preserves the reference's asymmetry vs crop-stitching:
  * on overlap the HIGHEST covering slice wins unconditionally
  * (last-writer-wins, slice_utils.py:151-159) — deliberately different
  * from C4's majority vote. That rule lives in [[ownedStacks]], which
  * the fused EP2 read (Reconstruct.reconstructFromNpzDir) shares.
  */
object SliceOps {

  /** C5 `compute_slice_indices` (slice_utils.py:40-68): starts =
    * arange(0, stackLen - overlap, sliceLen - overlap); ends = starts
    * + sliceLen with the final end clamped to stackLen.
    */
  def computeSliceIndices(stackLen: Int, sliceLen: Int, overlap: Int)
      : (Array[Int], Array[Int]) = {
    require(sliceLen > 0 && sliceLen <= stackLen, s"slice len $sliceLen vs stack $stackLen")
    require(overlap >= 0 && overlap < sliceLen, s"bad overlap $overlap")
    val stride = sliceLen - overlap
    val starts = (0 until (stackLen - overlap) by stride).toArray
    val ends = starts.map(_ + sliceLen)
    if (ends.last != stackLen) ends(ends.length - 1) = stackLen
    (starts, ends)
  }

  case class SlicePlan(starts: Array[Int], ends: Array[Int], stackLen: Int) {
    def numSlices: Int = starts.length
  }

  def planSlices(stackLen: Int, sliceLen: Int, overlap: Int): SlicePlan = {
    val (s, e) = computeSliceIndices(stackLen, sliceLen, overlap)
    SlicePlan(s, e, stackLen)
  }

  /** C6 `slice_helper` (slice_utils.py:71-123): tag each stack row with
    * every covering slice id, rebasing the stack index. Narrow.
    */
  def slicePlanes(ds: Dataset[ImagePlane], plan: SlicePlan): Dataset[ImagePlane] = {
    implicit val enc = ds.encoder
    ds.flatMap { p =>
      require(p.slice == 0, s"already sliced: slice=${p.slice}")
      plan.starts.indices.collect {
        case i if p.stack >= plan.starts(i) && p.stack < plan.ends(i) =>
          p.copy(slice = i, stack = p.stack - plan.starts(i))
      }
    }
  }

  /** C8's highest-slice-wins rule (slice_utils.py:151-159): the
    * original stack indices slice `s` keeps when the slices are
    * stitched — its own [start, end) up to where the next slice starts,
    * so `[starts(s), starts(s + 1))`, and `[starts(s), ends(s))` for the
    * last slice.
    */
  def ownedStacks(plan: SlicePlan, s: Int): Range =
    plan.starts(s) until
      (if (s + 1 < plan.numSlices) math.min(plan.starts(s + 1), plan.ends(s)) else plan.ends(s))

  /** C8 `stitch_slices` (slice_utils.py:126-161): restore the original
    * stack index and keep each stack from the slice that owns it under
    * [[ownedStacks]], so on overlap the higher slice wins (the
    * reference's unconditional overwrite). Narrow: each row is kept or
    * dropped on its own, which assumes every slice arrives whole, as
    * slicePlanes and the grid-completed NPZ read give it.
    */
  def stitchSlices(ds: Dataset[ImagePlane], plan: SlicePlan): Dataset[ImagePlane] = {
    implicit val enc = ds.encoder
    ds.flatMap { p =>
      val stack = plan.starts(p.slice) + p.stack
      if (ownedStacks(plan, p.slice).contains(stack)) Some(p.copy(stack = stack, slice = 0))
      else None
    }
  }
}
