package graft.ops

import graft.core.ImagePlane
import graft.plans.KeyedMap
import org.apache.spark.sql.Dataset

/** Label renumbering and frame-to-frame identity propagation.
  *
  * Re-expresses caliban_toolbox/relabel.py (W3/W4/J2 in SURVEY.md §2):
  *   - `relabelFrame` / `allFrames` — per-frame dense renumber
  *     (relabel.py:71-94, scikit `relabel_sequential` semantics);
  *   - `preserveRelationships` — one dense rank over the distinct
  *     label set of a whole fov stack, so equal ids stay equal across
  *     frames (relabel.py:31-68);
  *   - `predictRelationships` — sequential per-fov pass linking cells
  *     between consecutive frames by IOU with greedy best-first
  *     matching (relabel.py:97-276). Sequential by construction
  *     (frame t+1 is matched against *relabeled* frame t), so each fov
  *     is linked inside one task, by one streaming pass over its
  *     frames in [[chainOrder]] that holds two planes at a time, and
  *     fovs spread across tasks.
  */
object Relabel {

  /** The frame order of the chain: (fov, crop, slice, stack). The link
    * kernel and the reconstruct kernel both emit their planes in it.
    */
  val chainOrder: Seq[String] = Seq("fov", "crop", "slice", "stack")

  /** W4: dense renumber of one frame's labels to startVal..n,
    * preserving sort order of the original ids.
    */
  def relabelArray(labels: Array[Int], startVal: Int = 1): Array[Int] = {
    val distinct = labels.filter(_ != 0).distinct.sorted
    val remap = distinct.zipWithIndex.map { case (id, i) => id -> (startVal + i) }.toMap
    labels.map(l => if (l == 0) 0 else remap(l))
  }

  def allFrames(ds: Dataset[ImagePlane]): Dataset[ImagePlane] = {
    implicit val enc = ds.encoder
    ds.map(p => p.copy(labels = relabelArray(p.labels)))
  }

  /** W3: order-preserving renumber over the distinct ids of the whole
    * fov (all stacks/crops/slices of the group see one mapping).
    */
  def preserveRelationships(ds: Dataset[ImagePlane]): Dataset[ImagePlane] = {
    implicit val enc = ds.encoder
    import ds.sparkSession.implicits._
    ds.groupByKey(_.fov).flatMapGroups { (_, it) =>
      val planes = it.toSeq
      val distinct = planes.flatMap(_.labels.filter(_ != 0)).distinct.sorted
      val remap = distinct.zipWithIndex.map { case (id, i) => id -> (1 + i) }.toMap
      planes.map(p => p.copy(labels = p.labels.map(l => if (l == 0) 0 else remap(l))))
    }
  }

  /** J2/W2: frame-chain propagation. Frame 0 is densely relabeled;
    * each cell of frame t+1 takes the id of its best-IOU match in the
    * (already relabeled) frame t when IOU >= threshold, greedy
    * best-first with one-to-one assignment; unmatched cells get fresh
    * ids above everything seen (relabel.py:97-276 semantics).
    *
    * The input is hash-partitioned by fov and sorted by [[chainOrder]]
    * within each partition; over an input already so (the output of
    * [[Reconstruct.reconstructFromNpzDir]], or of this method) Spark
    * plans neither the exchange nor the sort. The output is
    * hash-clustered by fov, in [[chainOrder]] ([[KeyedMap]]).
    */
  def predictRelationships(ds: Dataset[ImagePlane], threshold: Double = 0.1)
      : Dataset[ImagePlane] = {
    implicit val enc = ds.encoder
    import org.apache.spark.sql.functions.col
    // secondary sort instead of groupByKey + toSeq: the chain only ever
    // needs (prev, cur), so one streaming pass holds TWO planes per
    // task — a deep time series (10k frames) costs the same task
    // memory as a 2-frame one
    val sorted = ds.repartition(col("fov")).sortWithinPartitions(chainOrder.map(col): _*)
    KeyedMap.mapPartitions(sorted, "fov", chainOrder) { it =>
      new Iterator[ImagePlane] {
        private var prevFov: String = null
        private var prev: ImagePlane = _
        private var nextId = 0
        def hasNext: Boolean = it.hasNext
        def next(): ImagePlane = {
          val cur = it.next()
          if (cur.fov != prevFov) {
            prevFov = cur.fov
            prev = cur.copy(labels = relabelArray(cur.labels))
            nextId = (0 +: prev.labels.toSeq).max + 1
          } else {
            val (linked, maxUsed) = linkFrames(prev.labels, cur.labels, threshold, nextId)
            nextId = math.max(nextId, maxUsed + 1)
            prev = cur.copy(labels = linked)
          }
          prev
        }
      }
    }
  }

  private[ops] def propagateChain(planes: Seq[ImagePlane], threshold: Double)
      : Seq[ImagePlane] = {
    if (planes.isEmpty) return planes
    val out = scala.collection.mutable.ArrayBuffer.empty[ImagePlane]
    var prev = planes.head.copy(labels = relabelArray(planes.head.labels))
    var nextId = (0 +: prev.labels.toSeq).max + 1
    out += prev
    planes.tail.foreach { cur =>
      val (linked, maxUsed) = linkFrames(prev.labels, cur.labels, threshold, nextId)
      nextId = math.max(nextId, maxUsed + 1)
      prev = cur.copy(labels = linked)
      out += prev
    }
    out.toSeq
  }

  /** Greedy IOU matching between one relabeled frame and the next raw
    * frame. Returns the next frame's relabeled mask and the max id used.
    */
  private[ops] def linkFrames(prevLabels: Array[Int], curLabels: Array[Int],
                              threshold: Double, freshStart: Int): (Array[Int], Int) = {
    require(prevLabels.length == curLabels.length, "frame size mismatch")
    val inter = scala.collection.mutable.Map.empty[(Int, Int), Int]
    val areaPrev = scala.collection.mutable.Map.empty[Int, Int]
    val areaCur = scala.collection.mutable.Map.empty[Int, Int]
    var i = 0
    while (i < prevLabels.length) {
      val a = prevLabels(i)
      val b = curLabels(i)
      if (a != 0) areaPrev.updateWith(a)(v => Some(v.getOrElse(0) + 1))
      if (b != 0) areaCur.updateWith(b)(v => Some(v.getOrElse(0) + 1))
      if (a != 0 && b != 0) inter.updateWith((a, b))(v => Some(v.getOrElse(0) + 1))
      i += 1
    }
    val pairs = inter.toSeq.map { case ((a, b), n) =>
      val iou = n.toDouble / (areaPrev(a) + areaCur(b) - n)
      (a, b, iou)
    }.filter(_._3 >= threshold)
      // deterministic greedy order: best IOU first, ids as tiebreak
      .sortBy { case (a, b, iou) => (-iou, a, b) }
    val takenPrev = scala.collection.mutable.Set.empty[Int]
    val assign = scala.collection.mutable.Map.empty[Int, Int]
    pairs.foreach { case (a, b, _) =>
      if (!takenPrev.contains(a) && !assign.contains(b)) {
        takenPrev += a
        assign(b) = a
      }
    }
    var fresh = freshStart
    areaCur.keys.toSeq.sorted.foreach { b =>
      if (!assign.contains(b)) { assign(b) = fresh; fresh += 1 }
    }
    val outArr = curLabels.map(l => if (l == 0) 0 else assign(l))
    val maxUsed = math.max(freshStart - 1, (0 +: outArr.toSeq).max)
    (outArr, maxUsed)
  }
}
