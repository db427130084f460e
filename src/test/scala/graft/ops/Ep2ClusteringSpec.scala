package graft.ops

import graft.SparkSpec
import graft.core.ImagePlane
import graft.plans.KeyedMapExec
import graft.sources.Npz
import org.apache.spark.sql.{Dataset, Row}
import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_COL, ShuffleExchangeExec}
import org.apache.spark.sql.functions.{col, hash, lit, pmod, spark_partition_id}
import org.apache.spark.storage.StorageLevel

/** EP2 (NPZ units -> reconstructed planes -> linked planes -> track
  * table) behind one fov exchange. The reconstruct and link kernels
  * run through `plans.KeyedMap`, which reports that their output is
  * still hash-clustered by fov and sorted in `Relabel.chainOrder`; the
  * specs pin the plan shapes that follow from it, check both claims on
  * the rows, and check that an input of unknown layout keeps the link's
  * own exchange.
  */
class Ep2ClusteringSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val channels = Seq("c0", "c1")

  /** `nFovs` movies of `stackLen` frames: square cells drifting one
    * pixel right per frame under ids that change every frame, and one
    * cell that appears at frame 2, so linking has work to do.
    */
  private def movies(nFovs: Int, stackLen: Int, n: Int): Seq[ImagePlane] =
    for {
      f <- 0 until nFovs
      t <- 0 until stackLen
    } yield {
      val labels = new Array[Int](n * n)
      def cell(r0: Int, c0: Int, id: Int): Unit =
        for (r <- r0 until r0 + 5; c <- c0 + t until c0 + t + 5 if c < n) labels(r * n + c) = id
      cell(2, 1, 10 + (3 * t + f) % 7)
      cell(10, 3, 20 + (5 * t) % 9)
      if (t >= 2) cell(14, 9, 40 + t)
      ImagePlane(s"fov${f + 1}", t, 0, 0, n, n, channels,
        Array.tabulate(channels.length * n * n)(i => (i + 31 * t + 7 * f).toFloat), labels)
    }

  /** Crop and slice the movies into NPZ units under a fresh dir. */
  private def writeUnits(planes: Seq[ImagePlane], nFovs: Int, stackLen: Int, n: Int)
      : (String, Reconstruct.ReconstructionPlan) = {
    val dir = graft.TempDirs.create("ep2_clustering").toFile.getAbsolutePath
    val (units, plan) = Reconstruct.cropAndSlice(ImagePlane.toDataset(spark, planes),
      n, n, stackLen, Some((10, 10, 0.2)), Some((3, 1)),
      (1 to nFovs).map(f => s"fov$f"), channels)
    Npz.saveNpzsForCaliban(units, dir, "include")
    (dir, plan)
  }

  private lazy val (unitDir, plan) = writeUnits(movies(3, 6, 20), 3, 6, 20)

  private def recon(): Dataset[ImagePlane] = Reconstruct.reconstructFromNpzDir(spark, unitDir, plan)

  private def exchanges(ds: Dataset[_]): Int =
    collect(ds.queryExecution.executedPlan) { case e: ShuffleExchangeExec => e }.size

  private def sorts(ds: Dataset[_]): Int =
    collect(ds.queryExecution.executedPlan) { case s: SortExec => s }.size

  private def byKey(planes: Seq[ImagePlane]): Map[(String, Int), ImagePlane] = {
    val m = planes.map(p => (p.fov, p.stack) -> p).toMap
    assert(m.size == planes.length, "one plane per (fov, stack)")
    m
  }

  private def assertSame(got: Seq[ImagePlane], want: Seq[ImagePlane]): Unit = {
    val (g, w) = (byKey(got), byKey(want))
    assert(g.keySet == w.keySet)
    w.foreach { case (k, o) =>
      val p = g(k)
      assert((p.crop, p.slice, p.nRows, p.nCols, p.channels) ==
        (o.crop, o.slice, o.nRows, o.nCols, o.channels), s"header of $k")
      assert(p.pixels.sameElements(o.pixels), s"pixels of $k")
      assert(p.labels.sameElements(o.labels), s"labels of $k")
    }
  }

  /** The chain run per fov on the driver, in the link's frame order. */
  private def chained(planes: Seq[ImagePlane]): Seq[ImagePlane] =
    planes.groupBy(_.fov).values.toSeq.flatMap(ps =>
      Relabel.propagateChain(ps.sortBy(p => (p.crop, p.slice, p.stack)), 0.1))

  /** Runs `body` with AQE partition coalescing set to `on`, restoring
    * the session's value after.
    */
  private def withCoalescing[T](on: Boolean)(body: => T): T = {
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.getAll.get(key)
    spark.conf.set(key, on.toString)
    try body
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("reconstruct then link plans one exchange; the track table over them plans none") {
    val linked = Relabel.predictRelationships(recon())
    val planes = linked.collect().toSeq
    assert(planes.length == 3 * 6)
    assert(exchanges(linked) == 1, s"exchanges in:\n${linked.queryExecution.executedPlan}")
    assert(sorts(linked) == 1, s"sorts in:\n${linked.queryExecution.executedPlan}")
    assertSame(planes, chained(recon().collect().toSeq))

    // unpersisted, the track table reads the linked planes once: one
    // stitch and one link kernel, behind the units' exchange, which is
    // the only kind planned
    val direct = Tracking.trackTable(linked)
    direct.collect()
    val kernels = collect(direct.queryExecution.executedPlan) { case k: KeyedMapExec => k }
    assert(kernels.size == 2, s"kernels in:\n${direct.queryExecution.executedPlan}")
    val origins = collect(direct.queryExecution.executedPlan) { case e: ShuffleExchangeExec => e.shuffleOrigin }
    assert(origins.nonEmpty && origins.forall(_ == REPARTITION_BY_COL),
      s"exchanges in:\n${direct.queryExecution.executedPlan}")

    val kept = linked.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val tracks = Tracking.trackTable(kept)
      val rows = tracks.collect()
      assert(exchanges(tracks) == 0, s"exchanges in:\n${tracks.queryExecution.executedPlan}")
      val fromDriver = Tracking.trackTable(ImagePlane.toDataset(spark, planes)).collect()
      assert(rows.nonEmpty && rows.map(_.toString).sorted.sameElements(fromDriver.map(_.toString).sorted))
    } finally kept.unpersist()
  }

  test("the reported clustering and order hold on the rows") {
    val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
    // coalescing merges hash partitions, so the partition id is the
    // hash bucket only while it is off
    withCoalescing(on = false) {
      Seq("reconstructed" -> recon(), "linked" -> Relabel.predictRelationships(recon())).foreach {
        case (what, ds) =>
          val parts = ds.select(spark_partition_id(), pmod(hash(col("fov")), lit(n)),
            col("fov"), col("crop"), col("slice"), col("stack")).rdd.glom().collect()
          val rows = parts.flatten
          assert(rows.length == 3 * 6, what)
          rows.foreach { r =>
            assert(r.getInt(0) == r.getInt(1), s"$what: ${r.getString(2)} in partition ${r.getInt(0)}")
          }
          def key(r: Row) = (r.getString(2), r.getInt(3), r.getInt(4), r.getInt(5))
          val order = Ordering[(String, Int, Int, Int)]
          parts.foreach { p =>
            val keys = p.toSeq.map(key)
            assert(keys == keys.sorted(order), s"$what: partition out of order: $keys")
          }
      }
    }
  }

  test("predictRelationships keeps its own exchange over inputs of unknown layout") {
    val planes = movies(2, 5, 20)
    val fromLocal = Relabel.predictRelationships(ImagePlane.toDataset(spark, planes))
    assertSame(fromLocal.collect().toSeq, chained(planes))
    assert(exchanges(fromLocal) == 1, s"exchanges in:\n${fromLocal.queryExecution.executedPlan}")
    assert(sorts(fromLocal) == 1)

    val want = chained(recon().collect().toSeq)
    // the optimizer drops a round robin right under the link's
    // repartition by fov (CollapseRepartition), which leaves the units'
    // exchange as the only one
    val collapsed = Relabel.predictRelationships(recon().repartition(3))
    assertSame(collapsed.collect().toSeq, want)
    assert(exchanges(collapsed) == 1, s"exchanges in:\n${collapsed.queryExecution.executedPlan}")
    // with a typed map between them the round robin stays, and the link
    // plans its own exchange by fov and its own sort over it
    implicit val enc = recon().encoder
    val reshuffled = Relabel.predictRelationships(recon().repartition(3).map(identity))
    assertSame(reshuffled.collect().toSeq, want)
    assert(exchanges(reshuffled) == 3, s"exchanges in:\n${reshuffled.queryExecution.executedPlan}")
    assert(sorts(reshuffled) == 2)
  }

  test("linked planes are the same with AQE partition coalescing on and off") {
    val on = withCoalescing(on = true)(Relabel.predictRelationships(recon()).collect().toSeq)
    val off = withCoalescing(on = false)(Relabel.predictRelationships(recon()).collect().toSeq)
    assertSame(on, off)
  }
}
