package perfbench

import graft.core.ImagePlane
import graft.dataset.DatasetBuilder
import graft.ops.{CropOps, Pipeline, Reconstruct, Relabel, SliceOps, Tracking}
import graft.sources.{Npz, PlaneStore}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Geometry of the synthetic movies. Every fov is a grid of square
  * cells, one per `pitch` x `pitch` slot; each cell walks at most one
  * pixel per frame and stays inside its slot, so cells never touch,
  * every frame holds every cell, and each planted cell is one track.
  */
final case class Movies(fovs: Int, frames: Int, rows: Int, cols: Int) {
  val pitch = 16
  val cell = 10
  val wander = 2
  val channels: Seq[String] = Seq("nuclear", "membrane")
  val cellsPerPlane: Int = (rows / pitch) * (cols / pitch)
  val crop = (64, 64, 0.2)
  val slice = (4, 1)
  val tile = 64
  val experiments = 2
  def planes: Int = fovs * frames
  def pixels: Long = planes.toLong * rows * cols
  def inputBytes: Long = pixels * (channels.size + 1) * 4L
  def tilesPerPlane: Int = (rows / tile) * (cols / tile)
  def fovName(f: Int): String = f"fov$f%03d"

  /** Cell offsets for one fov: a bounded random walk per cell. */
  private def walk(seed: Long, fov: Int): Array[Array[(Int, Int)]] = {
    val rng = new scala.util.Random(seed * 1000003L + fov)
    val pos = Array.fill(cellsPerPlane)((0, 0))
    Array.tabulate(frames) { _ =>
      var i = 0
      while (i < cellsPerPlane) {
        val (dr, dc) = pos(i)
        def step(v: Int): Int = math.max(-wander, math.min(wander, v + rng.nextInt(3) - 1))
        pos(i) = (step(dr), step(dc))
        i += 1
      }
      pos.clone()
    }
  }

  def plane(seed: Long, fov: Int, frame: Int, offsets: Array[(Int, Int)]): ImagePlane = {
    val n = rows * cols
    val labels = new Array[Int](n)
    val pixels = new Array[Float](channels.size * n)
    val noise = new scala.util.Random(seed ^ (fov.toLong << 20) ^ frame)
    val perRow = cols / pitch
    var id = 0
    while (id < cellsPerPlane) {
      val (dr, dc) = offsets(id)
      val r0 = (id / perRow) * pitch + (pitch - cell) / 2 + dr
      val c0 = (id % perRow) * pitch + (pitch - cell) / 2 + dc
      var r = r0
      while (r < r0 + cell) {
        var c = c0
        while (c < c0 + cell) { labels(r * cols + c) = id + 1; c += 1 }
        r += 1
      }
      id += 1
    }
    var i = 0
    while (i < n) {
      val inCell = labels(i) != 0
      pixels(i) = (if (inCell) 200f else 20f) + noise.nextInt(16)
      pixels(n + i) = (if (inCell) 80f else 10f) + noise.nextInt(16)
      i += 1
    }
    ImagePlane(fovName(fov), frame, 0, 0, rows, cols, channels, pixels, labels)
  }

  /** Generate the movies on the executors and write them to a plane store. */
  def write(spark: SparkSession, seed: Long, store: String): Unit = {
    import spark.implicits._
    val self = this
    val ds = spark.range(fovs).repartition(math.min(fovs, spark.sparkContext.defaultParallelism))
      .as[Long].flatMap { f =>
        val w = self.walk(seed, f.toInt)
        (0 until self.frames).iterator.map(t => self.plane(seed, f.toInt, t, w(t)))
      }
    PlaneStore.save(ds, store)
  }
}

/** The paper's curation path: EP1 (crop, slice, NPZ work units), EP2
  * (stitch back, relabel, track) and the train/val/test build.
  */
final class ImageCuration(val movies: Movies) extends Workload {
  private def m = movies
  private var store: String = _

  def prepare(ctx: Ctx): Map[String, Any] = {
    store = s"${ctx.inputs}/planes"
    m.write(ctx.spark, ctx.seed, store)
    Map("fovs" -> m.fovs, "frames" -> m.frames, "rows" -> m.rows, "cols" -> m.cols,
      "channels" -> m.channels.size, "planes" -> m.planes, "pixels" -> m.pixels,
      "bytes" -> m.inputBytes, "cells_per_plane" -> m.cellsPerPlane)
  }

  /** Seven steps, from the plane-store load to the combined NPZ. */
  val opsPerPass = 7

  def pass(ctx: Ctx, tr: Tracer, dir: String): Seq[(String, String)] = {
    release()
    last = Some((dir, chain(ctx, m, store, dir, tr)))
    Nil
  }

  private var last: Option[(String, Stats)] = None

  private final case class Stats(linked: Dataset[ImagePlane], train: DataFrame,
                                 tracks: DataFrame, npzFiles: Long, npzBytes: Long)

  private def metadata(spark: SparkSession, g: Movies): DataFrame = {
    import spark.implicits._
    (0 until g.experiments).map(e => (s"exp$e", s"tissue$e", s"platform${e % 2}"))
      .toDF("experiment", "tissue", "platform")
  }

  /** One pass. Untraced it is the plain public-API chain; traced, each
    * step's output is persisted inside its own span so no span
    * recomputes the steps before it.
    */
  private def chain(ctx: Ctx, g: Movies, store: String, dir: String, tr: Tracer): Stats = {
    val spark = ctx.spark
    import spark.implicits._
    val units = s"$dir/units"
    val fovs = (0 until g.fovs).map(g.fovName)
    def keep[T](ds: Dataset[T]): Dataset[T] =
      if (tr.enabled) { val p = ds.persist(StorageLevel.MEMORY_AND_DISK); p.count(); p } else ds
    val planes = tr.span("sources", "PlaneStore.load")(keep(PlaneStore.load(spark, store)))
    val (plan, log) =
      if (!tr.enabled)
        Pipeline.preAnnotationFlow(spark, planes, g.rows, g.cols, g.frames, g.crop,
          Some(g.slice), fovs, g.channels, units)
      else {
        val (cut, plan) = tr.span("ops", "Reconstruct.cropAndSlice")(
          Reconstruct.cropAndSlice(planes, g.rows, g.cols, g.frames, Some(g.crop),
            Some(g.slice), fovs, g.channels) match { case (u, p) => (keep(u), p) })
        tr.span("sources", "Npz.saveNpzsForCaliban") {
          Npz.saveNpzsForCaliban(cut, units)
          Reconstruct.savePlan(spark, units, plan)
        }
        val log = tr.span("jobs", "JobLog.createUploadLog") {
          val names = new java.io.File(units).list().filter(_.endsWith(".npz")).sorted.toSeq
          graft.jobs.JobLog.createUploadLog(names.toDF("filename"), "annotation",
            "units", 0L)
        }
        Seq(planes, cut).foreach(_.unpersist())
        (plan, log)
      }
    tr.span("jobs", "upload_log.collect")(log.collect())
    val recon =
      if (!tr.enabled) Reconstruct.reconstructFromNpzDir(spark, units)
      else {
        val p = tr.span("sources", "Reconstruct.loadPlan")(Reconstruct.loadPlan(spark, units))
        val raw = tr.span("sources", "Npz.loadNpzsWithGridDf")(keep(readUnits(spark, units, p)))
        val out = tr.span("ops", "stitchSlices+stitchCrops") {
          var ds = raw
          p.slicePlan.foreach(sp => ds = SliceOps.stitchSlices(ds, sp))
          p.cropPlan.foreach(cp => ds = CropOps.stitchCrops(ds, cp))
          keep(ds)
        }
        raw.unpersist()
        out
      }
    val linked = tr.span("ops", "Relabel.predictRelationships") {
      val l = Relabel.predictRelationships(recon).persist(StorageLevel.MEMORY_AND_DISK)
      if (tr.enabled) l.count()
      l
    }
    if (tr.enabled) recon.unpersist()
    tr.span("ops", "Tracking.trackTable")(
      Tracking.trackTable(linked).write.mode("overwrite").parquet(s"$dir/tracks"))
    val withExp = linked.toDF()
      .withColumn("experiment", concat(lit("exp"),
        (regexp_extract(col("fov"), "(\\d+)", 1).cast("int") % g.experiments).cast("string")))
    val train = tr.span("dataset", "DatasetBuilder.buildDataset")(
      keep(DatasetBuilder.buildDataset(spark, withExp, metadata(spark, g),
        outRows = g.tile, outCols = g.tile, minObjects = 1, seed = ctx.seed)))
    tr.span("sources", "Npz.createCombinedNpz")(
      Npz.createCombinedNpz(train.map(_.plane), s"$dir/combined.npz"))
    val npz = Option(new java.io.File(units).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".npz"))
    Stats(linked, train.toDF(), spark.read.parquet(s"$dir/tracks"),
      npz.length, npz.map(_.length).sum)
  }

  /** The NPZ read half of `Reconstruct.reconstructFromNpzDir`, so the
    * traced run can time the read apart from the stitch.
    */
  private def readUnits(spark: SparkSession, dir: String,
                        plan: Reconstruct.ReconstructionPlan): Dataset[ImagePlane] = {
    import spark.implicits._
    val nCrops = plan.cropPlan.map(_.numCrops).getOrElse(1)
    val sliceLens = plan.slicePlan.map(p => p.starts.indices.map(i => i -> (p.ends(i) - p.starts(i))))
      .getOrElse(Seq(0 -> plan.stackLen))
    val grid = spark.createDataset(plan.fovs).toDF("fov")
      .withColumn("crop", explode(lit((0 until nCrops).toArray)))
      .select(col("fov"), col("crop"), explode(typedlit(sliceLens)).as("sl"))
      .select(col("fov"), col("crop"), col("sl._1").as("slice"), col("sl._2").as("stackLen"))
    Npz.loadNpzsWithGridDf(spark, dir, grid,
      plan.cropPlan.map(_.cropRows).getOrElse(plan.nRows),
      plan.cropPlan.map(_.cropCols).getOrElse(plan.nCols), plan.channels)
  }

  /** The input planes, as the plane store holds them. */
  def planes(ctx: Ctx): DataFrame = PlaneStore.load(ctx.spark, store).toDF()

  /** Release what the last pass cached. */
  def release(): Unit = last.foreach { case (_, s) => s.linked.unpersist(); s.train.unpersist() }

  /** Split law of the reference's build.py (sklearn ceil semantics). */
  private def splitCounts(n: Long): (Long, Long, Long) = {
    if (n == 1) (1L, 0L, 0L)
    else if (n == 2) (1L, 1L, 0L)
    else if (n * 0.2 < 1) (n - 2, 1L, 1L)
    else {
      val rem = math.ceil(n * 0.2).toLong
      if (rem * 0.5 < 1) (n - rem - 1, rem, 1L)
      else { val t = math.ceil(rem * 0.5).toLong; (n - rem, rem - t, t) }
    }
  }

  /** Invariants of the last timed pass that hold for any seed. The
    * NPZ shapes are checked again, outside the JVM, by the launcher.
    */
  def check(ctx: Ctx): Seq[(String, String)] = {
    val s = last.map(_._2).getOrElse(return Seq("image_curation" -> "no pass ran"))
    val spark = ctx.spark
    import spark.implicits._
    val bad = Seq.newBuilder[(String, String)]
    def want(op: String, ok: Boolean, msg: => String): Unit = if (!ok) bad += op -> msg
    val area = m.cell * m.cell
    val (pitch, perRow, cells) = (m.pitch, m.cols / m.pitch, m.cellsPerPlane)
    // every cell covers its slot's centre pixel whatever its walk, so the
    // labels there name the planted cells
    val perPlane = s.linked.map { p =>
      val centres = (0 until cells).map { i =>
        p.labels(((i / perRow) * pitch + pitch / 2) * p.nCols + (i % perRow) * pitch + pitch / 2)
      }
      (p.fov, p.labels.count(_ != 0), p.labels.filter(_ != 0).distinct.length, centres)
    }.collect()
    want("reconstruct", perPlane.length == m.planes, s"${perPlane.length} planes, want ${m.planes}")
    perPlane.find(p => p._2 != m.cellsPerPlane * area || p._3 != m.cellsPerPlane).foreach { p =>
      want("relabel", ok = false, s"${p._1}: ${p._2} px in ${p._3} cells, " +
        s"want ${m.cellsPerPlane * area} px in ${m.cellsPerPlane} cells")
    }
    perPlane.groupBy(_._1).foreach { case (fov, frames) =>
      val ids = frames.map(_._4).distinct
      want("relabel", ids.length == 1 && ids.head.distinct.length == m.cellsPerPlane && !ids.head.contains(0),
        s"$fov: planted cells do not keep one label each across frames")
    }
    val tracks = s.tracks.select($"fov", $"label", size($"frames")).as[(String, Int, Int)].collect()
    want("track", tracks.length == m.fovs * m.cellsPerPlane,
      s"${tracks.length} tracks, want ${m.fovs * m.cellsPerPlane}")
    want("track", tracks.forall(_._3 == m.frames), "a planted cell is split across tracks")
    want("npz", s.npzFiles == npzUnits, s"${s.npzFiles} NPZ units, want $npzUnits")
    val splits = s.train.groupBy("experiment", "split").count().as[(String, String, Long)]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    (0 until m.experiments).foreach { e =>
      val n = (0 until m.fovs).count(_ % m.experiments == e).toLong * m.frames
      val (tr, va, te) = splitCounts(n)
      val got = Seq("train", "val", "test").map(k => splits.getOrElse((s"exp$e", k), 0L))
      val exp = Seq(tr, va, te).map(_ * m.tilesPerPlane)
      want("dataset", got == exp, s"exp$e splits $got, want $exp")
    }
    bad.result()
  }

  def npzUnits: Long = {
    val nSlices = SliceOps.planSlices(m.frames, m.slice._1, m.slice._2).starts.length
    m.fovs.toLong * CropOps.planCrops(m.rows, m.cols, m.crop._1, m.crop._2, m.crop._3).numCrops * nSlices
  }

  /** What the launcher needs to check the NPZ files of the last pass. */
  def outputs: Map[String, Any] = last.map { case (dir, s) =>
    Map("dir" -> dir, "npz_units" -> npzUnits, "combined_planes" -> m.planes.toLong * m.tilesPerPlane,
      "tile" -> m.tile, "crop_rows" -> m.crop._1, "crop_cols" -> m.crop._2,
      "channels" -> m.channels.size)
  }.getOrElse(Map.empty)

  def lastStats: Option[(Long, Long)] = last.map { case (_, s) => (s.npzFiles, s.npzBytes) }

  /** Training planes the last pass built. */
  def planesOut: Long = last.map(_._2.train.count()).getOrElse(0L)
}
