package graft.tools

import graft.core.ImagePlane
import graft.ops.{CropOps, Relabel}
import graft.streaming.StreamOps
import org.apache.spark.sql.functions._

/** EP2 at image scale — the reference's actual workload shape
  * (reference caliban_toolbox: crop → save → stitch → relabel, EP2 in
  * SURVEY §6) run once at a synthetic N-FOV scale so BASELINE.md
  * carries a recorded number for the composition, not just the
  * small-fixture specs.
  *
  * Three timed phases over N 60x60 grid-labeled FOVs (25 crops each,
  * 24x24 @ 0.5 overlap — the q_img_crop_roundtrip geometry):
  *
  *  1. GEN: distributed crop generation (range → gridLabels →
  *     cropOne per partition) persisted once, then written as
  *     `nFiles` arrival-group parquet files with ascending mtimes and
  *     staggered event-time minutes — the work-unit arrival layout
  *     the streaming stitcher consumes.
  *  2. STREAM: incrementalStitchAppend drains the files one
  *     micro-batch each; every canvas must stitch with the batch
  *     census invariants (36 cells, 2916 nonzero px), none may
  *     quarantine; the state high-water records the bounded open-group
  *     footprint.
  *  3. BATCH: the batch EP2 spine over the same crops — stitchCrops +
  *     dense per-frame relabel — as the throughput twin.
  *
  * Usage: runMain graft.tools.Ep2Bench [nFovs] [nFiles]   (1000, 20)
  */
object Ep2Bench {
  def main(args: Array[String]): Unit = {
    val nFovs = args.headOption.map(_.toInt).getOrElse(1000)
    val nFiles = args.drop(1).headOption.map(_.toInt).getOrElse(20)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.GraftSession
      .builder(master = s"local[$cpus]", shufflePartitions = cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val plan = CropOps.planCrops(60, 60, 24, 24, 0.5)
    def loadavg(): Double =
      try {
        val src = scala.io.Source.fromFile("/proc/loadavg")
        try src.mkString.split(" ")(0).toDouble finally src.close()
      } catch { case _: Throwable => -1.0 }
    val load0 = loadavg()

    // ---- phase 1: distributed generation + arrival-group layout ----
    val t0 = System.nanoTime()
    val crops = spark.range(nFovs).repartition(cpus.toInt)
      .flatMap { f =>
        val p = ImagePlane.gridLabels(
          ImagePlane("fov" + (f + 1), 0, 0, 0, 60, 60, Seq("channel1"),
            new Array[Float](3600), new Array[Int](3600)), cellSize = 10)
        CropOps.cropOne(p, plan).map { c =>
          // each FOV's crops split across TWO adjacent arrival files
          // (even crops minute g, odd crops minute g+1, clamped at the
          // final file to avoid a late-wraparound), so every group is
          // OPEN across a micro-batch boundary and the recorded state
          // high-water measures genuine cross-batch buffering instead
          // of groups completing inside one trigger
          val g = (f % nFiles).toInt
          val grp = if (c.crop % 2 == 0) g else math.min(g + 1, nFiles - 1)
          (c.fov, c.stack, c.crop, c.slice, c.nRows, c.nCols, c.channels,
            c.pixels, c.labels,
            new java.sql.Timestamp(1700000000000L + grp * 60000L),
            grp)
        }
      }
      .toDF("fov", "stack", "crop", "slice", "nRows", "nCols", "channels",
        "pixels", "labels", "ts", "grp")
      .persist()
    val nCrops = crops.count()
    // Scratch-routed for consistency; the mtime-ordered replay below
    // still requires a LOCAL path, which is Scratch's unset-conf
    // default — this bench is a local-mode driver by design.
    val streamDir = graft.core.Scratch.dir(spark, "ep2bench")
    (0 until nFiles).foreach { g =>
      val tmp = java.nio.file.Files.createTempDirectory(s"ep2u$g")
        .toFile.getAbsolutePath
      crops.filter(col("grp") === g).drop("grp")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .foreach { part =>
          val dest = java.nio.file.Paths.get(streamDir, f"unit_$g%03d.parquet")
          java.nio.file.Files.move(part.toPath, dest,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          dest.toFile.setLastModified(1700000000000L + g * 10000L)
        }
    }
    val genSec = (System.nanoTime() - t0) / 1e9

    // ---- phase 2: streamed incremental stitch ----
    val t1 = System.nanoTime()
    val run = StreamOps.incrementalStitchAppend(spark, streamDir, plan,
      quarantineMinutes = 3, watermarkDelay = "2 minutes")
    val census = run.result.collect()
    val streamSec = (System.nanoTime() - t1) / 1e9
    val stitched = census.count(_.getAs[String]("status") == "stitched")
    val quarantined = census.length - stitched
    val badCensus = census.count { r =>
      r.getAs[String]("status") == "stitched" &&
        (r.getAs[Long]("n_cells") != 36L || r.getAs[Long]("n_nonzero") != 2916L)
    }

    // ---- phase 3: batch stitch + dense relabel twin ----
    val t2 = System.nanoTime()
    val planes = spark.read.parquet(streamDir)
      .select("fov", "stack", "crop", "slice", "nRows", "nCols",
        "channels", "pixels", "labels")
      .as[ImagePlane]
    val relabeled = Relabel.allFrames(CropOps.stitchCrops(planes, plan))
    val batchCanvases = relabeled
      .map(p => (p.labels.max, p.labels.count(_ != 0)))
      .toDF("max_label", "n_nonzero")
      .agg(count(lit(1)), min("max_label"), max("max_label"),
        min("n_nonzero"), max("n_nonzero"))
      .head()
    val batchSec = (System.nanoTime() - t2) / 1e9
    crops.unpersist()

    println(
      s"""{"metric":"ep2_scale","n_fovs":$nFovs,"n_crops":$nCrops,"n_files":$nFiles,""" +
      s""""gen_sec":$genSec,"stream_stitch_sec":$streamSec,""" +
      s""""stream_state_rows":${run.maxStateRows},"stitched":$stitched,""" +
      s""""quarantined":$quarantined,"bad_census":$badCensus,""" +
      s""""batch_stitch_relabel_sec":$batchSec,""" +
      s""""batch_canvases":${batchCanvases.getLong(0)},""" +
      s""""relabel_minmax":[${batchCanvases.getInt(1)},${batchCanvases.getInt(2)}],""" +
      s""""nonzero_minmax":[${batchCanvases.getInt(3)},${batchCanvases.getInt(4)}],""" +
      s""""load_start":$load0,"load_end":${loadavg()}}""")
    spark.stop()
  }
}
