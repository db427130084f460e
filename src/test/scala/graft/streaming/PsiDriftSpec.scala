package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.{SparkEntry, SparkSpec}

/** Contract spec for the PSI drift pair: the append-mode stream —
  * driven over three time-contiguous slices so the watermark really
  * advances across micro-batches — must equal the batch census
  * restricted to watermark-finalized windows (the emission law), its
  * state must stay bounded by the open-window count, and the anomalous
  * hour must carry a strictly larger PSI than a normal one (both
  * replayed with scalar math).
  */
class PsiDriftSpec extends SparkSpec {

  test("stream == batch under the emission law; state bounded; anomaly ranks top") {
    import spark.implicits._
    // 6 hours x 100 events: all value $1 (bucket 0) except hour 2,
    // which splits 50/50 between bucket 0 and bucket 18 ($450)
    def hourRows(h: Int) = (0 until 100).map { i =>
      val v = if (h == 2 && i >= 50) 450.0 else 1.0
      (h * 100L + i, Timestamp.valueOf(f"2024-01-01 $h%02d:30:00"), v)
    }

    val batchDir = graft.TempDirs.create("psi_batch").toFile.getAbsolutePath
    (0 until 6).flatMap(hourRows).toDF("event_id", "ts", "value")
      .coalesce(1).write.parquet(s"$batchDir/events.parquet")
    val batch = SparkEntry.queries("q_evt_psi")(spark, batchDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(batch.length == 6)

    // scalar replay of hour 0 (pure bucket 0) and hour 2 (the anomaly)
    def psi(b: Map[Int, Long], r: Map[Int, Long]): Long = {
      val n = b.values.sum; val rt = r.values.sum
      (0 until 20).map { i =>
        val p = (b.getOrElse(i, 0L) + 1).toDouble / (n + 20)
        val q = (r.getOrElse(i, 0L) + 1).toDouble / (rt + 20)
        math.round(1e6 * (p - q) * math.log(p / q))
      }.sum
    }
    val ref = Map(0 -> 550L, 18 -> 50L)
    val psiNormal = psi(Map(0 -> 100L), ref)
    val psiAnomaly = psi(Map(0 -> 50L, 18 -> 50L), ref)
    assert(batch(0)._3 == psiNormal && batch(2)._3 == psiAnomaly,
      s"scalar replay mismatch: ${batch.toSeq} vs $psiNormal/$psiAnomaly")
    assert(psiAnomaly > psiNormal, "the anomalous hour must rank above a normal one")

    // three time-contiguous slices (hours 0-1 / 2-3 / 4-5), ascending
    // mtimes -> one micro-batch each; the watermark advances between
    val streamDir = graft.core.Scratch.local(spark, "psi_stream")
    Seq(0 to 1, 2 to 3, 4 to 5).zipWithIndex.foreach { case (hs, i) =>
      val tmp = graft.core.Scratch.local(spark, s"psi_slice$i")
      hs.flatMap(hourRows).toDF("event_id", "ts", "value")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      val dest = Paths.get(streamDir, f"slice_$i%03d.parquet")
      Files.move(part.toPath, dest, StandardCopyOption.REPLACE_EXISTING)
      dest.toFile.setLastModified(1700000000000L + i * 10000L)
    }
    val run = StreamOps.psiDriftAppend(spark, streamDir)
    val stream = run.result.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    // max ts 05:30, watermark 2 h -> 03:30: hours 0..2 finalized (end <= wm)
    assert(stream.toSeq == batch.toSeq.take(3),
      s"stream ${stream.toSeq} != finalized batch prefix ${batch.toSeq.take(3)}")
    assert(run.maxStateRows <= 6,
      s"state ${run.maxStateRows} exceeds the open-window bound 6")
  }
}
