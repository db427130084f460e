package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Dump each query's result under `outDir/<name>`; returns the map of
    * failures (name → error). A query that fails to dump must be LOUD:
    * round 11's driver gate read "84/84 pass" while 14 queries crashed
    * during construction, because failures were stderr-only and the
    * artifact silently shrank. Every failure is recorded in
    * `_errors.json` (written even when empty, so its absence means the
    * dump itself died) and `main` exits non-zero, so the gate counts
    * crashes as failures, never as skips.
    */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
           queries: Seq[(String, (SparkSession, String) => DataFrame)])
      : Map[String, String] = {
    new java.io.File(outDir).mkdirs()
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(500)}"
        failures(name) = msg
        System.err.println(s"[verify] $name failed: $msg")
      }
    }
    val errJson = failures
      .map { case (k, v) => s"${jsonStr(k)}: ${jsonStr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_errors.json"), errJson)
    failures.toMap
  }

  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in builder-authored SQL would otherwise make the
    * driver's json.load fail and silently zero the round's correctness.
    */
  def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // Optional comma-separated allowlist for targeted replays (e.g. the
    // sf1 dedup spot-pass); unset ⇒ full dump, the driver's contract. A
    // name that is not registered fails here, before any work.
    val selected = SparkEntry.select(SparkEntry.allowlist("SPARK_GRAFT_VERIFY_ONLY"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.core.GraftSession
      .builder(master = s"local[$cpus]", shufflePartitions = cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Spark session confs (e.g. AQE or shuffle settings) for a trial
    // run without a code change: "k1=v1;k2=v2" — same hook as Bench. Every
    // applied override is echoed to stderr AND recorded in the output
    // dir (_extra_conf.json, written even when empty), so a gate
    // artifact is self-describing about non-default config.
    val extraConf = graft.core.GraftSession.applyExtraConf(spark)
    val failures = dump(spark, sfDir, outDir, selected.map(d => d.name -> d.build))
    Files.writeString(Paths.get(s"$outDir/_extra_conf.json"),
      extraConf.map { case (k, v) => s"${jsonStr(k)}: ${jsonStr(v)}" }
        .mkString("{", ",", "}"))
    val json = selected
      .map(d => s"${jsonStr(d.name)}: ${jsonStr(d.oracle)}").mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failures.nonEmpty) {
      System.err.println(
        s"[verify] FAILED: ${failures.size} of ${selected.size} queries crashed: " +
          failures.keys.mkString(", "))
      sys.exit(1)
    }
  }
}
