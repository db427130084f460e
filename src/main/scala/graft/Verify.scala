package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** The correctness gate's dump: each registered query's result →
  * parquet under `<outDir>/<name>`, plus `oracle_sql.json` (the DuckDB
  * replay of each) and `_errors.json`, which `tools/check_correctness.py`
  * compares and counts. It runs on the engine's default session confs;
  * no environment variable overrides them.
  *
  * Usage: runMain graft.Verify <sfDir> <outDir>
  *
  * `SPARK_GRAFT_VERIFY_ONLY=q_a,q_b` dumps a named subset (a name that
  * is not registered fails before any work), and `SPARK_GRAFT_CPUS`
  * sets the local core count (default 4). Timing is not measured here:
  * `perfbench/` is the engine's one timing harness.
  */
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
    // unset ⇒ the full dump the correctness gate compares
    val selected = SparkEntry.select(sys.env.get("SPARK_GRAFT_VERIFY_ONLY").map(SparkEntry.nameList))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.core.GraftSession
      .builder(master = s"local[$cpus]", shufflePartitions = cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val failures = dump(spark, sfDir, outDir, selected.map(d => d.name -> d.build))
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
