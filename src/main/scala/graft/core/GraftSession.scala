package graft.core

import org.apache.spark.sql.SparkSession

/** Canonical SparkSession factory for the engine.
  *
  * Local-mode defaults sized for the driver harness (local[32],
  * 128 GiB box): shuffle partitions match core count instead of the
  * 200 default, AQE is on for runtime re-planning (skew joins,
  * partition coalescing — the knobs that matter unchanged on a real
  * cluster), and the session timezone is pinned to UTC for oracle
  * parity. `nanosAsLong` lets us ingest nanosecond parquet timestamps
  * (the `events` table) which Spark otherwise rejects; graft.queries.Q
  * rebases them to microsecond TimestampType at load.
  *
  * The `file` scheme is mapped to [[NioLocalFileSystem]]
  * (`fs.file.impl`) and [[NioLocalFs]] (`fs.AbstractFileSystem.file.impl`
  * for FileContext users such as stream checkpoints). They are the
  * stock checksummed local FileSystems, except that permissions are set
  * in-process instead of by a `chmod` child process per file and per
  * `.crc` sidecar. Other schemes (`s3a://`, `hdfs://`) keep their own
  * FileSystems. Caveat: Hadoop caches FileSystem instances by scheme,
  * authority and user, not by conf. A `file://` FileSystem resolved in
  * this JVM from a conf without the mapping, before the first session
  * resolves one, stays cached as the stock class; `FileSystem.newInstance`
  * and FileContext resolve from the conf they are given.
  */
object GraftSession {

  def builder(master: String = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]",
              shufflePartitions: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
      : SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.compression.codec", "zstd")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl", classOf[NioLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[NioLocalFs].getName)
}
