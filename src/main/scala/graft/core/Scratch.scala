package graft.core

import org.apache.spark.sql.SparkSession

/** Scratch-directory contract for DISTRIBUTED intermediate writes.
  *
  * Several registered query paths materialize intermediate data that
  * executors write and a later stage reads back: the streaming drain
  * (graft.streaming.StreamOps.drain), the NPZ round-trip store
  * (q_npz_roundtrip), and the reconstruct/sink digest queries. On
  * local[*] a `java.nio` temp dir is correct —
  * executors share the driver's host — but on a real cluster a bare
  * `file:/tmp/...` path written from executors lands on each
  * executor's LOCAL disk and the read-back sees only the driver's
  * shard. This helper is the single resolution point:
  *
  *  - `spark.graft.scratchDir` set (the cluster deployment contract):
  *    a SHARED-filesystem base URI (HDFS / S3A / NFS). Each allocation
  *    is a fresh UUID-suffixed subdirectory created through the Hadoop
  *    `FileSystem` for the base's scheme, so every downstream
  *    Hadoop-aware writer/reader (parquet sinks, the NPZ sink's
  *    FileSystem writes) resolves to storage all executors can reach.
  *  - unset (the local[*] default): `Files.createTempDirectory`, the
  *    pre-round-16 behavior, correct in local mode and self-cleaning
  *    with /tmp.
  *
  * Same class of contract as the round-15 pagerank fix (iterative
  * lineage truncation via `localCheckpoint` instead of a schemeless
  * /tmp checkpoint dir) — extended to every registered-path scratch
  * write. NOT used by the file-REPLAY harnesses (sliceParquet /
  * timeSliceParquet / ScaleQueries.stitchStreamFixture): those depend
  * on POSIX mtime manipulation to order micro-batches and are
  * local-mode test drivers by design.
  */
object Scratch {

  /** Allocate a fresh scratch directory under the configured shared
    * base (or a local temp dir when unconfigured); returns a path
    * string usable by any Hadoop-FileSystem-aware reader/writer.
    *
    * Retention: allocations are NOT deleted here — the DataFrames that
    * the drain returns read from them lazily, so their lifetime is the
    * consumer's. Local temp dirs go with /tmp; a configured
    * shared base should point at TTL'd storage (object-store lifecycle
    * rule or a tmpwatch'd mount), the standard contract for Spark
    * scratch space.
    */
  def dir(spark: SparkSession, prefix: String): String =
    spark.conf.getOption("spark.graft.scratchDir") match {
      case Some(base) if base.nonEmpty =>
        val p = new org.apache.hadoop.fs.Path(
          base, s"$prefix-${java.util.UUID.randomUUID()}")
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.mkdirs(p)
        // qualify so downstream string round-trips keep the scheme
        fs.makeQualified(p).toString
      case _ =>
        java.nio.file.Files.createTempDirectory(prefix)
          .toFile.getAbsolutePath
    }
}
