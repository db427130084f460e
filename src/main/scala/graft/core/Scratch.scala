package graft.core

import org.apache.hadoop.fs.Path
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
  *  - unset (the local[*] default): [[local]], a fresh directory
  *    under `java.io.tmpdir`, correct in local mode.
  *
  * Same class of contract as the round-15 pagerank fix (iterative
  * lineage truncation via `localCheckpoint` instead of a schemeless
  * /tmp checkpoint dir) — extended to every registered-path scratch
  * write. The file-REPLAY harnesses (sliceParquet / timeSliceParquet /
  * ScaleQueries.stitchStreamFixture) call [[local]] directly: they
  * depend on POSIX mtime manipulation to order micro-batches and are
  * local-mode test drivers by design.
  *
  * Retention: every allocation is registered for recursive deletion
  * when the JVM exits (Hadoop `FileSystem.deleteOnExit` on the path's
  * cached FileSystem, processed by Hadoop's shutdown hook after
  * Spark's own). Nothing is deleted earlier: the DataFrames a drain
  * returns read their directory lazily, so its lifetime is the
  * consumer's. A configured shared base should still point at TTL'd
  * storage (object-store lifecycle rule or a tmpwatch'd mount) for
  * JVMs that die without running their shutdown hooks.
  */
object Scratch {

  /** Allocate a fresh scratch directory under the configured shared
    * base (or a [[local]] temp dir when unconfigured); returns a path
    * string usable by any Hadoop-FileSystem-aware reader/writer.
    */
  def dir(spark: SparkSession, prefix: String): String =
    spark.conf.getOption("spark.graft.scratchDir") match {
      case Some(base) if base.nonEmpty =>
        val p = new Path(base, s"$prefix-${java.util.UUID.randomUUID()}")
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.mkdirs(p)
        // qualify so downstream string round-trips keep the scheme
        val q = fs.makeQualified(p)
        fs.deleteOnExit(q)
        q.toString
      case _ => local(spark, prefix)
    }

  /** A fresh directory under `java.io.tmpdir`, registered for recursive
    * deletion at JVM exit; returns its absolute path.
    */
  def local(spark: SparkSession, prefix: String): String = {
    val f = java.nio.file.Files.createTempDirectory(prefix).toFile
    val p = new Path(f.toURI.toString)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).deleteOnExit(p)
    f.getAbsolutePath
  }
}
