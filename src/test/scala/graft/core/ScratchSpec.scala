package graft.core

import graft.SparkSpec

class ScratchSpec extends SparkSpec {

  test("unset conf: driver-local temp dir (the local[*] default)") {
    spark.conf.unset("spark.graft.scratchDir")
    val d = Scratch.dir(spark, "scratch_spec")
    assert(new java.io.File(d).isDirectory, s"$d exists")
    assert(new java.io.File(d).getName.startsWith("scratch_spec"))
  }

  test("conf set: fresh scheme-qualified subdir under the shared base") {
    val base = graft.TempDirs.create("scratch_base")
      .toFile.getAbsolutePath
    try {
      spark.conf.set("spark.graft.scratchDir", base)
      val d1 = Scratch.dir(spark, "drain")
      val d2 = Scratch.dir(spark, "drain")
      assert(d1 != d2, "allocations are unique")
      assert(d1.startsWith("file:"), s"qualified with a scheme: $d1")
      Seq(d1, d2).foreach { d =>
        val p = new org.apache.hadoop.fs.Path(d)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        assert(fs.getFileStatus(p).isDirectory, s"$d created under $base")
        assert(d.contains(new java.io.File(base).getName), "under the base")
      }
      // a distributed write + read round-trips through the allocation
      import spark.implicits._
      val out = Scratch.dir(spark, "rt")
      Seq(1L, 2L, 3L).toDF("x").write.mode("overwrite").parquet(out)
      assert(spark.read.parquet(out).count() == 3)
    } finally spark.conf.unset("spark.graft.scratchDir")
  }

  test("every allocation is registered for recursive deletion at JVM exit") {
    val base = graft.TempDirs.create("scratch_exit")
      .toFile.getAbsolutePath
    val shared =
      try { spark.conf.set("spark.graft.scratchDir", base); Scratch.dir(spark, "drain") }
      finally spark.conf.unset("spark.graft.scratchDir")
    val dirs = Seq(shared, Scratch.dir(spark, "drain"), Scratch.local(spark, "slice"))
    dirs.foreach { d =>
      val p = new org.apache.hadoop.fs.Path(
        if (d.contains(":")) d else new java.io.File(d).toURI.toString)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // cancel reports whether the path was registered; re-register it
      assert(fs.cancelDeleteOnExit(p), s"$d is not registered for deletion")
      assert(fs.deleteOnExit(p))
    }
  }
}
