package graft.sources.v2

import graft.SparkSpec
import graft.core.ImagePlane
import graft.sources.Npz
import org.apache.spark.sql.functions._

class NpzDataSourceSpec extends SparkSpec {

  private lazy val dir: String = {
    val d = graft.TempDirs.create("npz_v2").toFile.getAbsolutePath
    val planes =
      for (f <- 1 to 4; st <- 0 until 2)
        yield ImagePlane.gridLabels(
          ImagePlane.blankPlanes(1, 1, 12, 12).head
            .copy(fov = s"fov$f", stack = st), 4)
    Npz.saveNpzsForCaliban(ImagePlane.toDataset(spark, planes), d, "include")
    d
  }

  private def read() =
    spark.read.format("graft.sources.v2.NpzDataSource").load(dir)

  test("reads all units with the declared schema") {
    val df = read()
    assert(df.schema.fieldNames.toSeq ==
      Seq("fov", "crop", "slice", "stack", "nRows", "nCols", "pixels", "labels"))
    val rows = df.collect()
    assert(rows.length == 8, "4 fovs x 2 stacks")
    assert(rows.forall(_.getAs[Seq[Int]]("labels").exists(_ != 0)))
    assert(NpzTable.lastPlannedFiles.get() == 4, "one partition per file")
  }

  test("EqualTo/In filters on fov prune the file list before reading") {
    val one = read().filter(col("fov") === "fov2")
    assert(one.collect().forall(_.getAs[String]("fov") == "fov2"))
    assert(NpzTable.lastPlannedFiles.get() == 1, "pushdown pruned to 1 file")
    val two = read().filter(col("fov").isin("fov1", "fov3"))
    assert(two.count() == 4)
    assert(NpzTable.lastPlannedFiles.get() == 2, "IN pruned to 2 files")
    // non-pushable predicates still evaluated correctly above the scan
    val res = read().filter(col("stack") === 1)
    assert(res.count() == 4)
    assert(NpzTable.lastPlannedFiles.get() == 4, "stack is not a file-level key")
  }

  test("column pruning skips tensor decode for metadata-only queries") {
    val meta = read().groupBy("fov").agg(count(lit(1)).as("n"))
    assert(meta.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      == Map("fov1" -> 2L, "fov2" -> 2L, "fov3" -> 2L, "fov4" -> 2L))
    val plan = meta.queryExecution.executedPlan.toString
    assert(!plan.contains("pixels"), s"pixels not in read schema:\n$plan")
  }

  test("decoded planes match the flatMap reader byte-for-byte") {
    val v2 = read().filter(col("fov") === "fov1").orderBy("stack")
      .collect().map(r => (r.getAs[Int]("stack"),
        r.getAs[scala.collection.Seq[Float]]("pixels").toSeq,
        r.getAs[scala.collection.Seq[Int]]("labels").toSeq))
    val v1 = Npz.readTrainingNpzDir(spark, dir).collect()
      .filter(_.fov == "fov_fov1_crop_0_slice_0").sortBy(_.stack)
    assert(v2.length == v1.length)
    v2.zip(v1).foreach { case ((st, px, lb), p) =>
      assert(st == p.stack)
      assert(px == p.pixels.toSeq)
      assert(lb == p.labels.toSeq)
    }
  }

  test("a session-only Hadoop key reaches the planner listing and the readers") {
    // `graftfs://` resolves only through the session conf (see
    // TiffHadoopConfSpec), so a bare `new Configuration()` in either
    // place fails with "No FileSystem for scheme"
    spark.conf.set("fs.graftfs.impl", classOf[GraftTestFileSystem].getName)
    spark.conf.set("fs.graftfs.impl.disable.cache", "true")
    try {
      GraftTestFileSystem.listings.set(0)
      GraftTestFileSystem.opens.set(0)
      val rows = spark.read.format("graft.sources.v2.NpzDataSource")
        .load(s"graftfs://$dir").filter(col("fov") === "fov3").collect()
      assert(rows.map(_.getAs[Int]("stack")).sorted.toSeq == Seq(0, 1))
      assert(GraftTestFileSystem.listings.get() >= 1, "planner lists through graftfs://")
      assert(GraftTestFileSystem.opens.get() >= 1, "readers open through graftfs://")
    } finally {
      spark.conf.unset("fs.graftfs.impl")
      spark.conf.unset("fs.graftfs.impl.disable.cache")
    }
  }
}
