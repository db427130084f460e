package graft.sources.v2

import graft.{Fixtures, SparkSpec}
import graft.sources.Tiff
import org.apache.spark.sql.functions._

import java.nio.file.Files

class TiffDataSourceSpec extends SparkSpec {

  private val RefBase = Fixtures.ontology

  /** Synthetic ontology tree with the `*_s{ss}_p{pp}` filename
    * convention across two imaging subtrees.
    */
  private lazy val tree: String = {
    val base = Files.createTempDirectory("onto").toFile
    def writeTiff(rel: String, value: Int): Unit = {
      val f = new java.io.File(base, rel)
      f.getParentFile.mkdirs()
      val img = new java.awt.image.BufferedImage(
        4, 4, java.awt.image.BufferedImage.TYPE_USHORT_GRAY)
      for (r <- 0 until 4; c <- 0 until 4) img.getRaster.setSample(c, r, 0, value)
      assert(javax.imageio.ImageIO.write(img, "TIFF", f))
    }
    writeTiff("static/2d/fluo/HeLa/Nuclear_H2B/exp1/img_s01_p01.tif", 11)
    writeTiff("static/2d/fluo/HeLa/Nuclear_H2B/exp1/img_s01_p02.tif", 12)
    writeTiff("static/2d/fluo/HeLa/Nuclear_H2B/exp1/img_s02_p01.tif", 21)
    writeTiff("static/2d/fluo/HeLa/WholeCell_CD45/exp1/img_s01_p01.tif", 31)
    writeTiff("static/2d/mibi/DCIS/Nuclear_DNA/exp2/scan_crop_0.tif", 41)
    base.getAbsolutePath
  }

  private def read(dir: String, granularity: String = "file") =
    spark.read.format("graft.sources.v2.TiffDataSource")
      .option("granularity", granularity).load(dir)

  test("file granularity: listing-only rows with parsed ontology levels") {
    val rows = read(tree).collect()
    assert(rows.length == 5)
    val r = rows.find(_.getAs[String]("file_name") == "img_s02_p01.tif").get
    assert(r.getAs[String]("data_kind") == "static" && r.getAs[String]("dims") == "2d")
    assert(r.getAs[String]("imaging") == "fluo" && r.getAs[String]("specimen") == "HeLa")
    assert(r.getAs[String]("compartment") == "Nuclear" && r.getAs[String]("marker") == "H2B")
    assert(r.getAs[String]("exp_id") == "exp1")
    assert(r.getAs[Int]("session") == 2 && r.getAs[Int]("position") == 1)
    // no-convention filename -> null session/position
    val plain = rows.find(_.getAs[String]("file_name") == "scan_crop_0.tif").get
    assert(plain.isNullAt(plain.fieldIndex("session")))
  }

  test("ontology predicates prune the directory walk, not just the rows") {
    read(tree).collect()
    val dirsAll = TiffTable.lastListedDirs.get()
    val mibi = read(tree).filter(col("imaging") === "mibi").collect()
    assert(mibi.length == 1 && TiffTable.lastPlannedFiles.get() == 1)
    assert(TiffTable.lastListedDirs.get() < dirsAll,
      s"mibi filter must not list the fluo subtree " +
        s"(${TiffTable.lastListedDirs.get()} vs $dirsAll dirs)")
    // compartment/marker predicates prune the combined-level dirs
    val nuc = read(tree).filter(col("compartment") === "Nuclear").collect()
    assert(nuc.length == 4 && TiffTable.lastPlannedFiles.get() == 4)
    val cd45 = read(tree).filter(col("marker") === "CD45").collect()
    assert(cd45.length == 1 && TiffTable.lastPlannedFiles.get() == 1)
  }

  test("session/position predicates push the *_s{ss}_p{pp} filename pattern") {
    val s1 = read(tree).filter(col("session") === 1).collect()
    assert(s1.length == 3, "s01 files across both compartments")
    assert(TiffTable.lastPlannedFiles.get() == 3, "pattern applied in the listing")
    val s1p2 = read(tree).filter(col("session") === 1 && col("position") === 2).collect()
    assert(s1p2.map(_.getAs[String]("file_name")).toSeq == Seq("img_s01_p02.tif"))
    assert(TiffTable.lastPlannedFiles.get() == 1)
    val pIn = read(tree).filter(col("position").isin(1, 2)).count()
    assert(pIn == 4L, "IN over positions; conventionless file excluded")
  }

  test("frame granularity decodes pixels; column pruning skips the raster") {
    val frames = read(tree, "frame")
      .filter(col("file_name") === "img_s01_p01.tif" && col("compartment") === "Nuclear")
    val r = frames.select("frame", "nRows", "nCols", "pixels").collect()
    assert(r.length == 1 && r.head.getAs[Int]("nRows") == 4)
    assert(r.head.getAs[scala.collection.Seq[Float]]("pixels").forall(_ == 11f))
    // metadata projection: plan must not carry the pixels column
    val census = read(tree, "frame").groupBy("imaging").agg(count(lit(1)).as("n"))
    assert(census.collect().map(x => x.getString(0) -> x.getLong(1)).toMap ==
      Map("fluo" -> 4L, "mibi" -> 1L))
    val plan = census.queryExecution.executedPlan.toString
    assert(!plan.contains("pixels"), s"pixels must be pruned:\n$plan")
  }

  test("reference fixture: scanOntology on the V2 walk matches the known tree") {
    val all = Tiff.scanOntology(spark, RefBase)
    assert(all.count() == 6, "six reference TIFFs")
    val mibi = Tiff.scanOntology(spark, RefBase, imagingTypes = Seq("mibi"))
    val rows = mibi.select("data_kind", "dims", "imaging", "specimen",
      "compartment", "marker").distinct().collect().map(_.toSeq)
    assert(rows.forall(_(2) == "mibi"))
    assert(rows.exists(r => r(4) == "Nuclear" && r(5) == "DNA"))
    assert(rows.exists(r => r(4) == "WholeCell" && r(5) == "NaKATPase"))
    // vocab normalization flows into the pushed predicate
    val nuc = Tiff.scanOntology(spark, RefBase, compartments = Seq("nuc"))
    assert(nuc.count() == 3 && TiffTable.lastPlannedFiles.get() == 3)
    // frame read on the fixture equals the direct decoder
    val px = read(RefBase, "frame")
      .filter(col("file_name") === "20200116_DCIS_Point2304_crop_0.tif")
      .select("pixels").head().getAs[scala.collection.Seq[Float]](0)
    val direct = Tiff.decodeFrames(Files.readAllBytes(java.nio.file.Paths.get(
      s"$RefBase/static/2d/mibi/DCIS/Nuclear_DNA/20200116_DCIS/20200116_DCIS_Point2304_crop_0.tif")))
    assert(px.toSeq == direct.head._4.toSeq, "byte-exact with decodeFrames")
  }
}
