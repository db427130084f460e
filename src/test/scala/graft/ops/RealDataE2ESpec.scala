package graft.ops

import graft.{Fixtures, SparkSpec}
import graft.sources.Tiff
import org.apache.spark.sql.functions._

/** EP1 -> EP2 on the reference's REAL microscopy fixtures: ontology
  * scan -> distributed TIFF decode -> crop into annotation work units
  * -> NPZ sink + log_data.json sidecar -> fresh-session reconstruction
  * -> byte-exact pixel round trip. This is the reference's actual
  * workflow run end-to-end through the engine on its own data.
  */
class RealDataE2ESpec extends SparkSpec {

  private val fixtureDir =
    s"${Fixtures.ontology}/static/2d/mibi/DCIS/Nuclear_DNA/20200116_DCIS"

  test("real DCIS TIFFs crop, sink, and reconstruct byte-exact") {
    val saveDir = graft.TempDirs.create("real_e2e").toFile.getAbsolutePath

    // EP1: distributed decode of the real 512x512 points
    val planes = Tiff.readTiffDir(spark, fixtureDir)
    val orig = planes.collect().map(p => p.fov -> p).toMap
    assert(orig.nonEmpty, s"no planes decoded from the committed fixture $fixtureDir")
    orig.values.foreach(p => assert(p.nRows == 512 && p.nCols == 512))
    val fovs = orig.keys.toSeq.sorted

    // crop into 256x256 units with 25% overlap, sink + sidecar
    val (_, log) = Pipeline.preAnnotationFlow(spark,
      planes, origRows = 512, origCols = 512, stackLen = 1,
      cropSize = (256, 256, 0.25), sliceLen = None,
      fovs = fovs, channels = Seq("channel0"), saveDir = saveDir)
    assert(log.count() > 0, "upload log rows for every unit")
    assert(new java.io.File(saveDir, "log_data.json").exists())

    // EP2 in a fresh session from disk alone
    val back = Reconstruct.reconstructFromNpzDir(spark.newSession(), saveDir)
      .collect().map(p => p.fov -> p).toMap
    assert(back.keySet == orig.keySet)
    fovs.foreach { fov =>
      val (o, b) = (orig(fov), back(fov))
      assert(b.nRows == 512 && b.nCols == 512)
      assert(b.pixels.toSeq == o.pixels.toSeq, s"pixels byte-exact for $fov")
    }
  }

  test("ontology scan feeds the reader: planes from a pruned subtree") {
    val scan = Tiff.scanOntology(spark, Fixtures.ontology,
      imagingTypes = Seq("mibi"))
    val dirs = scan.select("path").distinct().collect().map(_.getString(0))
    assert(dirs.nonEmpty)
    val dcisDir = dirs.find(_.contains("20200116_DCIS")).getOrElse(dirs.head)
    val n = Tiff.readTiffDir(spark,
      new java.io.File(dcisDir).getParent).count()
    assert(n > 0, "pruned subtree is readable")
  }
}
