package graft.jobs

import graft.SparkSpec
import graft.core.ImagePlane
import graft.sources.Npz

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

/** S18 lifecycle against a recording fake transport — the analog of
  * the reference's mocked FakeResponses
  * (figure_eight_functions_test.py). Store and job dirs are file://
  * URIs through the same Hadoop FS path production schemes take.
  */
class CrowdServiceSpec extends SparkSpec {

  /** Records every request; answers copy.json with a fresh id, report
    * downloads with a zip, everything else with 200 OK.
    */
  private class FakeTransport extends CrowdService.HttpTransport {
    val gets = scala.collection.mutable.ArrayBuffer.empty[String]
    val puts = scala.collection.mutable.ArrayBuffer.empty[(String, String, String)]
    var nextJobId = 1000L

    def get(url: String): CrowdService.Response = {
      gets += url
      if (url.contains("/copy.json")) {
        nextJobId += 1
        CrowdService.Response(200, s"""{"id": $nextJobId}""".getBytes(UTF_8))
      } else if (url.contains(".csv?type=full")) {
        val bos = new java.io.ByteArrayOutputStream()
        val zos = new java.util.zip.ZipOutputStream(bos)
        zos.putNextEntry(new java.util.zip.ZipEntry("f12345.csv"))
        zos.write("id,data\n1,ok\n".getBytes(UTF_8))
        zos.closeEntry(); zos.close()
        CrowdService.Response(200, bos.toByteArray)
      } else CrowdService.Response(200, Array.emptyByteArray)
    }

    def put(url: String, body: Array[Byte], contentType: String): CrowdService.Response = {
      puts += ((url, new String(body, UTF_8), contentType))
      CrowdService.Response(200, Array.emptyByteArray)
    }
  }

  private def makeBaseDir(): String = {
    val base = graft.TempDirs.create("crowd").toFile.getAbsolutePath
    val planes = ImagePlane.blankPlanes(2, 1, 8, 8).map(ImagePlane.gridLabels(_, 4))
    Npz.saveNpzsForCaliban(ImagePlane.toDataset(spark, planes), s"$base/crop_dir")
    base
  }

  test("formatUrl is byte-exact with the reference flag encoding") {
    assert(CrowdService.formatUrl("proj/sub", "annotation", "fov_1.npz",
      pixelOnly = false, labelOnly = false, rgbMode = true) ==
      "https://caliban.deepcell.org/caliban-input__caliban-output__" +
        "proj__sub__annotation__fov_1.npz?pixel_only=False&label_only=False&rgb=True")
  }

  test("createJob: copy, rename, store upload, log write, log PUT") {
    val base = makeBaseDir()
    val store = graft.TempDirs.create("crowd_store").toFile.getAbsolutePath
    val http = new FakeTransport
    val status = CrowdService.createJob(spark, base, jobIdToCopy = 77L,
      awsFolder = "proj", stage = "annotation", key = "k", storeDir = store,
      jobName = Some("my job"), http = http)
    assert(status == 200)
    // REST sequence
    assert(http.gets.exists(_.contains("/jobs/77/copy.json")), "template copied")
    assert(http.puts.exists { case (u, b, ct) =>
      u.contains("/jobs/1001.json") && ct == "application/json" && b.contains("my job")
    }, "job renamed")
    val Some((_, csv, _)) = http.puts.find(_._1.contains("/upload.json"))
    assert(csv.startsWith(
      "project_url,filename,stage,aws_folder,job_id,pixel_only,label_only,rgb_mode"))
    assert(csv.contains("fov_fov1_crop_0_slice_0.npz") && csv.contains("1001"))
    // NPZs landed in the store under aws_folder/stage
    Seq("fov1", "fov2").foreach(f => assert(
      new java.io.File(s"$store/proj/annotation/fov_${f}_crop_0_slice_0.npz").exists(),
      s"$f uploaded"))
    // log written with the stage-0 name
    assert(new java.io.File(s"$base/logs/stage_0_annotation_upload_log.csv").exists())
    assert(CrowdService.getLatestLogFile(spark, s"$base/logs")
      == "stage_0_annotation_upload_log.csv")
  }

  test("transferJob copies files to the next stage and numbers the log") {
    val base = makeBaseDir()
    val store = graft.TempDirs.create("crowd_store2").toFile.getAbsolutePath
    val http = new FakeTransport
    CrowdService.createJob(spark, base, 77L, "proj", "annotation", "k", store, http = http)
    val csv = CrowdService.transferJob(spark, base, jobIdToCopy = 1001L,
      newStage = "review", jobName = "round 2", key = "k", storeDir = store, http = http)
    assert(csv.contains("review") && csv.contains("1002"))
    // files server-side-copied into the new stage
    assert(new java.io.File(s"$store/proj/review/fov_fov1_crop_0_slice_0.npz").exists())
    // next log is stage_1_review
    assert(new java.io.File(s"$base/logs/stage_1_review_upload_log.csv").exists())
    assert(CrowdService.getLatestLogFile(spark, s"$base/logs")
      == "stage_1_review_upload_log.csv")
  }

  test("downloadOutput fetches report + annotations, reports missing") {
    val base = makeBaseDir()
    val store = graft.TempDirs.create("crowd_store3").toFile.getAbsolutePath
    val http = new FakeTransport
    CrowdService.createJob(spark, base, 77L, "proj", "annotation", "k", store, http = http)
    // simulate an annotator never returning one unit
    assert(new java.io.File(s"$store/proj/annotation/fov_fov2_crop_0_slice_0.npz").delete())
    val missing = CrowdService.downloadOutput(spark, base, "k", store, http)
    assert(missing == Seq("fov_fov2_crop_0_slice_0.npz"), s"missing: $missing")
    assert(new java.io.File(s"$base/output/fov_fov1_crop_0_slice_0.npz").exists(),
      "returned annotation downloaded")
    val report = new java.io.File(s"$base/logs/job_report.csv")
    assert(report.exists, "report unzipped + renamed")
    assert(new String(Files.readAllBytes(report.toPath), UTF_8).startsWith("id,data"))
  }

  test("createJob validates base and crop dirs like the reference") {
    val empty = graft.TempDirs.create("crowd_empty").toFile.getAbsolutePath
    val http = new FakeTransport
    intercept[IllegalArgumentException] {
      CrowdService.createJob(spark, s"$empty/nope", 1L, "p", "s", "k", empty, http = http)
    }
    intercept[IllegalArgumentException] { // no crop_dir
      CrowdService.createJob(spark, empty, 1L, "p", "s", "k", empty, http = http)
    }
    new java.io.File(s"$empty/crop_dir").mkdirs()
    intercept[IllegalArgumentException] { // crop_dir empty
      CrowdService.createJob(spark, empty, 1L, "p", "s", "k", empty, http = http)
    }
    assert(http.gets.isEmpty, "no REST call before validation passes")
  }
}
