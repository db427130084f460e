package graft.jobs

import graft.SparkSpec
import org.apache.spark.sql.functions._

class JobLogSpec extends SparkSpec {

  test("createUploadLog builds reference-shaped rows with caliban URLs") {
    import spark.implicits._
    val files = Seq("fov_f1_crop_0_slice_0.npz", "fov_f1_crop_1_slice_0.npz")
      .toDF("filename")
    val log = JobLog.createUploadLog(files, stage = "annotation",
      awsFolder = "proj/batch1", jobId = 1234L, rgbMode = true)
    val rows = log.collect().map(r => r.getAs[String]("project_url"))
    assert(rows.forall(_.startsWith(
      "https://caliban.deepcell.org/caliban-input__caliban-output__proj__batch1__annotation__fov_f1_crop_")))
    assert(rows.forall(_.endsWith("?rgb=true")))
    assert(log.columns.toSet == Set("filename", "stage", "aws_folder", "job_id",
      "pixel_only", "label_only", "rgb_mode", "project_url"))
  }

  test("CSV round trip preserves the log table") {
    import spark.implicits._
    val dir = graft.TempDirs.create("joblog").toFile.getAbsolutePath + "/log"
    val files = Seq("a.npz", "b.npz").toDF("filename")
    val log = JobLog.createUploadLog(files, "s1", "f", 1L)
    JobLog.writeLog(log, dir)
    val back = JobLog.readLog(spark, dir)
    assert(back.count() == 2)
    assert(back.filter(col("filename") === "a.npz").count() == 1)
    assert(back.schema("job_id").dataType.typeName == "integer" ||
      back.schema("job_id").dataType.typeName == "long")
  }

  test("latestLogName picks the lexicographically last upload log") {
    assert(JobLog.latestLogName(Seq(
      "stage_0_upload_upload_log.csv", "stage_2_check_upload_log.csv",
      "stage_1_annotate_upload_log.csv", "random.txt"))
      .contains("stage_2_check_upload_log.csv"))
    assert(JobLog.latestLogName(Seq("x.txt")).isEmpty)
    assert(JobLog.nextLogName(3, "qc") == "stage_3_qc_upload_log.csv")
  }
}
