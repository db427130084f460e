package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.Row

/** The IO/EP2 digest queries run their whole fixture pipeline inside
  * the query body, so the spec simply drives each and asserts the
  * a-priori shape the DuckDB oracle pins — a fast local signal for the
  * same laws the driver's hash gate checks at every SF.
  */
class IoQueriesSpec extends SparkSpec {

  private def run(name: String): Array[Row] =
    graft.SparkEntry.queries(name)(spark, "/root/testdata/sf0.001").collect()

  test("q_img_reconstruct_digest: EP2 inversion holds on all 8 planes") {
    val rows = run("q_img_reconstruct_digest")
    assert(rows.length == 8, rows.mkString("\n"))
    rows.foreach { r =>
      assert(r.getAs[Int]("n_rows") == 24 && r.getAs[Int]("n_cols") == 36, r)
      assert(r.getAs[Int]("n_labels") == 20, r)
      assert(r.getAs[Boolean]("px_ok"), s"pixel census mismatch: $r")
      assert(r.getAs[Boolean]("labels_ok"), s"label bijection broken: $r")
      assert(r.getAs[Boolean]("dense_ok"), s"relabel not dense: $r")
    }
  }

  test("q_img_reshape_digest: resize+pad+tile censuses match the law") {
    val rows = run("q_img_reshape_digest")
    // 2 fovs x 2 stacks x 16 tiles
    assert(rows.length == 64, rows.length)
    // every original label id survives nearest-neighbor resize: the
    // per-plane union of tile label maxes is the law's max id
    val byPlane = rows.groupBy(r => (r.getString(0), r.getInt(1)))
    assert(byPlane.size == 4)
    byPlane.foreach { case (k, tiles) =>
      // law max id: r/4 up to 6 (r<25), c/4 up to 7 (c=28) -> 6*8+7+1
      assert(tiles.map(_.getAs[Long]("lab_max")).max == 6L * 8 + 7 + 1, k)
      // 2x upscale quadruples label area: law nnz per plane is
      // 13 rows x 16 cols of blob pixels (r%4<2 & r<25 -> 13; c%4<2 &
      // c<31 -> 16) = 208, so resized nnz = 832
      assert(tiles.map(_.getAs[Long]("lab_nnz")).sum == 4L * 208, k)
      // pixel nnz per plane: 2 channels x 50x62 inside pixels
      assert(tiles.map(_.getAs[Long]("px_nnz")).sum == 2L * 50 * 62, k)
    }
  }

  test("q_npz_sinks_digest: both single-file sinks round-trip censuses") {
    val rows = run("q_npz_sinks_digest")
    assert(rows.length == 12, rows.mkString("\n"))
    val (stitched, combined) = rows.partition(_.getString(0) == "stitched")
    assert(stitched.length == 6 && combined.length == 6)
    // the two sinks hold the SAME planes, so per-(fov, stack) censuses
    // must be identical across modes
    def key(r: Row) = (r.getString(1), r.getInt(2))
    def body(r: Row) = r.toSeq.drop(3)
    val sm = stitched.map(r => key(r) -> body(r)).toMap
    combined.foreach(r => assert(sm(key(r)) == body(r), r.toString))
    // spot-pin one checksum against a direct law evaluation
    val p = 1000000007L
    val want = (0 until 12 * 17).map { i =>
      ((i + 1).toLong * ((i + 0 * 7 + 0 * 19) % 101)) % p
    }.sum % p
    val r0 = stitched.find(r => key(r) == ("fovA", 0)).get
    assert(r0.getAs[Long]("px_chk") == want, r0.toString)
  }
}
