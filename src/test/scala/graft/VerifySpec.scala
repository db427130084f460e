package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Gate-integrity contract for the correctness dump: a query that
  * crashes must surface as a visible FAIL artifact, never a silent
  * skip. (Round 11: 14 construction-crashed queries vanished from the
  * driver's correctness file because failures were stderr-only.)
  */
class VerifySpec extends SparkSpec {

  test("a planted broken query lands in _errors.json; healthy queries still dump") {
    val out = graft.TempDirs.create("verify_spec").toFile.getAbsolutePath
    val good: (SparkSession, String) => DataFrame =
      (s, _) => s.range(3).select(col("id"))
    val brokenConstruct: (SparkSession, String) => DataFrame =
      (_, _) => throw new IllegalStateException("planted construction failure")
    val brokenExec: (SparkSession, String) => DataFrame =
      (s, _) => s.range(3).select((lit(1) / col("id")).as("x"))
        .filter(udf((_: Long) => sys.error("planted runtime failure"): Boolean)
          .apply(col("id")))
    val failures = Verify.dump(spark, "/root/testdata/sf0.001", out,
      Seq("q_good" -> good, "q_dead_plan" -> brokenConstruct,
        "q_dead_task" -> brokenExec))
    assert(failures.keySet == Set("q_dead_plan", "q_dead_task"))
    assert(failures("q_dead_plan").contains("planted construction failure"))
    // the healthy query's parquet exists and reads back
    assert(spark.read.parquet(s"$out/q_good").count() == 3L)
    // the FAIL artifact is on disk and names both dead queries
    val errJson = Files.readString(Paths.get(s"$out/_errors.json"))
    assert(errJson.contains("q_dead_plan") && errJson.contains("q_dead_task"),
      s"_errors.json must name the crashed queries: $errJson")
  }

  test("a clean dump writes an EMPTY _errors.json (absence means the dump died)") {
    val out = graft.TempDirs.create("verify_spec_ok").toFile.getAbsolutePath
    val failures = Verify.dump(spark, "/root/testdata/sf0.001", out,
      Seq("q_ok" -> ((s: SparkSession, _: String) => s.range(1).toDF("id"))))
    assert(failures.isEmpty)
    assert(Files.readString(Paths.get(s"$out/_errors.json")) == "{}")
  }

  test("registry invariants: every oracle keys a registered query; names well-formed") {
    // a name registered twice fails loudly instead of one record
    // silently shadowing the other
    val d = SparkEntry.all.head
    val dup = intercept[IllegalArgumentException](SparkEntry.byName(Seq(d, d))(_.oracle))
    assert(dup.getMessage.contains(d.name), dup.getMessage)
    // both driver projections key the same queries, one per record
    // (a new query raises the count)
    val qs = SparkEntry.queries.keySet
    assert(qs == SparkEntry.oracleSql.keySet)
    assert(qs.size == 275 && SparkEntry.all.size == 275, s"${qs.size} keys")
    val badNames = qs.filterNot(_.matches("q[0-9a-z_]+"))
    assert(badNames.isEmpty, s"non-conforming query names: $badNames")
  }

  test("queries sharing one oracle text are exactly the pinned groups") {
    // Two records answering one oracle compute one relation twice.
    // Each pinned group carries the reason both records stay (most are
    // batch/stream pairs whose stream must reproduce the batch
    // relation); a new group lands here with its reason, or one of
    // its records goes.
    val pinned: Map[Set[String], String] = Map(
      Set("q_evt_hourly", "q_stream_hourly") ->
        "the complete-mode stream's final table is the batch rollup",
      Set("q_evt_sessionize", "q_stream_sessionize") ->
        "the update-mode stream sessionizer ends at the batch sessions",
      Set("q_evt_countmin", "q_stream_countmin") ->
        "the merged per-batch sketch is bit-identical to the batch sketch",
      Set("q_txt_topk_mg", "q_stream_topk") ->
        "the streamed Misra-Gries summary keeps the batch summary's guarantees",
      Set("q_evt_attribution", "q_stream_attribution") ->
        "the O(1)-state stream replays the batch credit arithmetic",
      Set("q_dedup_incremental", "q_stream_incremental") ->
        "the stream ingests the batch incremental dedup's novel slice",
      Set("q_src_csv", "q_src_jsonl") ->
        "two source codecs round-trip the same documents census")
    val shared = SparkEntry.all.groupBy(_.oracle).values
      .map(_.map(_.name).toSet).filter(_.size > 1).toSet
    assert(shared == pinned.keySet,
      s"unpinned groups: ${shared -- pinned.keySet}; stale pins: ${pinned.keySet -- shared}")
  }

  test("an allowlist naming an unregistered query fails and lists the name") {
    val e = intercept[IllegalArgumentException](
      SparkEntry.select(Some(Set("q_typo", "q01_pricing_summary"))))
    assert(e.getMessage.contains("q_typo") && !e.getMessage.contains("q01_pricing"),
      e.getMessage)
    assert(SparkEntry.select(Some(Set("q01_pricing_summary"))).map(_.name) ==
      Seq("q01_pricing_summary"))
    assert(SparkEntry.select(None).size == SparkEntry.queries.size)
  }
}
