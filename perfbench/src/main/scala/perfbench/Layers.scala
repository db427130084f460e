package perfbench

import graft.functions.{CosineSimilarity, Dedup, LabelExprs, MinhashSignature, SimhashExpr, SortedLongIntersect}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-layer metrics of a traced run, each normalised to one traced
  * pass. Every run reports every metric; a layer a workload does not
  * call reads 0.
  */
final class Layers(tr: Tracer, cores: Int, tracedPasses: Int) {
  private val n = math.max(1, tracedPasses).toDouble
  private val spans = tr.spans.toSeq.filter(_.end > 0)
  private val self = spans.map(s => s.id -> tr.selfSeconds(s)).toMap
  private def named(name: String) = spans.filter(_.name == name)
  private def secs(ss: Seq[Span]) = ss.map(_.seconds).sum / n
  private def median(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sorted.apply(xs.size / 2)
  private def pct(xs: Seq[Double], p: Double) =
    if (xs.isEmpty) 0.0 else xs.sorted.apply(math.min(xs.size - 1, (p * xs.size).toInt))

  private def common(layer: String): Seq[(String, Double)] = {
    val ss = spans.filter(_.layer == layer)
    val w = new Work
    ss.foreach(s => w.add(s.work))
    val selfS = ss.map(s => self(s.id)).sum
    Seq("calls" -> ss.size / n, "self_s" -> selfS / n, "tasks" -> w.tasks / n,
      "task_cpu_s" -> w.cpuNs / 1e9 / n, "gc_s" -> w.gcMs / 1e3 / n,
      "shuffle_write_mb" -> w.shuffleWriteBytes / 1e6 / n, "spill_mb" -> w.spillBytes / 1e6 / n,
      "par_eff" -> (if (selfS > 0) w.runMs / 1e3 / (selfS * cores) else 0.0))
      .map { case (k, v) => s"$layer.$k" -> v }
  }

  def metrics(wl: Workload, passes: Seq[Map[String, Any]], sessionS: Seq[Double]): Map[String, Double] = {
    val m = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    Seq("sources", "ops", "dataset", "queries", "streaming").foreach(l => m ++= common(l))
    m("core.session_start_s") = median(sessionS)

    val image = wl match { case i: ImageCuration => Some(i); case _ => None }
    val (npzFiles, npzBytes) = image.flatMap(_.lastStats).getOrElse((0L, 0L))
    m("sources.npz_write_s") = secs(named("Npz.saveNpzsForCaliban"))
    m("sources.npz_read_s") = secs(named("Npz.loadNpzsWithGridDf"))
    m("sources.npz_files") = npzFiles.toDouble
    m("sources.npz_bytes_per_input_byte") =
      image.map(i => npzBytes.toDouble / i.movies.inputBytes).getOrElse(0.0)
    m("sources.combined_npz_s") = secs(named("Npz.createCombinedNpz"))

    m("ops.crop_slice_s") = secs(named("Reconstruct.cropAndSlice"))
    m("ops.stitch_s") = secs(named("stitchSlices+stitchCrops"))
    m("ops.relabel_s") = secs(named("Relabel.predictRelationships"))
    m("ops.track_s") = secs(named("Tracking.trackTable"))
    val opsSelf = spans.filter(_.layer == "ops").map(s => self(s.id)).sum / n
    m("ops.mpix_per_s") =
      image.map(i => if (opsSelf > 0) i.movies.pixels / 1e6 / opsSelf else 0.0).getOrElse(0.0)

    m("dataset.build_s") = secs(named("DatasetBuilder.buildDataset"))
    m("dataset.planes_out") = image.map(_.planesOut.toDouble).getOrElse(0.0)

    m("plans.plan_s") = secs(named("executedPlan"))
    m("plans.graft_nodes") = tr.graftPlans / n

    val construct = named("construct")
    m("queries.construct_s") = secs(construct)
    m("queries.execute_s") = secs(named("execute"))
    m("queries.construct_jobs") = construct.map(_.work.jobs).sum / n
    m("queries.one_task_stage_s") = spans.filter(s => Set("queries", "streaming", "plans")(s.layer))
      .map(_.work.oneTaskStageMs).sum / 1e3 / n
    val roots = spans.filter(_.layer == "bench").map(_.id).toSet
    val opSpans = spans.filter(s => roots(s.parent) && s.name.startsWith("q"))
    Layers.families.foreach { f =>
      m(s"queries.family.${f}_s") = secs(opSpans.filter(s => QueryList.family(s.name) == f))
    }

    val bs = tr.batches.toSeq.filter(_.span >= 0)
    m("streaming.batches") = bs.size / n
    m("streaming.batch_p50_ms") = median(bs.map(_.triggerMs.toDouble))
    m("streaming.batch_p90_ms") = pct(bs.map(_.triggerMs.toDouble), 0.9)
    m("streaming.planning_ms") = bs.map(_.planningMs).sum / n
    m("streaming.add_batch_ms") = bs.map(_.addBatchMs).sum / n
    m("streaming.commit_ms") = bs.map(_.commitMs).sum / n
    m("streaming.state_rows_max") = if (bs.isEmpty) 0.0 else bs.map(_.stateRows).max.toDouble
    m("streaming.state_mb_max") = if (bs.isEmpty) 0.0 else bs.map(_.stateBytes).max / 1e6

    m("trace.wall_s") = median(passes.map(_("wall_s").asInstanceOf[Double]))
    val rootSpans = spans.filter(_.layer == "bench")
    m("trace.span_coverage") = rootSpans.map(r => r.seconds - self(r.id)).sum /
      math.max(1e-9, rootSpans.map(_.seconds).sum)
    m.toMap
  }

  /** The span tree with self times, for the trace artifact. */
  def spanRecords: Map[String, Any] = Map(
    "spans" -> spans.map { s =>
      Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "layer" -> s.layer,
        "run" -> s.run, "start_ns" -> s.start, "end_ns" -> s.end, "wall_s" -> s.seconds,
        "self_s" -> self(s.id), "jobs" -> s.work.jobs, "tasks" -> s.work.tasks,
        "task_run_s" -> s.work.runMs / 1e3, "task_cpu_s" -> s.work.cpuNs / 1e9,
        "gc_s" -> s.work.gcMs / 1e3, "shuffle_write_mb" -> s.work.shuffleWriteBytes / 1e6,
        "spill_mb" -> s.work.spillBytes / 1e6, "one_task_stage_s" -> s.work.oneTaskStageMs / 1e3)
    },
    "batches" -> tr.batches.toSeq.map { b =>
      Map("query" -> b.query, "span" -> b.span, "trigger_ms" -> b.triggerMs,
        "planning_ms" -> b.planningMs, "add_batch_ms" -> b.addBatchMs,
        "commit_ms" -> b.commitMs, "state_rows" -> b.stateRows, "state_bytes" -> b.stateBytes)
    })
}

object Layers {
  val families: Seq[String] = QueryList.batch.map(QueryList.family).distinct
}

/** Cost per row of each native expression against the built-in
  * expression it replaces, on the workload's own input columns: the
  * plane labels of the image workload for `label_areas`, the committed
  * tables for the rest. An expression a workload has no input for
  * reads 0.
  */
object FunctionCost {
  private val Prime = 2038074743L
  private val NumHashes = 16
  private val Seed = 7L
  val names = Seq("minhash_sig", "cosine_sim", "simhash64", "sorted_intersect", "label_areas")

  /** On two planes: the built-in is quadratic in a plane's cell count. */
  def forPlanes(planes: DataFrame): Map[String, Double] =
    measure(Seq(("label_areas", planes.select(col("labels").as("l")).limit(2),
      LabelExprs.labelAreasCol(col("l")), labelAreasBuiltin)))

  def forTables(spark: SparkSession, data: String): Map[String, Double] = {
    val docs = spark.read.parquet(s"$data/documents.parquet")
      .select(split(lower(col("text")), "\\s+").as("tk"))
      .withColumn("sh", Dedup.shingleHashCol(col("tk"), 3))
      .withColumn("sa", array_sort(array_distinct(transform(col("tk"), t => xxhash64(t)))))
      .withColumn("sb", filter(col("sa"), x => pmod(x, lit(3L)) =!= 0))
    val emb = spark.read.parquet(s"$data/embeddings.parquet")
      .select(explode(sequence(lit(1), lit(16))).as("rep"), col("embedding").as("a"),
        reverse(col("embedding")).as("b"))
    val rng = new scala.util.Random(Seed)
    val a = Seq.fill(NumHashes)(1 + rng.nextLong(Prime - 1))
    val b = Seq.fill(NumHashes)(rng.nextLong(Prime))
    val minhashBuiltin = transform(sequence(lit(0), lit(NumHashes - 1)), f =>
      array_min(transform(col("sh"), x =>
        pmod(element_at(typedlit(a), f + 1) * pmod(x, lit(Prime)) + element_at(typedlit(b), f + 1),
          lit(Prime)))))
    def dot(x: Column, y: Column) = aggregate(zip_with(x, y, (p, q) => p * q), lit(0.0), (s, v) => s + v)
    val cosineBuiltin = dot(col("a"), col("b")) / (sqrt(dot(col("a"), col("a"))) * sqrt(dot(col("b"), col("b"))))
    val simhashBuiltin = expr("aggregate(sequence(0, 63), 0L, (acc, b) -> acc | " +
      "IF(aggregate(tk, 0, (s, t) -> s + IF(shiftright(xxhash64(t), b) & 1 = 1, 1, -1)) > 0, " +
      "shiftleft(1L, b), 0L))")
    measure(Seq(
      ("minhash_sig", docs, MinhashSignature.minhashSig(col("sh"), NumHashes, Seed), minhashBuiltin),
      ("cosine_sim", emb, CosineSimilarity.cosineSim(col("a"), col("b")), cosineBuiltin),
      ("simhash64", docs, SimhashExpr.simhash64(col("tk")), simhashBuiltin),
      ("sorted_intersect", docs, SortedLongIntersect.sortedIntersect(col("sa"), col("sb")),
        array_intersect(col("sa"), col("sb")))))
  }

  private def labelAreasBuiltin = map_from_entries(transform(
    array_sort(array_distinct(filter(col("l"), x => x =!= 0))),
    v => struct(v, size(filter(col("l"), x => x === v)))))

  private def measure(cases: Seq[(String, DataFrame, Column, Column)]): Map[String, Double] = {
    val got = cases.flatMap { case (name, input, native, builtin) =>
      val in = input.persist()
      val rows = in.count().toDouble
      def seconds(e: Column): Double = {
        val t0 = System.nanoTime()
        in.select(e.as("v")).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      // the cost of scanning the cached input and running the job is
      // taken off, so what is left is the expression's own
      val base = seconds(col(in.columns.last))
      val out = Seq(s"functions.${name}_ns_row" -> native, s"functions.${name}_builtin_ns_row" -> builtin)
        .map { case (k, e) => k -> math.max(0.0, seconds(e) - base) * 1e9 / rows }
      in.unpersist()
      out
    }.toMap
    names.flatMap(n => Seq(s"functions.${n}_ns_row", s"functions.${n}_builtin_ns_row"))
      .map(k => k -> got.getOrElse(k, 0.0)).toMap
  }
}
