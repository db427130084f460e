package graft

import org.apache.spark.sql.execution.FileSourceScanExec

/** Scale-hygiene gate over the ENTIRE query inventory: plans that are
  * fine at sf0.01 but lethal at 100 TB must not sneak in. Every
  * registered query's physical plan is swept for unbounded join
  * shapes; the allowlist names the queries whose cross join is a
  * DECLARED bounded construction (single-row broadcast probe, id<100
  * exact-verify stage, 1-row aggregate combination) — anything else
  * showing a cartesian or nested-loop join fails the build.
  */
class PlanAuditSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  /** Queries whose cross join is bounded by construction. */
  private val declaredBoundedCross = Set(
    "q_sim_topk",       // broadcast single-row probe vector
    "q_emb_matryoshka", // broadcast 8-row probe batch (id-bounded)
    "q_sim_ann_lsh",    // brute-force recall stage: same single-row probe
    "q_sim_ann_ivf",    // same single-row probe in the exact stage
    "q_sim_pair_count", // id<100-bounded exact-verify stage (declared)
    "q_ds_nested_prefix", // crossJoin of two 1-row aggregate counts
    "q_r5_balance",     // Balancer: broadcast of the 1-row max-count agg
    "q_ds_balance",     // same Balancer construction
    "q_ds_build",       // buildDataset balances per split: same 1-row agg
    "q_sim_knn_join",   // broadcast probe batch, LIMIT-capped (asserted below)
    "q_sim_ivf_recall", // exact-recall stage: same LIMIT-capped probe batch
    "q_txt_unigram_lp", // broadcast of top-K capped vocab + 1-row total agg
    "q_emb_pq_recall",  // broadcast pqProbeCount-row probe set (id-bounded, asserted below)
    "q_txt_tfidf",      // crossJoin of the 1-row corpus-count aggregate
    "q_txt_mixture",    // crossJoin of the 1-row normalizer aggregate
    "q_emb_pca",        // crossJoin of the 1-row norm aggregate
    "q_emb_pca2",       // same 1-row norm aggregate on the deflated matrix
    "q_txt_bm25",       // crossJoin of the 1-row (N, avgdl) corpus stats
    "q_evt_drift",      // crossJoin of the 1-row corpus-total aggregate
    "q_evt_rfm",        // crossJoin of the 1-row max-timestamp anchor
    "q_evt_seasonality", // crossJoin of the 1-row total aggregate
    "q_txt_topk_mg",    // crossJoin of the 1-row (MG summary, total) aggregate
    "q_evt_countmin",   // crossJoin of the 1-row CMS sketch aggregate
    "q_evt_cuped",      // crossJoins of the 1-row midpoint + pooled-moment aggregates
    "q_evt_gini",       // crossJoin of the 1-row user-count aggregate
    "q_evt_benford",    // crossJoin of the 1-row digit-total aggregate
    "q_part_abc",       // crossJoin of the 1-row revenue-total aggregate
    "q_txt_ngram_novelty", // crossJoin of the 1-row corpus-count aggregate
    "q_txt_vocab_growth", // crossJoin of the 1-row corpus-count aggregate
    "q_emb_kmeans",     // broadcast of the k=8-row centroid relation per round
    "q_graph_hits",     // crossJoins of the 1-row per-round max aggregates
    "q_evt_audience_hll", // pair join of the |event-type|-row sketch relation
    "q_basket_rules",   // crossJoin of the 1-row order-total aggregate
    "q_evt_acf",        // crossJoin of the literal 6-row lag relation
    "q_emb_silhouette", // broadcast of the k-row (label) centroid table
    "q_evt_survival",   // crossJoin of the 1-row censored-count aggregate
    "q15_top_supplier", // crossJoin of the 1-row max-revenue aggregate
    "q22_sales_opportunity", // crossJoin of the 1-row balance-average aggregate
    "q_evt_mi",         // crossJoin of the 1-row contingency total
    "q_evt_ks",         // crossJoins of the 1-row cohort totals + arg-max
    "q_eval_lift",      // crossJoin of the 1-row totals aggregate
    "q_txt_dsir",       // crossJoin of the 1-row LM-totals aggregate
    "q_txt_curation_funnel", // crossJoin of the two 1-row census aggregates
    "q_feat_calibration", // crossJoin of the 1-row ECE-total aggregate
    "q_feat_target_enc", // crossJoin of the 1-row global-prior aggregate
    "q_feat_woe",       // crossJoins of the 1-row totals + IV-total aggregates
    "q_txt_kappa",      // crossJoins of the 1-row confusion-totals aggregate
    "q_evt_spearman",   // crossJoin of the two 1-row power-sum aggregates
    "q_txt_js_drift",   // crossJoin of the 1-row token-totals aggregate
    "q_ds_class_weights", // crossJoin of the 1-row class-totals aggregate
    "q_evt_psi",        // crossJoin of the 1-row reference histogram
    "q_evt_wasserstein", // crossJoin of the 1-row cohort totals
    "q_evt_kruskal",    // crossJoins of the 1-row totals/ties/H aggregates
    "q_priv_tclose",    // class-ids x bucket-grid cross join (dimension-sized)
    // the partsupp family: the law relation crossJoins the 1-row
    // supplier-count aggregate (4 rows per part thereafter); q11 also
    // crossJoins its 1-row total+count
    "q02_min_cost_supplier", "q09_product_profit", "q11_important_stock",
    "q16_parts_supplier", "q20_potential_promotion"
  )

  // streaming queries execute a real stream per call; keep them out of
  // the sweep (their batch twins are covered) to bound suite time
  private val skip = Set("q_stream_hourly", "q_stream_sessionize", "q_stream_dedup",
    "q_stream_incremental", "q_stream_hourly_append", "q_stream_incremental_append",
    "q_stream_sessionize_append", "q_stream_neardup", "q_stream_semgate",
    "q_stream_stitch", "q_stream_range_append", "q_stream_ewma", "q_stream_pattern",
    "q_stream_attribution", "q_stream_countmin", "q_stream_topk",
    "q_stream_dd_quantile",
    "q_stream_psi", "q_stream_session_native", "q_stream_range_outer")

  test("decontamination joins against a BROADCAST benchmark set, and the self-checking queries hold") {
    // the benchmark side must broadcast (corpus never shuffles for it)
    val plan = SparkEntry.queries("q_txt_decontaminate")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"benchmark side not broadcast:\n$plan")
    // the real-codec round trip: every document must decode exactly
    val mm = SparkEntry.queries("q_mm_decode")(spark, sfDir).collect()
    assert(mm.nonEmpty && mm.forall(_.getAs[Boolean]("decode_ok")),
      "ImageIO round-trip self-check must be all-true")
    assert(mm.forall(r => r.getAs[Int]("px_w") == 8 && r.getAs[Int]("px_h") == 8))
  }

  /** What the inventory sweeps read from one construction of a query;
    * `sessionChanges` names every session conf, temp view and catalog
    * table the construction left different from before it.
    */
  private case class Built(sparkPlan: String, globalWindow: Boolean,
      constructJobs: Int, sessionChanges: Seq[String])

  /** One construction of every registered query outside `skip`, shared
    * by the sweeps below. Each construction runs under its own
    * local-property tag; one listener counts the jobs per tag and the
    * bus is drained once after the sweep, not per query. The tables are
    * registered first so `Q.t`'s one-time schema-inference jobs are not
    * counted against the first query that reads each table. The session
    * confs, temp views and catalog tables are snapshot around each
    * construction.
    */
  private lazy val sweep: Map[String, Built] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val tag = "graft.spec.construct"
    val sc = spark.sparkContext
    graft.ql.Ql.registerTables(spark, sfDir)
    val jobs = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(tag)))
          .foreach(n => jobs.merge(n, 1, (a, b) => a + b))
    }
    def session(): Set[String] =
      spark.conf.getAll.map { case (k, v) => s"conf $k=$v" }.toSet ++
        spark.catalog.listTables().collect()
          .map(t => if (t.isTemporary) s"temp view ${t.name}" else s"table ${t.name}")
    sc.addSparkListener(listener)
    try {
      val built = SparkEntry.queries.toSeq.filterNot { case (n, _) => skip(n) }
        .map { case (name, fn) =>
          val before = session()
          sc.setLocalProperty(tag, name)
          val df = try fn(spark, sfDir) finally sc.setLocalProperty(tag, null)
          val after = session()
          val changes = ((before -- after).map("lost " + _) ++
            (after -- before).map("left " + _)).toSeq.sorted
          val globalWindow = df.queryExecution.optimizedPlan.collect {
            case w: org.apache.spark.sql.catalyst.plans.logical.Window
                if w.partitionSpec.isEmpty => w
          }.nonEmpty
          name -> (df.queryExecution.sparkPlan.toString, globalWindow, changes)
        }
      org.apache.spark.GraftTestAccess.drainListenerBus(sc)
      built.map { case (name, (plan, global, changes)) =>
        name -> Built(plan, global, jobs.getOrDefault(name, 0).intValue, changes)
      }.toMap
    } finally sc.removeSparkListener(listener)
  }

  test("no undeclared cartesian/nested-loop joins anywhere in the inventory") {
    val offenders = sweep.toSeq
      .filterNot { case (n, _) => declaredBoundedCross(n) }
      .flatMap { case (name, b) =>
        val bad = Seq("CartesianProduct", "BroadcastNestedLoopJoin").filter(b.sparkPlan.contains)
        if (bad.nonEmpty) Some(s"$name: ${bad.mkString(", ")}") else None
      }
    assert(offenders.isEmpty, s"unbounded join shapes:\n${offenders.mkString("\n")}")
  }

  test("every eager query runs a Spark job at construction") {
    // the converse of QlSpec's zero-jobs gate on the lazy default: an
    // `eager` flag left on a builder that no longer runs construction
    // jobs would keep it out of Ql's default registration for nothing
    val idle = SparkEntry.all.filter(d => d.eager && !skip(d.name))
      .map(_.name).filter(n => sweep(n).constructJobs == 0)
    assert(idle.isEmpty, s"flagged eager but construction ran no job: ${idle.sorted}")
  }

  test("constructions leave session confs, temp views and catalog tables unchanged") {
    // the session is shared by every query a driver builds: a builder
    // that overrides a conf, registers a view for its own SQL or saves
    // a table must restore or drop it before returning
    val dirty = sweep.toSeq.collect {
      case (name, b) if b.sessionChanges.nonEmpty =>
        s"$name: ${b.sessionChanges.mkString(", ")}"
    }
    assert(dirty.isEmpty, s"constructions changed the session:\n${dirty.sorted.mkString("\n")}")
  }

  test("IVF codebook obeys the broadcast-bound scale rule in the registered shape") {
    import graft.functions.Ivf
    import org.apache.spark.sql.functions.col
    // the rule itself: sqrt(n) cells, hard-capped — even a 100 TB
    // corpus broadcasts at most 4096 x dim centroids (~2 MiB)
    assert(Ivf.codebookSize(Long.MaxValue) == 4096)
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val k = Ivf.codebookSize(e.count())
    assert(k <= 4096)
    val nprobe = math.max(1, k / 2)
    val cents = Ivf.trainCentroids(e, "vec_id", "embedding", k = k,
      iters = 1, sampleCap = 256L * k)
    // centroid collect is exactly the codebook — never corpus-scale
    assert(cents.length == k, s"codebook holds $k rows, got ${cents.length}")
    val qv = e.filter(col("vec_id") === 0L)
      .select("embedding").head().getSeq[Float](0).toSeq
    // the registered probe shape: the cell restriction must appear in
    // the optimized plan as an IN/INSET of exactly nprobe cells — the
    // partition-pruning bound a 100 TB store relies on
    val plan = Ivf.annTopKIvf(e, "vec_id", "embedding", qv, 10, cents,
      nprobe, excludeId = Some(0L)).queryExecution.optimizedPlan
    val inSizes = plan.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
        f.condition.collect {
          case i: org.apache.spark.sql.catalyst.expressions.In => i.list.length
          case s: org.apache.spark.sql.catalyst.expressions.InSet => s.hset.size
        }
    }.flatten
    assert(inSizes.contains(nprobe),
      s"probe plan IN-list sizes $inSizes lack the nprobe=$nprobe cell bound")
  }

  test("no undeclared global windows: every Window has a partition spec") {
    // a window with no partitionBy funnels ALL rows into one task —
    // the quiet 100 TB killer WindowExec only warns about. Allowlist:
    // q_natural_sort ranks the 25-row nation dimension (bounded at
    // every scale factor by the TPC-H contract); q_evt_rfm's ntile
    // windows rank the per-user ROLLUP — the user dimension, already
    // reduced from events — and its scaladoc declares the
    // broadcast-threshold variant a 1e9-user deployment swaps in.
    // q_evt_seasonality ranks the (dow x hour) cell table — <= 168
    // rows at any data scale by construction.
    // q_part_skyline's phase-2 global window runs on the union of
    // per-bucket skylines — ~B·ln(n/B) rows at any corpus size by the
    // skyline-union theorem (see its scaladoc).
    // q_evt_gini ranks the per-user rollup (the q_evt_rfm user
    // dimension); q_txt_vocab_growth's cumulative window runs over its
    // 10-row decile census — both bounded by construction.
    // q_part_abc's rank/cumsum window runs over the part dimension
    // (already reduced from lineitem), the q_evt_rfm declaration class.
    // q_evt_survival's risk-set/product-limit windows run over the
    // grouped event-time relation — <= 73 rows at any corpus size by
    // the 72-hour observation-window construction (see its scaladoc).
    // q_eval_auc's cumulative window runs over the distinct-score
    // relation (bounded by the per-user activity range); q_evt_ks's
    // over the cents-quantized value support (bounded by the price
    // range) — both support-bounded, never corpus-bounded.
    // q_eval_lift's ntile window ranks the per-user rollup (the
    // q_evt_rfm declaration class) and its cumulative window the
    // 10-row decile census.
    val boundedDim = Set("q_natural_sort", "q_evt_rfm", "q_evt_seasonality",
      "q_part_skyline", "q_evt_gini", "q_txt_vocab_growth", "q_part_abc",
      "q_evt_survival", "q_eval_auc", "q_evt_ks", "q_eval_lift",
      "q_evt_spearman", "q_evt_wasserstein", "q_evt_kruskal")
    val offenders = sweep.toSeq
      .collect { case (name, b) if b.globalWindow && !boundedDim(name) => name }
    assert(offenders.isEmpty, s"unpartitioned windows in: $offenders")
  }

  test("declared-bounded broadcasts are bounded by CONSTRUCTION, not by test scale") {
    // q_sim_knn_join: the probe batch must carry an explicit LIMIT so
    // the broadcast stays fixed-size at any corpus size (a bare %-slice
    // grows linearly with data — the 100x broadcast killer)
    val knn = SparkEntry.queries("q_sim_knn_join")(spark, sfDir)
    val knnLimits = knn.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.catalyst.plans.logical.GlobalLimit => l
    }
    assert(knnLimits.exists(_.maxRows.exists(_ <= graft.queries.SimilarityQueries.knnProbeBatch)),
      s"knn probe batch has no LIMIT <= ${graft.queries.SimilarityQueries.knnProbeBatch} in plan")
    // q_txt_unigram_lp: the vocabulary broadcast must be top-K capped
    // (web-scale vocabularies are heavy-tailed; uncapped = executor
    // OOM). The cap constant is the PUBLIC one the query itself uses,
    // and the limit must sit on the VOCAB side — its subtree holds the
    // token-frequency Aggregate — not just anywhere in the plan.
    val vocabK = graft.queries.TextQueries.unigramVocabK
    val lp = SparkEntry.queries("q_txt_unigram_lp")(spark, sfDir)
    val lpLimits = lp.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.catalyst.plans.logical.GlobalLimit => l
    }
    val vocabLimits = lpLimits.filter { l =>
      l.maxRows.exists(_ <= vocabK) && l.collectFirst {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate
            if a.groupingExpressions.exists(_.references.exists(_.name == "token")) => a
      }.nonEmpty
    }
    assert(vocabLimits.nonEmpty,
      s"unigram vocabulary side has no top-$vocabK LIMIT over the token-frequency aggregate")
    // q_sim_pair_count: the declared O(n²) exact-verify stage is only
    // safe because both sides are id-bounded — the bound must be the
    // NAMED constant and must reach the parquet scans as a pushed
    // filter (a bound living only in query text could silently drift
    // or stop pushing down)
    val bound = graft.queries.SimilarityQueries.pairCountIdBound
    val pc = SparkEntry.queries("q_sim_pair_count")(spark, sfDir)
    // guard exactly the two embeddings scans (the self cross join's
    // sides); an unrelated dimension scan joining in later must not
    // trip the pushed-filter assertion
    val pcScans = pc.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec
          if f.requiredSchema.fieldNames.contains("vec_id") => f }
    assert(pcScans.length == 2,
      s"expected the 2 embeddings-side scans, found ${pcScans.length}")
    pcScans.foreach { sc =>
      val pushed = sc.metadata.getOrElse("PushedFilters", "")
      assert(pushed.contains(s"LessThan(vec_id,$bound)"),
        s"pair_count scan lacks pushed vec_id<$bound: $pushed")
    }
    // q_emb_pq_recall: every broadcast side (codebook, probe
    // subvectors, probe vectors) is an id-bounded slice — the bound
    // must reach parquet as a pushed filter so the broadcast stays
    // constant-size at any corpus scale
    val pqr = SparkEntry.queries("q_emb_pq_recall")(spark, sfDir)
    val pqrPushed = pqr.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec if f.requiredSchema.fieldNames.contains("vec_id") =>
        f.metadata.getOrElse("PushedFilters", "")
    }
    val probeBound = graft.queries.SimilarityQueries.pqProbeCount
    val cbBound = graft.queries.SimilarityQueries.pqK
    assert(pqrPushed.exists(_.contains(s"LessThan(vec_id,$probeBound)")),
      s"pq_recall probe side lacks pushed vec_id<$probeBound: $pqrPushed")
    assert(pqrPushed.exists(_.contains(s"LessThan(vec_id,$cbBound)")),
      s"pq_recall codebook side lacks pushed vec_id<$cbBound: $pqrPushed")
    // q_sim_maxsim: the query-token embeddings are a construction-time
    // driver pull bounded to ≤ 32 rows by literal probe ids × the
    // 8-token slice, inlined as literals — so the CORPUS plan must be
    // completely join-free (one scan, one aggregate, two windows);
    // any Join appearing here means the bounded pull regressed into a
    // per-token join
    val ms = SparkEntry.queries("q_sim_maxsim")(spark, sfDir)
    val msJoins = ms.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    assert(msJoins.isEmpty, s"maxsim corpus plan must be join-free, found $msJoins")
    val msScans = ms.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec => f }
    assert(msScans.length == 1 &&
      msScans.head.requiredSchema.fieldNames.toSet == Set("doc_id", "text"),
      s"maxsim must make ONE pruned corpus scan: ${msScans.map(_.requiredSchema.fieldNames.mkString(","))}")
  }

  test("parquet scans prune columns: no query reads text/pixels it doesn't use") {
    // q_txt_fingerprint needs only doc_id + text; q_a5_distinct only
    // two lineitem columns — representative pruning probes
    val fp = SparkEntry.queries("q_txt_fingerprint")(spark, sfDir)
    val fpScan = fp.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec => f }.head
    assert(fpScan.requiredSchema.fieldNames.toSet == Set("doc_id", "text"),
      s"fingerprint reads ${fpScan.requiredSchema.fieldNames.mkString(",")}")
    val a5 = SparkEntry.queries("q_a5_distinct")(spark, sfDir)
    val a5Scan = a5.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec => f }.head
    assert(a5Scan.requiredSchema.fieldNames.length <= 2,
      s"a5 reads ${a5Scan.requiredSchema.fieldNames.mkString(",")}")
  }
}
