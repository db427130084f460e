package graft.queries

import graft.core.ImagePlane
import graft.dataset.{Balancer, DatasetBuilder, Splitter}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Q._

/** Dataset-assembly operator queries (R2/R3/R5/R6/R7 + A2). Seeded
  * random MEMBERSHIP cannot be replayed by DuckDB (different RNG), but
  * the queries report membership-invariant contracts — split COUNTS,
  * the prefix property, per-category balance targets — which replay
  * exactly: counts are closed-form in n (build.py:213-256's ceil
  * chain, IEEE-identical in both engines), the balance target is the
  * max category count, and the prefix/subset verdicts are pinned
  * constants the engine must reproduce from real data. Membership
  * determinism itself is asserted in SplitterSpec/DatasetBuilderSpec.
  * q_ds_build stays rows-only (its fixture is synthesized in-session).
  */
object DatasetQueries {

  /** R2 on real data: split the orders table, report exact counts. */
  private def qDsSplitContract(s: SparkSession, dir: String): DataFrame =
    Splitter.trainValTestSplit(t(s, dir, "orders"), (0.8, 0.1, 0.1), seed = 42)
      .groupBy("split")
      .agg(count(lit(1)).as("n"))
      .orderBy("split")

  /** R3: nested prefix splits of customer; each row checks the subset
    * property against the next larger split — expressed as a
    * left-anti-join count (rows of the smaller split absent from the
    * larger one), so nothing is collected to the driver and the check
    * runs at any split size.
    */
  private def qDsNestedPrefix(s: SparkSession, dir: String): DataFrame = {
    val df = t(s, dir, "customer").select("c_custkey")
    val splits = Splitter.nestedSplit(df, splitCounts = Seq(10, 100, 500), seed = 42)
    Seq(("10", "100"), ("100", "500")).map { case (k1, k2) =>
      val smaller = splits(k1)
      val larger = splits(k2)
      val violations = smaller
        .join(larger, smaller("c_custkey") === larger("c_custkey"), "left_anti")
      smaller.agg(count(lit(1)).as("n"))
        .crossJoin(violations.agg(count(lit(1)).as("n_violations")))
        .select(lit(k1).as("split"), col("n"),
          (col("n_violations") === 0).as("is_prefix_of_next"))
    }.reduce(_ unionByName _).orderBy("split")
  }

  /** R5 on real data: balance customers by segment; every category
    * must land exactly on the max count.
    */
  private def qDsBalance(s: SparkSession, dir: String): DataFrame =
    Balancer.balance(t(s, dir, "customer"), "c_mktsegment", seed = 42)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"), countDistinct("c_custkey").as("n_distinct"))
      .orderBy("c_mktsegment")

  /** R7 flagship: the full build_dataset pipeline on a synthetic
    * 3-experiment fixture -> per-tissue summary + split census.
    */
  private def qDsBuild(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val planes = (for {
      e <- 1 to 3
      i <- 0 until 10
    } yield {
      val p = ImagePlane.gridLabels(ImagePlane.blankPlanes(1, 1, 20, 20).head, 5)
      (s"exp$e", s"fov_e${e}_i$i", p.stack, p.crop, p.slice,
        p.nRows, p.nCols, p.channels, p.pixels, p.labels)
    }).toDF("experiment", "fov", "stack", "crop", "slice",
      "nRows", "nCols", "channels", "pixels", "labels")
    val meta = Seq(
      ("exp1", "breast", "mibi"), ("exp2", "breast", "vectra"),
      ("exp3", "lung", "mibi")).toDF("experiment", "tissue", "platform")
    val built = DatasetBuilder.buildDataset(s, planes, meta,
      outRows = 10, outCols = 10, balance = true, seed = 42)
    built.toDF()
      .groupBy("tissue", "split")
      .agg(count(lit(1)).as("n_images"),
        sum(graft.functions.LabelExprs.distinctNonzeroCount(col("labels"))).as("n_cells"))
      .orderBy("tissue", "split")
  }

  /** Grouped k-fold assignment (sklearn GroupKFold semantics, hash
    * flavor): every document lands in the fold of its SOURCE, so no
    * source ever straddles a train/eval boundary — the leakage rule
    * the reference's experiment-level split enforces
    * (dataset_splitter.py keeps fovs of one experiment together) and
    * the one CV over web corpora needs (near-dup pages cluster within
    * a domain; splitting a domain across folds leaks).
    *
    * The fold is a pure function of the group key — `md5(source)`'s
    * first 8 hex digits mod k — so assignment is stable under corpus
    * growth (adding documents never moves an existing source between
    * folds, unlike count-balanced assignment) and needs NO shuffle of
    * the group list: the fold column is map-side arithmetic on every
    * row, and the only exchange is the reporting groupBy. At 100 TB
    * that property is the difference between a metadata-only fold
    * column and a global group registry.
    */
  val kFolds = 5

  private def qDsKfold(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .withColumn("fold",
        pmod(conv(substring(md5(col("source")), 1, 8), 16, 10).cast("long"),
          lit(kFolds)))
      .groupBy("fold", "lang")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"),
        min("source").as("first_source"),
        sum("n_chars").as("n_chars_total"))
      .orderBy("fold", "lang")

  /** Class-weight census for loss reweighting (Cui et al., CVPR 2019
    * "effective number of samples", β = 0.999, beside the plain
    * inverse-frequency weight): per language, the effective-number
    * weight (1−β)/(1−β^n) with β^n computed as exp(n·ln β) —
    * the SAME formula in both engines, no pow — quantized to nano
    * units per class BEFORE the k-row normalization, so the
    * normalized weight is an exact integer ratio (Σ weights = k by
    * construction). The rebalancing table a trainer consumes when the
    * corpus mix is skewed.
    *
    * Scale shape: one partial-aggregatable groupBy(lang); everything
    * after is arithmetic on the |langs|-row census plus a 1-row
    * broadcast totals cross join.
    */
  private def qDsClassWeights(s: SparkSession, dir: String): DataFrame = {
    val cls = t(s, dir, "documents").groupBy(col("lang"))
      .agg(count(lit(1)).as("n"))
      .withColumn("eff_w_nnat",
        round(lit(1e9) * (lit(1.0) - lit(0.999)) /
          (lit(1.0) - exp(col("n").cast("double") * log(lit(0.999)))))
          .cast("long"))
    val tot = cls.agg(count(lit(1)).as("k"), sum(col("n")).as("n_tot"),
      sum(col("eff_w_nnat")).as("w_tot_nnat"))
    cls.crossJoin(broadcast(tot))
      .select(col("lang"), col("n"), col("eff_w_nnat"),
        round(lit(1000000.0) * (col("eff_w_nnat") * col("k")).cast("double") /
          col("w_tot_nnat")).cast("long").as("eff_w_norm_ppm"),
        round(lit(1000000.0) * col("n_tot").cast("double") /
          (col("k") * col("n")).cast("double")).cast("long").as("invfreq_ppm"))
      .orderBy("lang")
  }

  val registry: Seq[QueryDef] = Seq(
    QueryDef("q_ds_class_weights", qDsClassWeights,
      """WITH cls AS (
        |  SELECT lang, count(*) AS n,
        |    CAST(round(1e9 * (1.0 - 0.999) /
        |      (1.0 - exp(CAST(count(*) AS DOUBLE) * ln(0.999)))) AS BIGINT)
        |      AS eff_w_nnat
        |  FROM documents GROUP BY 1),
        |tot AS (SELECT count(*) AS k, CAST(sum(n) AS BIGINT) AS n_tot,
        |               CAST(sum(eff_w_nnat) AS BIGINT) AS w_tot_nnat FROM cls)
        |SELECT lang, n, eff_w_nnat,
        |  CAST(round(1000000.0 * CAST(eff_w_nnat * k AS DOUBLE) / w_tot_nnat)
        |       AS BIGINT) AS eff_w_norm_ppm,
        |  CAST(round(1000000.0 * CAST(n_tot AS DOUBLE) / CAST(k * n AS DOUBLE))
        |       AS BIGINT) AS invfreq_ppm
        |FROM cls, tot ORDER BY lang""".stripMargin),
    QueryDef("q_ds_kfold", qDsKfold,
      """SELECT ('0x' || substring(md5(source), 1, 8))::BIGINT % 5 AS fold,
        |  lang, count(*) AS n_docs, count(DISTINCT source) AS n_sources,
        |  min(source) AS first_source, CAST(sum(n_chars) AS BIGINT) AS n_chars_total
        |FROM documents GROUP BY 1, 2 ORDER BY fold, lang""".stripMargin),
    // full-pipeline contract over the FIXED 30-plane fixture: 30 fovs
    // (breast 20, lung 10), each 20x20 with 16 area-16 cells, tiled
    // 2x2 into 10x10 outputs (4 cells each => n_cells = 4*n_images).
    // Split sizes follow the ceil chain (remainder ceil(0.2*30)=6,
    // test ceil(0.5*6)=3, val 3, train 24); the seeded (42, MT19937-
    // parity) shuffle fixes per-tissue membership (test 2/1, val 2/2,
    // train 16/7 breast/lung), and train balancing oversamples lung
    // 7->16 fovs. In tiles: breast 8/8/64, lung 4/8/64. Pinned — the
    // engine must reproduce these from the real seeded pipeline.
    QueryDef("q_ds_build", qDsBuild,
      """SELECT * FROM (VALUES
        |  ('breast', 'test',  8,  32), ('breast', 'train', 64, 256),
        |  ('breast', 'val',   8,  32), ('lung',   'test',  4,  16),
        |  ('lung',   'train', 64, 256), ('lung',  'val',   8,  32)
        |) AS t(tissue, split, n_images, n_cells)
        |ORDER BY tissue, split""".stripMargin),
    // splitCounts((0.8,0.1,0.1)) main path: remainder = ceil(0.2 * n),
    // test = ceil(0.5 * remainder), val = remainder - test, train =
    // n - remainder. 0.2 * n is the same IEEE double product Scala
    // computes (valRemainderRatio rounds to exactly 0.2), so the ceil
    // chain replays bit-for-bit. Small-N degradation branches
    // (n <= 2, sub-1 expected val/test) cannot trigger at any test SF.
    QueryDef("q_ds_split_contract", qDsSplitContract,
      """WITH n AS (SELECT count(*) AS n FROM orders),
        |c AS (SELECT n, CAST(ceil(0.2 * n) AS BIGINT) AS remainder FROM n),
        |d AS (SELECT n, remainder, CAST(ceil(0.5 * remainder) AS BIGINT) AS test FROM c)
        |SELECT 'test' AS split, test AS n FROM d
        |UNION ALL SELECT 'train', n - remainder FROM d
        |UNION ALL SELECT 'val', remainder - test FROM d
        |ORDER BY split""".stripMargin, eager = true), // split-size counts at construction
    // the R3 contract: each nested split holds exactly its requested
    // count and is a prefix (subset) of the next larger one. The
    // verdicts are pinned — the engine derives them from real
    // anti-join counts over the seeded permutation.
    QueryDef("q_ds_nested_prefix", qDsNestedPrefix,
      """SELECT '10' AS split, CAST(10 AS BIGINT) AS n, true AS is_prefix_of_next
        |UNION ALL
        |SELECT '100', CAST(100 AS BIGINT), true
        |ORDER BY split""".stripMargin, eager = true), // split-size counts at construction
    // R5: every category oversamples to exactly the max category
    // count; distinct keys per category are untouched by duplication.
    QueryDef("q_ds_balance", qDsBalance,
      """WITH c AS (SELECT c_mktsegment, count(*) AS cnt,
        |             count(DISTINCT c_custkey) AS n_distinct
        |           FROM customer GROUP BY 1),
        |m AS (SELECT max(cnt) AS mx FROM c)
        |SELECT c_mktsegment, mx AS n, n_distinct FROM c, m
        |ORDER BY c_mktsegment""".stripMargin),
  )
}
