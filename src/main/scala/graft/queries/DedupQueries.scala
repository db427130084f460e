package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import Q._

/** Deduplication operators over `documents` — exact (hash-groupBy),
  * near-dup by n-gram Jaccard, and the scale-path MinHash/SimHash
  * variants (graft.functions.Dedup). The oracle-checked queries here
  * use engine-portable hashing (md5) and candidate keys so DuckDB can
  * replay them; the LSH pipelines are registered rows-only.
  */
object DedupQueries {

  /** Exact dedup census: total vs distinct md5(text). */
  private def qDedupExact(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .agg(count(lit(1)).as("n_docs"),
           countDistinct(md5(col("text"))).as("n_unique"))

  /** Duplication-aware reweighting (the soft alternative to dropping:
    * keep every copy, down-weight it by its duplicate multiplicity —
    * the SoftDeDup recipe): each document's sampling weight is
    * 1/|exact-dup cluster| in integer MICRO-units (floor(1e6/size) —
    * rational per row, summed exactly, so no order-dependent double
    * accumulation enters the hash gate). The report is per-language:
    * raw count, unique count, effective corpus mass (Σ weights), and
    * the weight extremes.
    *
    * Scale shape: ONE exchange — cluster size is a count over a
    * window partitioned by the 16-byte fingerprint (no groupBy+join
    * back), then the per-lang rollup is partial-aggregatable. Text
    * never shuffles; only (fp, lang, weight) rows move.
    */
  private def qDedupWeights(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("fp")
    t(s, dir, "documents")
      .select(col("lang"),
        md5(regexp_replace(lower(trim(col("text"))), "\\s+", " ")).as("fp"))
      .withColumn("sz", count(lit(1)).over(w))
      .withColumn("w_micro", floor(lit(1000000L) / col("sz")))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("fp")).as("n_unique"),
        sum("w_micro").as("eff_micro"),
        min("w_micro").as("min_w"), max("w_micro").as("max_w"))
      .orderBy("lang")
  }

  /** The one-scan base projection shared by the dedup family: every
    * text-derived column any corpus-curation stage needs — content
    * fingerprint, token count, hashed 3-shingles — built in a single
    * pass over documents. Stages that don't use a column lose it to
    * Catalyst column pruning (e.g. the standalone pair query never
    * computes `fp`), so composing through this projection costs
    * nothing standalone and saves repeated scans when materialized
    * once in [[qCorpusBuild]].
    */
  private def docBase(s: SparkSession, dir: String): DataFrame =
    docBaseOf(t(s, dir, "documents"))

  /** [[docBase]] over an arbitrary documents-shaped input (the sampled
    * recall gate feeds a doc_id-filtered subcorpus through the same
    * pipeline).
    */
  private[queries] def docBaseOf(docs: DataFrame): DataFrame =
    docs
      .withColumn("tk", split(col("text"), " "))
      .select(col("doc_id"), col("lang"),
        md5(col("text")).as("fp"),
        size(col("tk")).as("n_tokens"),
        // sorted ONCE per document (n log n) so every per-PAIR probe
        // downstream is a primitive merge (SortedLongIntersectCount)
        array_sort(shingleHashes3(col("tk"))).as("shingles"))

  /** Connected components over an undirected pair list via alternating
    * large-star / small-star contraction (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC '14): each round is two
    * groupBy+equi-join passes over the EDGE list only, and the graph
    * contracts to per-component min-rooted stars in O(log n) rounds
    * even on adversarial long-chain graphs — vs graph-diameter rounds
    * for plain min-label propagation (the round-3 implementation this
    * replaces). Dedup pair graphs are corpus-tiny, so each round is
    * cheap; `localCheckpoint` truncates lineage per round and the
    * returned round count lets specs assert the log bound on a planted
    * 50-node path graph.
    *
    * Large-star: every node links its strictly-larger neighbors to the
    * minimum of its closed neighborhood (keeps edges canonical
    * larger→smaller). Small-star: every node links its smaller
    * neighbors, and itself, to that minimum. Convergence = the
    * canonical edge set reaches a fixpoint (equal count + empty
    * anti-join — exact, no hash-collision risk); at the fixpoint each
    * component is a star rooted at its minimum id.
    */
  private[queries] def componentsFrom(pairs: DataFrame): (DataFrame, Int) = {
    var edges = pairs
      .select(greatest(col("doc_a"), col("doc_b")).as("u"),
        least(col("doc_a"), col("doc_b")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .localCheckpoint()
    var rounds = 0
    var prevCount = edges.count()
    var done = prevCount == 0L
    while (!done && rounds < 64) {
      // LARGE-STAR over the symmetric view
      val sym = edges.select(col("u"), col("v"))
        .union(edges.select(col("v").as("u"), col("u").as("v")))
      val lmins = sym.groupBy("u").agg(min("v").as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      val afterLarge = sym.join(lmins, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
      // SMALL-STAR: input edges are canonical u > v, so min(v) is the
      // closed-neighborhood minimum already
      val smins = afterLarge.groupBy("u").agg(min("v").as("m"))
      val next = afterLarge.join(smins, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .union(smins.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v")).distinct()
        .localCheckpoint()
      rounds += 1
      // exact fixpoint test: same cardinality and no new edge
      val nextCount = next.count()
      done = nextCount == prevCount &&
        next.join(edges, Seq("u", "v"), "left_anti").isEmpty
      prevCount = nextCount
      edges = next
    }
    val comp = edges
      .select(col("u").as("doc_id"), col("v").as("component"))
      .union(edges.select(col("v").as("doc_id"), col("v").as("component")))
      .distinct()
    (comp, rounds)
  }

  /** Duplicate-cluster assembly: connected components over the
    * near-dup pair graph (the step after pair generation in a real
    * dedup pipeline — transitive closure turns pairwise matches into
    * clusters with one canonical keeper). The pair pipeline persists
    * once — both edge directions read the cache — then
    * [[componentsFrom]] contracts the graph in O(log n)
    * large-star/small-star rounds.
    *
    * Oracle: DuckDB replays the exact pair query plus a recursive-CTE
    * reachability closure — full hash-match, not rows-only.
    */
  private def qDedupComponents(s: SparkSession, dir: String): DataFrame = {
    val pairs = qDedupJaccardPairs(s, dir).select(col("doc_a"), col("doc_b"))
      .persist()
    val (comp, _) = componentsFrom(pairs)
    pairs.unpersist()
    comp.orderBy("doc_id")
  }

  /** Leakage-safe train/val/test assignment: split by near-dup CLUSTER,
    * not by document, so two near-duplicates can never land on opposite
    * sides of a train/eval boundary (the contamination mode document-
    * level splitting invites — Lee et al. 2022 measure benchmark
    * inflation from exactly these pairs). Singleton documents are their
    * own cluster (component = doc_id); the deterministic modular law is
    * the same one as q_r2_split_assign (R2 split contract,
    * build.py:179-263), applied to the cluster id so membership is
    * reproducible and DuckDB-replayable. Emits the per-split census
    * (clusters + docs); the assignment relation itself is the
    * pre-aggregation `clustered` projection.
    *
    * Scale shape: pair graph + O(log n) CC (same as
    * [[qDedupComponents]]), then one broadcast-size left join of the
    * component map onto documents — docs not in any pair never enter
    * the CC contraction.
    */
  private def qDedupClusterSplit(s: SparkSession, dir: String): DataFrame = {
    val pairs = qDedupJaccardPairs(s, dir).select(col("doc_a"), col("doc_b"))
      .persist()
    val (comp, _) = componentsFrom(pairs)
    pairs.unpersist()
    val clustered = t(s, dir, "documents").select(col("doc_id"))
      .join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("cluster"))
    clustered
      .withColumn("split",
        when(col("cluster") % 10 < 8, "train")
          .when(col("cluster") % 10 === 8, "val")
          .otherwise("test"))
      .groupBy("split")
      .agg(countDistinct("cluster").as("n_clusters"),
        count(lit(1)).as("n_docs"))
      .orderBy("split")
  }

  /** Exact-dedup survivor selection: keep min doc_id per content hash
    * (the classic keep-first policy), via window min — no shuffle of
    * the text payload itself, only the 128-bit key.
    */
  private def qDedupKeepFirst(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("fp")
    t(s, dir, "documents")
      .withColumn("fp", md5(col("text")))
      .withColumn("keeper", min("doc_id").over(w))
      .filter(col("doc_id") === col("keeper"))
      .select(col("doc_id"), col("fp"))
      .orderBy("doc_id")
  }

  /** Near-dup pairs by blocking + exact 3-shingle Jaccard — the
    * verification stage of a MinHash pipeline, expressed relationally.
    * Blocking: each doc lands in TWO length buckets (n/4 and n/4+1) —
    * language-agnostic, since near-dups can cross langs — so any pair
    * within 4 tokens of each other shares a bucket and
    * the self-join never degenerates into a cross product. The LSH
    * band-bucket join in graft.functions.Dedup is the scale path; at
    * sf0.01 both find exactly the 25 planted near-dup pairs.
    */
  private def qDedupJaccardPairs(s: SparkSession, dir: String): DataFrame =
    jaccardPairsFrom(docBase(s, dir))

  /** The exact pair pipeline over an arbitrary documents-shaped input
    * — the denominator of the LSH recall gate, which above its doc cap
    * measures over a deterministic subcorpus sample.
    */
  private[queries] def jaccardPairsOver(docs: DataFrame): DataFrame =
    jaccardPairsFrom(docBaseOf(docs))

  /** The pair pipeline body over a [[docBase]]-shaped input (lazy for
    * the standalone query — column pruning drops `fp`/`lang` — or a
    * checkpointed shared projection inside [[qCorpusBuild]]).
    */
  private def jaccardPairsFrom(base0: DataFrame): DataFrame = {
    // ship 64-bit shingle hashes, not strings (4x smaller shuffle
    // payload, cheaper set probes; cross-engine mismatch needs an
    // xxhash64 collision inside one compared pair, ~1e-12), built in
    // the zip shape of Q.shingleHashes3 so the split isn't inlined
    // per element
    val base = base0
      .select(col("doc_id"), floor(col("n_tokens") / 4).as("bucket"),
        col("shingles"))
    // AllPairs-style PREFIX FILTERING (Bayardo, Ma & Srikant, "Scaling
    // Up All Pairs Similarity Search", WWW '07) on top of the
    // length-bucket blocking that defines the operator's semantics: a
    // pair with Jaccard >= t shares at least one hash in each side's
    // prefix of length |s| - ceil(t*|s|) + 1 of its SORTED shingle set
    // (pigeonhole: J >= t forces >= ceil(t*|s|) shared elements, which
    // cannot all hide in the ceil(t*|s|) - 1 suffix positions). The
    // join key is (bucket, prefix hash) instead of the bucket alone:
    // candidates shrink from "every length-peer pair" — quadratic in
    // bucket occupancy, ~100x when the corpus grows 10x — to pairs
    // genuinely sharing a shingle, which grows ~linearly. Lossless for
    // t = 0.5, so the DuckDB oracle (which replays the plain bucket
    // join) hash-matches unchanged.
    val prefix = slice(col("shingles"), lit(1),
      greatest(size(col("shingles"))
        - ceil(size(col("shingles")) * lit(0.5)).cast("int") + 1, lit(0)))
    val a = base.select(col("doc_id").as("doc_a"), col("bucket"),
      explode(prefix).as("ph"))
    // asymmetric bucket fan-out: the a-side keeps its primary bucket,
    // the b-side fans to bucket-1/bucket/bucket+1, so a pair meets
    // only within one bucket width (part of the operator's semantics)
    val b = base
      .withColumn("bucket", explode(array(col("bucket") - 1, col("bucket"), col("bucket") + 1)))
      .select(col("doc_id").as("doc_b"), col("bucket"), explode(prefix).as("ph"))
    // a pair sharing several prefix hashes meets several times: the
    // id-only distinct dedups BEFORE the payload joins, so shingle
    // arrays shuffle once per doc, never once per candidate
    val cand = a.join(b, Seq("bucket", "ph"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .distinct()
    // per-pair verify: a single primitive merge over the pre-sorted
    // hash arrays (native codegen'd expression — the typed Dataset.map
    // this replaces paid an encoder round-trip boxing every shingle of
    // every candidate pair; CollapseProject won't inline the non-cheap
    // expression, so `inter` evaluates once per surviving projection)
    import graft.functions.SortedLongIntersectCount.sortedIntersectCount
    cand
      .join(base.select(col("doc_id").as("doc_a"), col("shingles").as("sh_a")), "doc_a")
      .join(base.select(col("doc_id").as("doc_b"), col("shingles").as("sh_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        sortedIntersectCount(col("sh_a"), col("sh_b")).as("inter"),
        (size(col("sh_a")) + size(col("sh_b"))).as("sum_len"))
      .select(col("doc_a"), col("doc_b"), col("inter"),
        (col("sum_len") - col("inter")).as("uni"))
      .withColumn("jaccard",
        when(col("uni") > 0, col("inter").cast("double") / col("uni"))
          .otherwise(lit(0.0)))
      .filter(col("uni") > 0 && col("jaccard") >= 0.5)
      .orderBy("doc_a", "doc_b")
  }

  /** The flagship corpus-curation composition — the end-to-end shape a
    * 100 TB training-data build actually runs, each stage the
    * oracle-verified operator above it:
    *   1. EXACT dedup: keep the min doc_id per md5(text) (window over
    *      the 128-bit key only, text never shuffles);
    *   2. NEAR-DUP drop: connected components over the jaccard pair
    *      graph, keep only cluster canonicals (component == doc_id);
    *   3. QUALITY gate: deterministic length floor (>= 10 tokens);
    *   4. DECONTAMINATE: drop the benchmark slice itself and every
    *      doc sharing a 3-shingle with it (broadcast anti-join);
    *   5. per-language census of the surviving corpus.
    * All set subtractions are left-anti equi-joins on doc_id; the full
    * chain is DuckDB-replayed (recursive CTE + the same filters) and
    * hash-checked.
    *
    * ONE scan: every stage reads the [[docBase]] projection
    * `(doc_id, lang, fp, n_tokens, shingles)`, materialized once via
    * `localCheckpoint` (eager; block storage is ContextCleaner-managed
    * so the blocks free when the plan is GC'd). Round 3 re-scanned and
    * re-shingled documents in each of the four stages — that repeated
    * base work was the flagship's entire cost and would dominate at
    * 100 TB; now the text is read, split, hashed and shingled exactly
    * once.
    */
  private def qCorpusBuild(s: SparkSession, dir: String): DataFrame = {
    val base = docBase(s, dir).localCheckpoint()
    // near-dup components over the shared projection
    val pairs = jaccardPairsFrom(base).select(col("doc_a"), col("doc_b"))
      .persist()
    val (comp, _) = componentsFrom(pairs)
    pairs.unpersist()
    val dupDrop = comp.filter(col("component") < col("doc_id"))
      .select("doc_id")
    // decontamination from the same shingle column (broadcast bench side)
    val sh = base.select(col("doc_id"), explode(col("shingles")).as("sh"))
    val bench = sh.filter(col("doc_id") % 100 === 0).select("sh").distinct()
    val contaminated = sh.filter(col("doc_id") % 100 =!= 0)
      .join(broadcast(bench), "sh")
      .select("doc_id").distinct()
    val w = Window.partitionBy("fp")
    base
      .withColumn("keeper", min("doc_id").over(w))
      .filter(col("doc_id") === col("keeper"))
      .join(dupDrop, Seq("doc_id"), "left_anti")
      .filter(col("n_tokens") >= 10)
      .filter(col("doc_id") % 100 =!= 0)
      .join(contaminated, Seq("doc_id"), "left_anti")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"))
      .orderBy("lang")
  }

  /** Coarse-key dedup (keep-first per (lang, source) group): the
    * grouped-min + count shape of a metadata-level dedup pass.
    */
  private def qDedupGroupKeeper(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .groupBy("lang", "source")
      .agg(min("doc_id").as("keeper"), count(lit(1)).as("n_members"))
      .orderBy("lang", "source")

  /** Containment near-dup pairs — the ASYMMETRIC twin of
    * [[qDedupJaccardPairs]]: containment = |A∩B| / min(|A|,|B|)
    * catches a short document embedded in a long one (quotation,
    * boilerplate wrapping, excerpt duplication), which symmetric
    * Jaccard structurally misses (the length imbalance caps J at
    * |A|/|B|). Because containment gives no length bound, the
    * length-bucket blocking of the Jaccard path is WRONG here;
    * blocking is instead a rare-shingle inverted index: shingles with
    * document frequency <= maxDf (df-capping is the standard
    * boilerplate cut — a ubiquitous shingle is evidence of template,
    * not duplication, and it is exactly the one whose posting list
    * explodes). The operator's semantics are defined over the
    * df-filtered shingle sets, so the blocking is LOSSLESS by
    * construction: qualifying pairs share a rare shingle by
    * definition. Per-shingle fan-out is bounded by maxDf — worst-case
    * candidate count is (#rare shingles) * maxDf^2, linear in corpus
    * size for fixed maxDf — and the verify stage reuses the native
    * sorted-merge intersect kernel over df-filtered sorted hash sets.
    */
  private def qDedupContainment(s: SparkSession, dir: String): DataFrame =
    graft.functions.Dedup
      .containmentPairs(t(s, dir, "documents"), "doc_id", "text",
        tau = 0.9, maxDf = 10, shingleWidth = 3)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
        col("inter"), col("n_a"), col("n_b"), col("containment"))
      .orderBy("doc_a", "doc_b")

  /** Incremental (batch-vs-store) dedup — the shape a CONTINUOUS
    * ingestion pipeline runs: a new batch (doc_id % 10 == 9 plays the
    * fresh crawl) is deduped against the historical fingerprint store
    * (everything else) by normalized-md5 anti-join, then keep-first
    * within the batch. Scale shape: only 16-byte fingerprints cross
    * the join — text never shuffles — and in production the store is
    * a bucketed fingerprint table, so the anti-join co-locates on the
    * store's bucketing and reshuffles just the (small) batch side;
    * the windowed within-batch pass runs on the anti-join survivors
    * only.
    */
  private def qDedupIncremental(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"),
        md5(regexp_replace(lower(trim(col("text"))), "\\s+", " ")).as("fp"))
    val store = docs.filter(col("doc_id") % 10 =!= 9).select("fp").distinct()
    val batch = docs.filter(col("doc_id") % 10 === 9)
    val w = Window.partitionBy("fp")
    batch.join(store, Seq("fp"), "left_anti")
      .withColumn("keeper", min("doc_id").over(w))
      .filter(col("doc_id") === col("keeper"))
      .select("doc_id", "fp")
      .orderBy("doc_id")
  }

  /** Fuzzy (edit-distance) near-dup pairs over normalized 40-char
    * title prefixes — the record-linkage/entity-resolution member of
    * the dedup family: catches single-typo duplicates that token-set
    * measures (Jaccard/containment) treat as fully distinct tokens
    * and exact fingerprints miss entirely.
    *
    * Blocking is the FastSS deletion neighborhood (Bocek et al.,
    * "Fast Similarity Search in Large Dictionaries", 2007): each
    * title emits itself plus every one-char-deleted variant (≤ 41
    * short strings). Two titles within Levenshtein distance 1 ALWAYS
    * share a variant — a substitution at position p means deleting p
    * from both sides coincides, an insert/delete means one side IS a
    * deletion variant of the other — so hash-joining on the variant
    * is lossless for the distance-1 predicate, and the exact
    * `levenshtein` filter afterwards discards the collisions the
    * neighborhood over-generates. The committed oracle is the
    * INDEPENDENT brute-force O(n²) join (with only the provable
    * |len(a)-len(b)| ≤ 1 prefilter), so the hash gate proves the
    * blocking lossless on real data at sf0.01 and sf0.1.
    *
    * Scale shape: the one exchange carries (8-byte variant hash,
    * doc_id, 40-byte title) × ≤41 per doc — linear in corpus size,
    * never the O(n²) pair space; candidate groups are bounded by
    * title-prefix multiplicity (measured ≤ 4 at sf0.1), and the
    * `distinct()` collapses multi-variant collisions before the
    * per-pair verify. At 100 TB this is the standard dictionary
    * dedup: fan-out 41×, then hash-partitioned equi-join — no sort,
    * no cartesian.
    */
  private def qDedupFuzzy(s: SparkSession, dir: String): DataFrame = {
    val titles = t(s, dir, "documents")
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        lower(substring(regexp_replace(col("text"), "\\s+", " "), 1, 40)).as("title"))
    val deletions = transform(sequence(lit(0), length(col("title")) - 1),
      i => concat(col("title").substr(lit(1), i),
                  col("title").substr(i + lit(2), lit(40))))
    val variants = titles
      .select(col("doc_id"), col("title"),
        explode(array_distinct(concat(array(col("title")), deletions))).as("v"))
      .select(col("doc_id"), col("title"), xxhash64(col("v")).as("vh"))
    val a = variants.select(col("vh"), col("doc_id").as("doc_a"), col("title").as("ta"))
    val b = variants.select(col("vh"), col("doc_id").as("doc_b"), col("title").as("tb"))
    a.join(b, "vh")
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b", "ta", "tb").distinct()
      .withColumn("dist", levenshtein(col("ta"), col("tb")))
      .filter(col("dist") <= 1)
      .select(col("doc_a"), col("doc_b"), col("dist"))
      .orderBy("doc_a", "doc_b")
  }

  val registry: Seq[QueryDef] = Seq(
    QueryDef("q_dedup_fuzzy", qDedupFuzzy,
      """WITH t AS (
        |  SELECT doc_id,
        |         lower(substr(regexp_replace(text, '\s+', ' ', 'g'), 1, 40)) AS title
        |  FROM documents WHERE text IS NOT NULL),
        |p AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |         levenshtein(a.title, b.title) AS d
        |  FROM t a JOIN t b
        |    ON a.doc_id < b.doc_id
        |   AND abs(length(a.title) - length(b.title)) <= 1)
        |SELECT doc_a, doc_b, CAST(d AS INTEGER) AS dist
        |FROM p WHERE d <= 1
        |ORDER BY doc_a, doc_b""".stripMargin),
    QueryDef("q_dedup_containment", qDedupContainment,
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(
        |    CASE WHEN len(toks) >= 3 THEN
        |      list_distinct(list_transform(range(1, len(toks) - 1),
        |        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
        |    ELSE [] END) AS sh
        |  FROM tk),
        |rare AS (
        |  SELECT sh FROM (SELECT sh, count(*) AS df FROM sh GROUP BY sh)
        |  WHERE df <= 10),
        |rs AS (SELECT s.doc_id, s.sh FROM sh s JOIN rare USING (sh)),
        |fsets AS (SELECT doc_id, list_sort(list(sh)) AS shs FROM rs GROUP BY doc_id),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM rs a JOIN rs b ON a.sh = b.sh AND a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b,
        |  len(list_intersect(fa.shs, fb.shs)) AS inter,
        |  len(fa.shs) AS n_a, len(fb.shs) AS n_b,
        |  CAST(len(list_intersect(fa.shs, fb.shs)) AS DOUBLE)
        |    / least(len(fa.shs), len(fb.shs)) AS containment
        |FROM cand
        |JOIN fsets fa ON cand.doc_a = fa.doc_id
        |JOIN fsets fb ON cand.doc_b = fb.doc_id
        |WHERE CAST(len(list_intersect(fa.shs, fb.shs)) AS DOUBLE)
        |    / least(len(fa.shs), len(fb.shs)) >= 0.9
        |ORDER BY doc_a, doc_b""".stripMargin),
    QueryDef("q_dedup_incremental", qDedupIncremental,
      """WITH fp AS (
        |  SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |  FROM documents),
        |store AS (SELECT DISTINCT fp FROM fp WHERE doc_id % 10 <> 9),
        |novel AS (
        |  SELECT b.doc_id, b.fp FROM fp b
        |  WHERE b.doc_id % 10 = 9 AND b.fp NOT IN (SELECT fp FROM store))
        |SELECT doc_id, fp FROM (
        |  SELECT doc_id, fp, min(doc_id) OVER (PARTITION BY fp) AS keeper
        |  FROM novel)
        |WHERE doc_id = keeper ORDER BY doc_id""".stripMargin),
    QueryDef("q_dedup_exact", qDedupExact,
      "SELECT count(*) AS n_docs, count(DISTINCT md5(text)) AS n_unique FROM documents"),
    QueryDef("q_dedup_weights", qDedupWeights,
      """WITH f AS (
        |  SELECT lang, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |  FROM documents),
        |s AS (SELECT lang, fp, count(*) OVER (PARTITION BY fp) AS sz FROM f)
        |SELECT lang, count(*) AS n_docs, count(DISTINCT fp) AS n_unique,
        |  CAST(sum(1000000 // sz) AS BIGINT) AS eff_micro,
        |  CAST(min(1000000 // sz) AS BIGINT) AS min_w,
        |  CAST(max(1000000 // sz) AS BIGINT) AS max_w
        |FROM s GROUP BY lang ORDER BY lang""".stripMargin),
    QueryDef("q_dedup_keep_first", qDedupKeepFirst,
      """SELECT doc_id, fp FROM (
        |  SELECT doc_id, md5(text) AS fp,
        |    min(doc_id) OVER (PARTITION BY md5(text)) AS keeper
        |  FROM documents)
        |WHERE doc_id = keeper ORDER BY doc_id""".stripMargin),
    QueryDef("q_dedup_jaccard_pairs", qDedupJaccardPairs,
      """WITH base0 AS (
        |  SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tokens,
        |    CASE WHEN len(string_split(text, ' ')) >= 3 THEN
        |      list_distinct(list_transform(range(1, len(string_split(text, ' ')) - 1),
        |        i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2]))
        |    ELSE [] END AS shingles
        |  FROM documents),
        |base AS (
        |  SELECT doc_id, CAST(floor(n_tokens / 4) AS BIGINT) AS bucket, shingles
        |  FROM base0),
        |bexp AS (
        |  SELECT doc_id, unnest([bucket - 1, bucket, bucket + 1]) AS bucket, shingles
        |  FROM base),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    a.shingles AS sh_a, b.shingles AS sh_b
        |  FROM base a JOIN bexp b
        |    ON a.bucket = b.bucket AND a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b,
        |  len(list_intersect(sh_a, sh_b)) AS inter,
        |  len(list_distinct(list_concat(sh_a, sh_b))) AS uni,
        |  CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE)
        |    / len(list_distinct(list_concat(sh_a, sh_b))) AS jaccard
        |FROM pairs
        |WHERE len(list_distinct(list_concat(sh_a, sh_b))) > 0
        |  AND CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE)
        |    / len(list_distinct(list_concat(sh_a, sh_b))) >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin),
    QueryDef("q_dedup_group_keeper", qDedupGroupKeeper,
      """SELECT lang, source, min(doc_id) AS keeper, count(*) AS n_members
        |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin),
    QueryDef("q_dedup_components", qDedupComponents,
      """WITH RECURSIVE base0 AS (
        |  SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
        |    CASE WHEN len(string_split(text, ' ')) >= 3 THEN
        |      list_distinct(list_transform(range(1, len(string_split(text, ' ')) - 1),
        |        i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2]))
        |    ELSE [] END AS shingles
        |  FROM documents),
        |base AS (
        |  SELECT doc_id, CAST(floor(n_tokens / 4) AS BIGINT) AS bucket, shingles
        |  FROM base0),
        |bexp AS (
        |  SELECT doc_id, unnest([bucket - 1, bucket, bucket + 1]) AS bucket, shingles
        |  FROM base),
        |cand AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM base a JOIN bexp b
        |    ON a.bucket = b.bucket AND a.doc_id < b.doc_id
        |  WHERE len(list_distinct(list_concat(a.shingles, b.shingles))) > 0
        |    AND CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
        |      / len(list_distinct(list_concat(a.shingles, b.shingles))) >= 0.5),
        |edges AS (
        |  SELECT doc_a AS a, doc_b AS b FROM cand
        |  UNION ALL SELECT doc_b, doc_a FROM cand),
        |reach(id, root) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT e.b, r.root FROM reach r JOIN edges e ON e.a = r.id)
        |SELECT id AS doc_id, CAST(min(root) AS BIGINT) AS component
        |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin,
      eager = true), // iterate-to-fixpoint component counts at construction
    QueryDef("q_dedup_cluster_split", qDedupClusterSplit,
      """WITH RECURSIVE base0 AS (
        |  SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
        |    CASE WHEN len(string_split(text, ' ')) >= 3 THEN
        |      list_distinct(list_transform(range(1, len(string_split(text, ' ')) - 1),
        |        i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2]))
        |    ELSE [] END AS shingles
        |  FROM documents),
        |base AS (
        |  SELECT doc_id, CAST(floor(n_tokens / 4) AS BIGINT) AS bucket, shingles
        |  FROM base0),
        |bexp AS (
        |  SELECT doc_id, unnest([bucket - 1, bucket, bucket + 1]) AS bucket, shingles
        |  FROM base),
        |cand AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM base a JOIN bexp b
        |    ON a.bucket = b.bucket AND a.doc_id < b.doc_id
        |  WHERE len(list_distinct(list_concat(a.shingles, b.shingles))) > 0
        |    AND CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
        |      / len(list_distinct(list_concat(a.shingles, b.shingles))) >= 0.5),
        |edges AS (
        |  SELECT doc_a AS a, doc_b AS b FROM cand
        |  UNION ALL SELECT doc_b, doc_a FROM cand),
        |reach(id, root) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT e.b, r.root FROM reach r JOIN edges e ON e.a = r.id),
        |comp AS (SELECT id, min(root) AS component FROM reach GROUP BY id),
        |clustered AS (
        |  SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS cluster
        |  FROM documents d LEFT JOIN comp c ON c.id = d.doc_id)
        |SELECT CASE WHEN cluster % 10 < 8 THEN 'train'
        |    WHEN cluster % 10 = 8 THEN 'val' ELSE 'test' END AS split,
        |  count(DISTINCT cluster) AS n_clusters, count(*) AS n_docs
        |FROM clustered GROUP BY 1 ORDER BY split""".stripMargin,
      eager = true), // iterate-to-fixpoint component counts at construction
    QueryDef("q_corpus_build", qCorpusBuild,
      """WITH RECURSIVE base0 AS (
        |  SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
        |    CASE WHEN len(string_split(text, ' ')) >= 3 THEN
        |      list_distinct(list_transform(range(1, len(string_split(text, ' ')) - 1),
        |        i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2]))
        |    ELSE [] END AS shingles
        |  FROM documents),
        |base AS (
        |  SELECT doc_id, CAST(floor(n_tokens / 4) AS BIGINT) AS bucket, shingles FROM base0),
        |bexp AS (
        |  SELECT doc_id, unnest([bucket - 1, bucket, bucket + 1]) AS bucket, shingles FROM base),
        |cand AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM base a JOIN bexp b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
        |  WHERE len(list_distinct(list_concat(a.shingles, b.shingles))) > 0
        |    AND CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
        |      / len(list_distinct(list_concat(a.shingles, b.shingles))) >= 0.5),
        |edges AS (
        |  SELECT doc_a AS a, doc_b AS b FROM cand UNION ALL SELECT doc_b, doc_a FROM cand),
        |reach(id, root) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT e.b, r.root FROM reach r JOIN edges e ON e.a = r.id),
        |comp AS (SELECT id, min(root) AS component FROM reach GROUP BY id),
        |dup_drop AS (SELECT id AS doc_id FROM comp WHERE component < id),
        |sh AS (
        |  SELECT doc_id, unnest(shingles) AS sh FROM base0),
        |bench AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 100 = 0),
        |contaminated AS (
        |  SELECT DISTINCT t.doc_id FROM sh t JOIN bench b USING (sh) WHERE t.doc_id % 100 <> 0),
        |keepers AS (
        |  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
        |cleaned AS (
        |  SELECT d.* FROM documents d
        |  JOIN keepers k ON d.doc_id = k.doc_id
        |  WHERE d.doc_id NOT IN (SELECT doc_id FROM dup_drop)
        |    AND len(string_split(d.text, ' ')) >= 10
        |    AND d.doc_id % 100 <> 0
        |    AND d.doc_id NOT IN (SELECT doc_id FROM contaminated))
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
        |FROM cleaned GROUP BY lang ORDER BY lang""".stripMargin,
      eager = true), // shared base-projection localCheckpoint at construction
  )
}
