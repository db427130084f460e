package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Q._

/** Text-analysis operators over the `documents` table — the
  * training-data-pipeline extensions mandated by BASELINE.json
  * (language-ID heuristic, quality scoring, token counting, document
  * fingerprinting), expressed with codegen'd built-ins (`split`,
  * higher-order `filter`/`transform`, `md5`) rather than UDFs so the
  * whole pipeline stays inside whole-stage codegen.
  */
object TextQueries {

  private def toks: Column = split(col("text"), " ")

  /** Packed (doc_id, idx) keep-first tiebreak key, shared by the chunk
    * and substring dedup family: doc_id shifted past a 20-bit index.
    * The 20-bit bound (1M chunks / token positions per document) is
    * LOAD-BEARING — an index at or above 2^20 would alias into the
    * next doc_id's range and silently flip keep-first ordering — so it
    * is enforced by an `assert_true` folded INTO the expression (a
    * standalone check column would be pruned away by the optimizer;
    * this way an overlong document fails the query loudly instead of
    * corrupting the census). assert_true rewrites to
    * `if(cond, null, raise_error)`, staying in codegen.
    */
  private def packedKeepFirst(docId: Column, idx: Column): Column =
    when(assert_true(idx < lit(1 << 20),
      lit("packed keep-first key: per-document index exceeds 2^20 — " +
        "document too long for 20-bit packing")).isNull,
      docId * (1L << 20) + idx)

  /** Token counting: whitespace tokens, distinct tokens, type/token
    * ratio, mean token length — all scalar array expressions.
    */
  private def qTxtTokens(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(
        col("doc_id"),
        size(toks).as("n_tokens"),
        size(array_distinct(toks)).as("n_distinct"),
        (size(array_distinct(toks)).cast("double") / size(toks)).as("ttr"),
        ((col("n_chars") - (size(toks) - 1)).cast("double") / size(toks)).as("avg_tok_len"))
      .orderBy("doc_id")

  /** BPE-ish token counting: a GPT-2-pretokenizer-style regex splits
    * text into space-prefixed letter runs, digit runs and punctuation
    * runs — the pre-merge unit count a byte-pair tokenizer starts
    * from, and the standard cheap "LLM tokens per document" estimate.
    * Pure `regexp_count`, stays in codegen; the same pattern replays
    * identically in DuckDB.
    */
  private def qTxtBpeTokens(s: SparkSession, dir: String): DataFrame = {
    val pat = " ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+"
    t(s, dir, "documents")
      .select(
        col("doc_id"),
        size(toks).as("n_ws_tokens"),
        regexp_count(col("text"), lit(pat)).as("n_bpe_tokens"),
        round(regexp_count(col("text"), lit(pat)).cast("double") / size(toks), 6)
          .as("bpe_per_ws"))
      .orderBy("doc_id")
  }

  /** Quality scoring: stopword ratio + short-token ratio + length
    * bucket — the length/stopword-ratio heuristics of LLM data
    * pipelines (C4/Gopher-style rules, public recipe).
    */
  private def qTxtQuality(s: SparkSession, dir: String): DataFrame = {
    val stop = Seq("the", "a", "and", "of", "is", "to", "in")
    t(s, dir, "documents")
      .withColumn("n_tokens", size(toks))
      .withColumn("n_stop", size(filter(toks, c => c.isin(stop.map(x => x: Any): _*))))
      .withColumn("n_short", size(filter(toks, c => length(c) <= 2)))
      .select(
        col("doc_id"), col("n_tokens"), col("n_stop"),
        (col("n_stop").cast("double") / col("n_tokens")).as("stop_ratio"),
        (col("n_short").cast("double") / col("n_tokens")).as("short_ratio"),
        when(col("n_chars") < 200, "short")
          .when(col("n_chars") < 400, "medium")
          .otherwise("long").as("len_bucket"))
      .orderBy("doc_id")
  }

  /** Language-ID: n-gram/marker-word vote with a deterministic
    * tie-break priority (en > fr > de > es), 'und' when no marker hits.
    */
  private def qTxtLangid(s: SparkSession, dir: String): DataFrame = {
    def hits(words: String*): Column =
      size(filter(toks, c => c.isin(words.map(x => x: Any): _*)))
    t(s, dir, "documents")
      .withColumn("en_hits", hits("the", "a", "and", "is"))
      .withColumn("fr_hits", hits("le", "et", "une", "est"))
      .withColumn("de_hits", hits("der", "und", "die", "ist"))
      .withColumn("es_hits", hits("el", "los", "una", "es"))
      .withColumn("guess",
        when(col("en_hits") >= col("fr_hits") && col("en_hits") >= col("de_hits") &&
             col("en_hits") >= col("es_hits") && col("en_hits") > 0, "en")
          .when(col("fr_hits") >= col("de_hits") && col("fr_hits") >= col("es_hits") &&
                col("fr_hits") > 0, "fr")
          .when(col("de_hits") >= col("es_hits") && col("de_hits") > 0, "de")
          .when(col("es_hits") > 0, "es")
          .otherwise("und"))
      .select(col("doc_id"), col("lang"), col("guess"),
              (col("lang") === col("guess")).as("agree"))
      .orderBy("doc_id")
  }

  /** Corpus word frequency: explode + count + deterministic top-20
    * (the scaled-up sibling of A8's unique-label census).
    */
  private def qTxtWordfreq(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(explode(toks).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), col("token"))
      .limit(20)

  /** Heavy hitters via Count-Min sketch — the one-pass mergeable
    * frequency structure for 100 TB token streams (Cormode &
    * Muthukrishnan '05): partials merge map-side, the driver holds a
    * fixed-size table (~KBs) regardless of corpus size, and a query
    * against the sketch never rescans the stream. Self-check columns
    * prove the sketch's guarantees against the exact counts of the
    * oracle-checked q_txt_wordfreq shape: a CMS NEVER undercounts, and
    * overshoot is bounded by eps * total tokens with high probability.
    * Rows-only (the sketch's hash family is not DuckDB-replayable);
    * the exact twin carries the oracle.
    */
  private def qTxtHeavyHitters(s: SparkSession, dir: String): DataFrame = {
    val words = t(s, dir, "documents").select(explode(toks).as("token"))
    val eps = 0.001
    val sketch = words.stat.countMinSketch("token", eps, 0.99, 17)
    val total = sketch.totalCount()
    val exact = words.groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), col("token")).limit(20)
    val est = udf((t: String) => sketch.estimateCount(t))
    // the raw estimate stays internal (DuckDB cannot replay a CMS);
    // what the oracle hash-checks is the exact top-20 plus the CMS
    // error-bound verdict computed FROM the sketch — a broken sketch
    // flips sketch_ok and fails the hash match
    exact
      .withColumn("est", est(col("token")))
      .withColumn("sketch_ok",
        col("est") >= col("n") &&
          col("est") <= col("n") + lit((eps * total).toLong + 1))
      .select("token", "n", "sketch_ok")
      .orderBy(desc("n"), col("token"))
  }

  /** Document fingerprinting: md5 over whitespace-normalized lowercase
    * text (the exact-dedup key; reference analog: the NPZ filename
    * identity of io_utils.py:73).
    */
  private def qTxtFingerprint(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(
        col("doc_id"),
        md5(regexp_replace(lower(trim(col("text"))), "\\s+", " ")).as("fp"))
      .orderBy("doc_id")

  /** Rolling-hash document fingerprinting (Rabin-Karp 4-gram hashes
    * via the native O(n) `rolling_hash` expression) + winnowing
    * (Schleimer et al.: the min hash of every 8-hash window, distinct
    * count = the document's fingerprint size). The DuckDB oracle
    * recomputes each 4-gram polynomially — same values, proving the
    * rolling recurrence exact.
    */
  private def qTxtRolling(s: SparkSession, dir: String): DataFrame = {
    val w = 8
    t(s, dir, "documents")
      .withColumn("h", graft.functions.RollingHash.rollingHash(col("text"), 4))
      .select(
        col("doc_id"),
        size(col("h")).as("n_grams"),
        array_min(col("h")).as("min_fp"),
        when(size(col("h")) >= w,
          size(array_distinct(transform(
            sequence(lit(1), size(col("h")) - w + 1),
            j => array_min(slice(col("h"), j, lit(w)))))))
          .when(size(col("h")) > 0, 1)
          .otherwise(0).as("n_winnow"))
      .orderBy("doc_id")
  }

  /** 3-token shingles per document (the MinHash input feature):
    * count of distinct shingles via higher-order transform.
    */
  private def qTxtShingles(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .withColumn("tk", toks)
      .select(col("doc_id"), size(shingles3(col("tk"))).as("n_shingles"),
              size(col("tk")).as("n_tokens"))
      .orderBy("doc_id")

  /** Benchmark decontamination — the standard eval-leak check a
    * training-data pipeline runs before shipping a corpus: flag every
    * training document sharing any 3-token shingle with the held-out
    * benchmark set (here: doc_id % 100 == 0 plays the benchmark).
    * Scale shape: the benchmark shingle set is SMALL by construction
    * (eval sets are thousands of docs against a 100 TB corpus), so it
    * broadcasts; the training side is a narrow explode feeding a
    * broadcast hash join — the corpus never shuffles. Shingles travel
    * as xxhash64 (8 bytes, not strings): same oracle counts unless a
    * 64-bit collision lands inside one document's benchmark overlap
    * (~1e-12; the q_dedup_jaccard_pairs precedent).
    */
  private def qTxtDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val sh = t(s, dir, "documents")
      .withColumn("tk", toks)
      .select(col("doc_id"), explode(shingleHashes3(col("tk"))).as("sh"))
    val bench = sh.filter(col("doc_id") % 100 === 0)
      .select("sh").distinct()
    sh.filter(col("doc_id") % 100 =!= 0)
      .join(broadcast(bench), "sh")
      .groupBy("doc_id")
      .agg(countDistinct(col("sh")).as("n_hits"))
      .orderBy("doc_id")
  }

  /** Sensitive-vocabulary redaction — the PII-scrub operator shape
    * (emails/phones/ids in a real corpus; here a word-boundary
    * sensitive-token pattern, since the synthetic text has no digits):
    * count matches and fingerprint the redacted text. One narrow
    * codegen'd projection — regex scrubbing at 100 TB is exactly a
    * map-only scan, no shuffle beyond the final sort.
    */
  private def qTxtRedact(s: SparkSession, dir: String): DataFrame = {
    val pat = "\\b(customer|[a-z]*key)\\b"
    t(s, dir, "documents")
      .select(
        col("doc_id"),
        regexp_count(col("text"), lit(pat)).as("n_redacted"),
        md5(regexp_replace(col("text"), pat, "<REDACTED>")).as("fp_redacted"))
      .orderBy("doc_id")
  }

  /** Sequence packing (concat-and-chunk): concatenate documents in
    * doc_id order and slice into fixed token-budget blocks — the
    * GPT-style training-example packing step. Per doc: the first and
    * last block it lands in, from a running token cumsum. Packing is
    * per-language here (per-shard in production): the window
    * partitions by lang, so the cumsum parallelizes across groups
    * instead of collapsing onto one global sort — the scale-safe form
    * of an inherently sequential operator.
    */
  private def qTxtPack(s: SparkSession, dir: String): DataFrame = {
    val budget = 1024
    val w = Window.partitionBy("lang").orderBy("doc_id")
    t(s, dir, "documents")
      .withColumn("n_tokens", size(toks))
      .withColumn("end_tok", sum("n_tokens").over(w))
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        floor((col("end_tok") - col("n_tokens")) / budget).as("first_block"),
        floor((col("end_tok") - 1) / budget).as("last_block"))
      .withColumn("n_blocks", col("last_block") - col("first_block") + 1)
      .orderBy("doc_id")
  }

  /** Stratified corpus sampling: a deterministic per-language quota
    * sample by Knuth-hash rank (doc_id * 2654435761 mod 2^32) — the
    * reproducible subsample every training-data pipeline needs for
    * eval slices and ablations. row_number per stratum over the hash
    * gives an order-free, engine-portable sample. At 100 TB the exact
    * per-group rank becomes a threshold filter on the hash (quantile
    * of a uniform hash), which needs no window at all; the quota form
    * here is the oracle-checkable contract.
    */
  private def qTxtSampleStratified(s: SparkSession, dir: String): DataFrame = {
    val quota = 50
    val w = Window.partitionBy("lang").orderBy(col("h"), col("doc_id"))
    t(s, dir, "documents")
      .withColumn("h", pmod(col("doc_id") * 2654435761L, lit(4294967296L)))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= quota)
      .select(col("doc_id"), col("lang"), col("h"), col("rk"))
      .orderBy("doc_id")
  }

  /** Weighted sampling without replacement — Efraimidis & Spirakis
    * (IPL 2006) exponential-key reservoir sampling, derandomized: each
    * document draws u ∈ (0,1] from the Knuth multiplicative hash of
    * its id and competes with key ln(u)/w (w = n_chars), the log form
    * of u^(1/w); the k LARGEST u^(1/w) ⇔ k smallest -ln(u)/w win.
    * Inclusion probability is proportional to weight — the
    * char-weighted corpus subsample that matches token-budget
    * sampling (a 10k-char doc is 100× likelier in than a 100-char
    * one), vs the uniform stratified sample of
    * [[qTxtSampleStratified]].
    *
    * Scale shape: the key is map-side arithmetic per row; the global
    * top-k plans as TakeOrderedAndProject (per-partition heap of k +
    * driver merge of partitions×k rows) — no global sort, no shuffle
    * of the corpus. Engine parity: keys are ROUNDED to the 1e-12 grid
    * before ranking with a doc_id tiebreak, so a last-ulp `ln`
    * difference between libm implementations cannot reorder the
    * boundary.
    */
  private def qTxtSampleWeighted(s: SparkSession, dir: String): DataFrame = {
    val k = 100
    t(s, dir, "documents")
      .withColumn("h", pmod(col("doc_id") * 2654435761L, lit(4294967296L)))
      .withColumn("skey",
        round(-log((col("h") + 1).cast("double") / 4294967296.0) /
          col("n_chars"), 12))
      .orderBy(col("skey"), col("doc_id"))
      .limit(k)
      .select(col("doc_id"), col("lang"), col("n_chars"), col("skey"))
  }

  /** Corpus-derived unigram log-probability — the statistical quality
    * score (CCNet-style perplexity filtering, public recipe): train a
    * unigram LM on the corpus itself (one groupBy), score every doc by
    * its mean token log-prob. Low scorers are gibberish/rare-token
    * soup; high scorers are stopword soup — both ends get cut in a
    * real pipeline. Scale shape: the LM vocabulary is CAPPED at the
    * top-K tokens by count (ties broken by token for a deterministic,
    * engine-portable cut), exactly as CCNet's released models cap
    * theirs — so the broadcast is K rows BY CONSTRUCTION no matter how
    * heavy-tailed the corpus vocabulary gets (web corpora hold
    * hundreds of millions of distinct typo/URL/ID tokens; an uncapped
    * broadcast OOMs executors long before 100 TB). Out-of-vocabulary
    * tokens score with an add-one floor count of 1 over the FULL
    * corpus total (the total keeps OOV mass, so in-vocab probabilities
    * stay honest). The 1-row total is a declared bounded cross join;
    * scoring is a broadcast-left-join scan of the token stream with a
    * per-doc rollup — map-side only, no corpus shuffle after the freq
    * groupBy.
    */
  /** LM vocabulary cap: broadcast is `unigramVocabK` rows BY
    * CONSTRUCTION (PlanAuditSpec asserts the plan carries the limit).
    * 512 binds at every test SF so the OOV path is exercised.
    */
  val unigramVocabK = 512

  private def qTxtUnigramLp(s: SparkSession, dir: String): DataFrame = {
    val vocabK = unigramVocabK
    val tokens = t(s, dir, "documents")
      .select(col("doc_id"), explode(toks).as("token"))
    val freq = tokens.groupBy("token").agg(count(lit(1)).as("cnt"))
    val total = freq.agg(sum("cnt").as("total"))
    val topk = freq.orderBy(desc("cnt"), col("token")).limit(vocabK)
    tokens
      .join(broadcast(topk), Seq("token"), "left")
      .withColumn("cnt", coalesce(col("cnt"), lit(1L)))
      .crossJoin(broadcast(total))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        round((sum(log(col("cnt").cast("double")))
          - count(lit(1)) * log(max(col("total")).cast("double")))
          / count(lit(1)), 6).as("mean_logprob"))
      .orderBy("doc_id")
  }

  /** DSIR data selection (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling", public recipe): each
    * raw document is scored by the log importance ratio
    * Σ_t [ln p_target(t) − ln p_raw(t)] between a TARGET-domain
    * unigram LM (here the English slice, standing in for the curated
    * domain DSIR resamples toward) and the RAW-corpus LM, both add-1
    * smoothed over the shared top-`unigramVocabK` vocabulary (the
    * same capped-broadcast discipline as [[qTxtUnigramLp]] — OOV
    * tokens take the +1 floor in BOTH models, so their ratio is the
    * constant totals correction and heavy-tailed web vocab can never
    * grow the broadcast). Each token's ratio is quantized to
    * nano-nats as a LONG before any cross-row sum, so the per-doc
    * weight and every census sum are exact integers — the selection
    * cut (`w > 0`, i.e. likelier under the target LM) compares exact
    * longs, never a float boundary. Census per (lang, source): doc
    * count, selected count, total weight — the sampling-rate table a
    * pipeline turns into per-shard resampling probabilities.
    *
    * Scale shape: one token-count shuffle for each LM (partial-
    * aggregable), a K-row broadcast scoring join inside the scan
    * stage, a per-doc rollup, and a ~|lang×source|-row census. The
    * corpus text itself never crosses an exchange.
    */
  private def qTxtDsir(s: SparkSession, dir: String): DataFrame = {
    val vocabK = unigramVocabK
    val smoothK = lit(vocabK.toLong + 1L) // vocab + implicit UNK cell
    val tokens = t(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("source"),
        explode(toks).as("token"))
    val rawCnt = tokens.groupBy("token").agg(count(lit(1)).as("rc"))
    val vocab = rawCnt.orderBy(desc("rc"), col("token")).limit(vocabK)
    val tgtCnt = tokens.filter(col("lang") === "en")
      .groupBy("token").agg(count(lit(1)).as("tc"))
    val vtab = vocab.join(tgtCnt, Seq("token"), "left")
      .select(col("token"), col("rc"),
        coalesce(col("tc"), lit(0L)).as("tc"))
    val totals = tokens.agg(count(lit(1)).as("tot_r"),
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("tot_t"))
    val scored = tokens
      .join(broadcast(vtab), Seq("token"), "left")
      .crossJoin(broadcast(totals))
      .select(col("doc_id"), col("lang"), col("source"),
        round(lit(1e9) * (
          log((coalesce(col("tc"), lit(0L)) + 1L).cast("double"))
            - log((col("tot_t") + smoothK).cast("double"))
            - log((coalesce(col("rc"), lit(0L)) + 1L).cast("double"))
            + log((col("tot_r") + smoothK).cast("double"))))
          .cast("long").as("lr_nnat"))
    val perDoc = scored.groupBy("doc_id", "lang", "source")
      .agg(sum("lr_nnat").as("w_nnat"))
    perDoc.groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("w_nnat") > 0L, 1L).otherwise(0L)).as("n_selected"),
        sum("w_nnat").as("sum_w_nnat"))
      .orderBy("lang", "source")
  }

  /** CCNet perplexity bucketing (Wenzek et al. 2020, public recipe):
    * documents are scored by a PER-LANGUAGE unigram LM (top-256
    * vocabulary per language by (count desc, token) — the
    * deterministic engine-portable cut — add-1 smoothed, OOV at the
    * +1 floor against the full per-language total) and split into
    * head/middle/tail TERCILES of mean surprisal within their
    * language, CCNet's exact partitioning trick for separating
    * clean from noisy web text without labels. Per-token surprisal
    * quantizes to nano-nats as a LONG before the per-doc sum; the
    * per-doc mean is integer division (positive operands, so Spark's
    * truncating `div` and the oracle's floor `//` agree), and the
    * tercile assignment orders by (exact mean, doc_id) — no float
    * enters any ordering or aggregate, so the census hashes exactly.
    *
    * Scale shape: per-lang vocab build is one token-count shuffle
    * capped at 256 rows per language; scoring is a broadcast join in
    * the scan stage; the ntile window partitions BY LANGUAGE over
    * doc-level rows (corpus-count, not token-count — and at 100 TB
    * the tercile cut would come from a quantile sketch of the same
    * exact mean, see [[AdvancedQueries]]'s q_sketch_dd_quantile).
    */
  private def qTxtPplBucket(s: SparkSession, dir: String): DataFrame = {
    val vocabK = 256
    val tokens = t(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"),
        explode(toks).as("token"))
    val freq = tokens.groupBy("lang", "token").agg(count(lit(1)).as("cnt"))
    val vocab = freq
      .withColumn("rk", row_number().over(
        Window.partitionBy("lang").orderBy(desc("cnt"), col("token"))))
      .filter(col("rk") <= vocabK).drop("rk")
    val totals = freq.groupBy("lang").agg(sum("cnt").as("tot"))
    val scored = tokens
      .join(broadcast(vocab), Seq("lang", "token"), "left")
      .join(broadcast(totals), Seq("lang"))
      .select(col("doc_id"), col("lang"), col("n_chars"),
        round(lit(1e9) * (
          log((col("tot") + lit(vocabK.toLong + 1L)).cast("double"))
            - log((coalesce(col("cnt"), lit(0L)) + 1L).cast("double"))))
          .cast("long").as("sup_nnat"))
    val perDoc = scored.groupBy("doc_id", "lang", "n_chars")
      .agg(sum("sup_nnat").as("sup_sum"), count(lit(1)).as("n_tok"))
      .withColumn("mean_nnat", expr("sup_sum div n_tok"))
    perDoc
      .withColumn("tercile", ntile(3).over(
        Window.partitionBy("lang").orderBy("mean_nnat", "doc_id"))
        .cast("long"))
      .groupBy("lang", "tercile")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"),
        sum("mean_nnat").as("sum_mean_nnat"))
      .orderBy("lang", "tercile")
  }

  /** End-to-end curation funnel — the composition a real pretraining
    * data pipeline runs as ONE job, censused stage by stage (the
    * survivor table every curation report leads with): benchmark
    * holdout (the doc_id%100 convention shared with
    * [[qTxtDecontaminate]]) → length/token quality rules → exact
    * dedup (keep-first by md5 among survivors) → benchmark
    * decontamination (any shared 3-shingle, bench side broadcast) →
    * sequence packing yield (per-language 512-token budgets; the
    * tail remainder is the packing loss). Each stage's in/out doc and
    * token counts come from ONE flags relation aggregated once —
    * conditional sums over booleans, not five scans.
    *
    * Scale shape: the dedup exchange ships (md5, doc_id) — 24-byte
    * rows, text stays map-side; decon joins the corpus's shingle
    * stream against a BROADCAST distinct-bench-shingle set; the
    * packing rollup is |lang| rows. One wide exchange total (the
    * md5 groupBy) plus the shingle partial-agg — at 100 TB the
    * funnel is scan-bound, which is the point of fusing the stages.
    */
  private def qTxtCurationFunnel(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("text"), col("n_chars"))
      .withColumn("tk", toks)
      .withColumn("n_tok", size(col("tk")).cast("long"))
    val isBench = col("doc_id") % 100 === 0
    val passQ = !isBench && col("n_chars") >= 100 &&
      col("n_chars") <= 1500 && col("n_tok") >= 25
    val base = docs.withColumn("in_corpus", !isBench)
      .withColumn("pass_q", passQ)
    // exact dedup keep-first among quality survivors: narrow exchange
    val keepIds = base.filter(col("pass_q"))
      .select(md5(col("text")).as("h"), col("doc_id"))
      .groupBy("h").agg(min("doc_id").as("doc_id"))
      .select(col("doc_id"), lit(true).as("keep"))
    // contamination among dedup survivors: any 3-shingle shared with
    // the held-out benchmark slice
    val benchSh = docs.filter(isBench)
      .select(explode(shingleHashes3(col("tk"))).as("sh")).distinct()
    val flags0 = base.join(keepIds, Seq("doc_id"), "left")
      .withColumn("keep_dd", col("pass_q") &&
        coalesce(col("keep"), lit(false)))
    val contam = flags0.filter(col("keep_dd"))
      .select(col("doc_id"), explode(shingleHashes3(col("tk"))).as("sh"))
      .join(broadcast(benchSh), "sh")
      .select(col("doc_id")).distinct()
      .withColumn("bad", lit(true))
    val flags = flags0.join(contam, Seq("doc_id"), "left")
      .withColumn("pass_all", col("keep_dd") &&
        coalesce(col("bad"), lit(false)) === false)
    def cnt(c: Column) = sum(when(c, 1L).otherwise(0L))
    def tok(c: Column) = sum(when(c, col("n_tok")).otherwise(0L))
    val g = flags.agg(
      count(lit(1)).as("n0"), cnt(col("in_corpus")).as("n1"),
      tok(col("in_corpus")).as("t1"),
      cnt(col("pass_q")).as("n2"), tok(col("pass_q")).as("t2"),
      cnt(col("keep_dd")).as("n3"), tok(col("keep_dd")).as("t3"),
      cnt(col("pass_all")).as("n4"), tok(col("pass_all")).as("t4"))
    val pack = flags.filter(col("pass_all")).groupBy("lang")
      .agg(sum("n_tok").as("lt"))
      .agg(sum(expr("lt div 512")).as("seqs"),
        sum(expr("(lt div 512) * 512")).as("packed"))
    g.crossJoin(broadcast(pack)).select(expr(
      """stack(5,
        |  1L, 'ingest_holdout', n0, n1, t1, n1,
        |  2L, 'quality',        n1, n2, t2, n2,
        |  3L, 'dedup_exact',    n2, n3, t3, n3,
        |  4L, 'decontaminate',  n3, n4, t4, n4,
        |  5L, 'pack',           n4, n4, packed, seqs)
        |  AS (stage_id, stage, docs_in, docs_out, tokens_out, n_units)
        |""".stripMargin))
      .orderBy("stage_id")
  }

  /** Interpolated Kneser-Ney bigram LM (Kneser & Ney 1995; the
    * smoothing every serious n-gram LM shipped, and the quality bar
    * perplexity filters like CCNet's are trained against): per
    * language, P(w2|w1) = (c12−D)/c1 + D·N1+(w1·)/c1 · N1+(·w2)/T
    * with discount D = 3/4 — chosen RATIONAL so the whole law stays
    * in exact integer arithmetic: with integer counts the max(·,0)
    * never binds, the two terms share the common denominator 4·c1·T,
    * and the emitted probability is the exact integer
    * (10000·((4·c12−3)·T + 3·N1w1·N2w2)) div (4·c1·T) — no libm, no
    * float, hash-exact in any engine (the q_txt_tfidf rational-form
    * discipline applied to LM smoothing). The continuation count
    * N1+(·w2) is KN's signature: "York" scores low as a continuation
    * however frequent "New York" is. Emitted for the top-20 contexts
    * × top-3 continuations per language beside the raw MLE myriad,
    * so the smoothing's reordering is visible in the gate.
    *
    * Scale shape: one bigram-count shuffle (partial-aggregable),
    * vocab-sized continuation counts joined on (lang, w2) AFTER the
    * broadcast top-context cut prunes the bigram side, |lang|-row
    * type totals broadcast. Corpus text never crosses an exchange.
    */
  private def qTxtKneserNey(s: SparkSession, dir: String): DataFrame = {
    val tk = t(s, dir, "documents")
      .select(col("lang"), toks.as("w")).filter(size(col("w")) >= 2)
    val bi = tk.select(col("lang"),
        explode(zip_with(
          slice(col("w"), lit(1), size(col("w")) - 1),
          slice(col("w"), lit(2), size(col("w")) - 1),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("b"))
      .select(col("lang"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val cnt = bi.groupBy("lang", "w1", "w2").agg(count(lit(1)).as("n12"))
    val ctx = cnt.groupBy("lang", "w1")
      .agg(sum("n12").as("n1"), count(lit(1)).as("n_cont"))
      .withColumn("ctx_rnk", row_number().over(
        Window.partitionBy("lang").orderBy(desc("n1"), col("w1"))))
      .filter(col("ctx_rnk") <= 20)
    val contCnt = cnt.groupBy("lang", "w2")
      .agg(count(lit(1)).as("n2"))
    val types = cnt.groupBy("lang").agg(count(lit(1)).as("tt"))
    cnt.join(broadcast(ctx), Seq("lang", "w1"))
      .join(contCnt, Seq("lang", "w2"))
      .join(broadcast(types), Seq("lang"))
      .withColumn("cont_rnk", row_number().over(
        Window.partitionBy("lang", "w1").orderBy(desc("n12"), col("w2"))))
      .filter(col("cont_rnk") <= 3)
      .select(col("lang"), col("w1"), col("w2"), col("n12"), col("n1"),
        col("n_cont"), col("n2"), col("tt"), col("ctx_rnk"), col("cont_rnk"),
        expr("(10000 * n12) div n1").as("mle_myriad"),
        expr("""(10000 * ((4 * n12 - 3) * tt + 3 * n_cont * n2))
               | div (4 * n1 * tt)""".stripMargin).as("kn_myriad"))
      .orderBy("lang", "ctx_rnk", "cont_rnk")
  }

  /** Mojibake detect-and-fix census — the ftfy-style encoding repair
    * every web-corpus pipeline runs before tokenization (UTF-8 text
    * mis-decoded as Latin-1 leaves characteristic digraphs: é→"Ã©",
    * ’→"â€™", ·→"Â·"): the repair is a fixed digraph substitution
    * table applied as literal replaces, ftfy's core mechanism in
    * declarative form. The law PLANTS the corruption (every 7th doc
    * gets a mojibake-bearing suffix on the wire) so the gate pins
    * detection (artifact counts per doc), repair (zero artifacts
    * after), and non-destruction (clean docs byte-identical through
    * the fixer — the md5 checksum covers every fixed doc). Per-lang
    * census: docs, flagged docs, artifact mass before/after, fixed
    * checksum.
    *
    * Scale shape: pure per-row string algebra inside the scan stage —
    * no shuffle before the |lang|-row census, whole-stage codegen end
    * to end (regexp_count + regexp_replace on metachar-free literal
    * patterns).
    */
  private def qTxtMojibake(s: SparkSession, dir: String): DataFrame = {
    val P = 1000000007L
    val marks = Seq("Ã©" -> "é", "â€™" -> "’", "Â·" -> "·")
    val base = t(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("text"))
      .withColumn("wire", when(col("doc_id") % 7 === 0,
        concat(col("text"), lit(" Ã©â€™Â· broken"))).otherwise(col("text")))
    def artifacts(c: Column): Column =
      marks.map { case (m, _) => regexp_count(c, lit(m)).cast("long") }
        .reduce(_ + _)
    val fixed = marks.foldLeft(col("wire")) { case (c, (m, r)) =>
      regexp_replace(c, m, r)
    }
    base
      .withColumn("n_art", artifacts(col("wire")))
      .withColumn("fixed", fixed)
      .withColumn("n_art_after", artifacts(col("fixed")))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_art") > 0L, 1L).otherwise(0L)).as("n_flagged"),
        sum("n_art").as("artifacts_before"),
        sum("n_art_after").as("artifacts_after"),
        (sum(conv(substring(md5(col("fixed")), 1, 8), 16, 10)
          .cast("long") % P) % P).as("chk_fixed"))
      .orderBy("lang")
  }

  /** Gopher-style repetition filter (Rae et al. 2021 quality rules,
    * public recipe): per-document word n-gram repetition rates
    * (`1 - distinct/total` for 2- and 3-grams) and the token share of
    * the single most frequent bigram, combined into a keep/drop
    * verdict. Pure scalar array algebra per row — no shuffle, no UDF,
    * whole-stage codegen end to end — so at 100 TB the filter runs
    * inside the scan stage and costs one pass over the text. The
    * n-gram arrays use the zip-of-shifted-slices shape of
    * [[graft.queries.Q.shingles3]] (see its scaladoc for the measured
    * re-split pathology of the `element_at` form).
    */
  private def qTxtRepetition(s: SparkSession, dir: String): DataFrame = {
    def grams(tk: Column, width: Int): Column = {
      val cnt = size(tk) - (width - 1)
      val zipped = arrays_zip((0 until width).map(i => slice(tk, lit(i + 1), cnt)): _*)
      when(size(tk) >= width,
        transform(zipped, st =>
          concat_ws(" ", (0 until width).map(i => st.getField(i.toString)): _*)))
        .otherwise(array().cast("array<string>"))
    }
    def repRate(g: Column): Column =
      when(size(g) > 0,
        round(lit(1.0) - size(array_distinct(g)).cast("double") / size(g), 6))
        .otherwise(lit(0.0))
    val top2Frac = round(col("top2_n") * 2.0 / size(col("tk")), 6)
    t(s, dir, "documents")
      .withColumn("tk", toks)
      .withColumn("bg", grams(col("tk"), 2))
      .withColumn("tg", grams(col("tk"), 3))
      .withColumn("top2_n",
        when(size(col("bg")) > 0,
          array_max(transform(array_distinct(col("bg")),
            d => size(filter(col("bg"), x => x === d)))))
          .otherwise(lit(0)))
      .select(
        col("doc_id"), size(col("tk")).as("n_tokens"),
        repRate(col("bg")).as("rep2"),
        repRate(col("tg")).as("rep3"),
        col("top2_n"),
        top2Frac.as("top2_frac"),
        (repRate(col("bg")) <= 0.05 && top2Frac <= 0.15).as("gopher_ok"))
      .orderBy("doc_id")
  }

  /** Cross-document duplicated-span census — the scoring step of
    * exact-substring deduplication (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better", public recipe): a
    * span is a 5-token shingle; a span seen in >=2 distinct documents
    * marks copied text, and a document whose spans are >=50% shared is
    * a duplication candidate. Spans travel as 8-byte xxhash64 (the
    * oracle counts string shingles — identical counts absent a 64-bit
    * collision, the same declared equivalence as q_txt_decontaminate).
    * Scale shape: narrow (doc_id, hash) explode, one hash-partitioned
    * aggregation for the span census, one hash equi-join back, one
    * doc-partitioned aggregation — NO pairwise join anywhere, so cost
    * is linear in corpus size and the shuffle payload is 16 bytes/row.
    */
  private def qTxtDupSpans(s: SparkSession, dir: String): DataFrame = {
    val spanW = 5
    val fps = t(s, dir, "documents")
      .select(col("doc_id"),
        explode(graft.functions.Dedup.shingleHashCol(toks, spanW)).as("h"))
    // The span census (distinct docs per hash) is computed INLINE with
    // two stacked windows over ONE hash-partitioned exchange, instead
    // of a separate groupBy + join-back: the aggregate-then-join form
    // runs the scan + tokenize + shingle-hash lineage twice (the
    // census's partial aggregate sits below its exchange, so exchange
    // reuse can't unify it with the join side's raw exchange — measured
    // 16.2 s warm at sf1, 7.6 s with this shape). HashPartitioning(h)
    // satisfies both windows' clustering, so the (h, doc_id) marker
    // window and the per-h sum share the single exchange.
    val firstInDoc = row_number().over(
      Window.partitionBy("h", "doc_id").orderBy("doc_id")) === 1
    fps
      .withColumn("is_first", when(firstInDoc, 1L).otherwise(0L))
      .withColumn("n_docs", sum("is_first").over(Window.partitionBy("h")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        count(when(col("n_docs") >= 2, lit(1))).as("n_shared"),
        max(col("n_docs")).as("max_span_docs"))
      .withColumn("shared_frac",
        round(col("n_shared").cast("double") / col("n_spans"), 6))
      .withColumn("dup_doc",
        round(col("n_shared").cast("double") / col("n_spans"), 6) >= 0.5)
      .orderBy("doc_id")
  }

  /** Per-language characteristic terms by tf·idf — the corpus-profile
    * scan (what distinguishes each language/source slice) run before
    * sampling decisions. idf is the LINEAR rational N/df rather than
    * log(N/df): tf·N/df is exact integer arithmetic in double followed
    * by one IEEE division, so the score replays bit-identically in the
    * oracle — a libm `log` can differ in the last ulp across engines
    * and flip a rounding or a rank tie. Ranking is unchanged (x ↦
    * log x is monotone), which is all tf·idf's ordering semantics need.
    *
    * Scale shape: the corpus is scanned and token-exploded ONCE, into a
    * (lang, term, doc_id) pre-aggregate (map-side combined — the
    * explode shrinks to distinct triples before the first shuffle).
    * df is a term-partitioned window count over that aggregate (each
    * row is a distinct (term, doc) since a doc has one lang), so tf
    * and df come out of one lineage with no second scan and no
    * self-join — the naive two-aggregations-over-the-explode form
    * re-scanned the corpus per side (Catalyst prunes the two consumers
    * differently, so exchange reuse cannot kick in; measured 12.1 s →
    * ~3 s at sf1). The N scalar rides a 1-row broadcast, never a
    * collect.
    */
  private def qTxtTfidf(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val perDoc = docs.select(col("doc_id"), col("lang"), explode(toks).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy("lang", "term", "doc_id").agg(count(lit(1)).as("tf_doc"))
    val total = docs.agg(count(lit(1)).as("n_docs"))
    val wTerm = Window.partitionBy("term")
    val tf = perDoc
      .withColumn("df", count(lit(1)).over(wTerm))
      .groupBy("lang", "term")
      .agg(sum("tf_doc").as("tf"), max("df").as("df"))
    val w = Window.partitionBy("lang").orderBy(desc("score"), col("term"))
    tf
      .crossJoin(broadcast(total))
      .withColumn("score", round(col("tf").cast("double") * col("n_docs") / col("df"), 6))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("lang"), col("rk"), col("term"), col("tf"), col("df"), col("score"))
      .orderBy("lang", "rk")
  }

  /** PII patterns shared verbatim between the Spark plan and the DuckDB
    * oracle (both interpolate these constants, so engine and replay
    * cannot drift). Restricted to the regex subset with identical
    * semantics in Java regex and RE2: character classes, bounded
    * repetition, `\b`, no backreferences or lookaround.
    */
  val piiEmail = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val piiIpv4 = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val piiPhone = "\\+?\\b\\d{3}[- ]\\d{3}[- ]\\d{4}\\b"
  val piiSsn = "\\b\\d{3}-\\d{2}-\\d{4}\\b"

  /** PII census per language slice: documents containing / total
    * occurrences of email addresses, IPv4 literals, NANP-style phone
    * numbers and SSN-shaped ids — the redaction-planning scan a
    * curation pipeline runs before the scrub pass (the scrub itself is
    * the [[qTxtRedact]] shape with these patterns). Map-only
    * `regexp_count` per row + one partial-agged groupBy(lang): at
    * 100 TB the regexes run inside the scan stage, and the shuffle is
    * five rows per partition. The driver corpus is synthetic and
    * PII-free, so the registered query asserts the zero-count census;
    * detection itself is proven on a planted-PII fixture in
    * PqPiiSpec.
    */
  private def qTxtPii(s: SparkSession, dir: String): DataFrame = {
    def cnt(pat: String): Column = regexp_count(col("text"), lit(pat))
    def agg2(pat: String, name: String): Seq[Column] = Seq(
      count(when(cnt(pat) > 0, lit(1))).as(s"docs_$name"),
      sum(cnt(pat)).cast("long").as(s"n_$name"))
    t(s, dir, "documents")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        (agg2(piiEmail, "email") ++ agg2(piiIpv4, "ipv4") ++
          agg2(piiPhone, "phone") ++ agg2(piiSsn, "ssn")): _*)
      .orderBy("lang")
  }

  /** Bigram collocation mining per language — PMI-ranked adjacent word
    * pairs (Church & Hanks 1990, public method), the phrase-discovery
    * scan a tokenizer/vocabulary build runs over a corpus. The score is
    * the RATIONAL form of PMI's argument, n_xy·U²/(c(x)·c(y)·B) — a
    * monotone transform of PMI (log is increasing), so ranks are
    * identical but the arithmetic is integer products and two IEEE
    * divisions that replay bit-identically in the oracle (no libm log,
    * the [[qTxtTfidf]] convention).
    *
    * Scale shape: bigrams come from a zip of shifted slices (the
    * [[graft.queries.Q.shingles3]] form — no per-element re-split),
    * then three hash aggregations (bigram counts, unigram counts,
    * per-lang totals) and three equi-joins on (lang, word) — all
    * partial-agged and key-partitioned; the n_xy >= 5 support floor
    * prunes the scored set before the join fan-in.
    */
  private def qTxtColloc(s: SparkSession, dir: String): DataFrame = {
    val tk = t(s, dir, "documents").select(col("lang"), toks.as("tk"))
    val bg = tk.filter(size(col("tk")) >= 2)
      .select(col("lang"),
        explode(arrays_zip(
          slice(col("tk"), lit(1), size(col("tk")) - 1),
          slice(col("tk"), lit(2), size(col("tk")) - 1))).as("p"))
      .select(col("lang"), col("p.0").as("w1"), col("p.1").as("w2"))
    val ug = tk.select(col("lang"), explode(col("tk")).as("w"))
    val bgc = bg.groupBy("lang", "w1", "w2").agg(count(lit(1)).as("n_xy"))
    val ugc = ug.groupBy("lang", "w").agg(count(lit(1)).as("c"))
    // per-lang totals roll up from the counts tables, NOT from the raw
    // explodes: a fourth consumer over the same explode lineage would
    // re-scan and re-split the corpus text once per consumer (the
    // qTxtTfidf lesson — Catalyst prunes consumers differently, so
    // exchange reuse cannot merge them)
    val tot = ugc.groupBy("lang").agg(sum("c").as("u"))
    val btot = bgc.groupBy("lang").agg(sum("n_xy").as("b"))
    val w = Window.partitionBy("lang").orderBy(desc("score"), col("w1"), col("w2"))
    bgc
      .join(ugc.withColumnRenamed("w", "w1").withColumnRenamed("c", "c1"), Seq("lang", "w1"))
      .join(ugc.withColumnRenamed("w", "w2").withColumnRenamed("c", "c2"), Seq("lang", "w2"))
      .join(tot, Seq("lang"))
      .join(btot, Seq("lang"))
      .filter(col("n_xy") >= 5)
      .withColumn("score",
        round(col("n_xy").cast("double") * col("u") * col("u")
          / (col("c1") * col("c2")) / col("b"), 6))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 10)
      .select(col("lang"), col("rk"), col("w1"), col("w2"), col("n_xy"), col("score"))
      .orderBy("lang", "rk")
  }

  /** The first round of BPE merge learning (Sennrich et al. 2016,
    * public recipe): the corpus-wide weighted count of adjacent
    * character pairs, whose argmax is the first merge a byte-pair
    * tokenizer would learn. The heavy-lifting order matters at scale:
    * the TOKEN VOCABULARY is aggregated first (one shuffle keyed on
    * token, map-side combined), and the character-pair explosion runs
    * over distinct tokens weighted by frequency — pair fan-out is
    * O(vocab · token_len), independent of corpus token count, exactly
    * how production BPE trainers avoid re-scanning raw text per merge.
    * Top-20 via TakeOrderedAndProject (no global sort materializes).
    */
  private def qTxtBpeMerge(s: SparkSession, dir: String): DataFrame = {
    val tf = t(s, dir, "documents")
      .select(explode(toks).as("token"))
      .filter(length(col("token")) > 1)
      .groupBy("token").agg(count(lit(1)).as("freq"))
    tf.select(col("freq"),
        explode(transform(sequence(lit(1), length(col("token")) - 1),
          i => substr(col("token"), i, lit(2)))).as("pair"))
      .groupBy("pair").agg(sum("freq").as("n"))
      .orderBy(desc("n"), col("pair"))
      .limit(20)
  }

  /** Merge rounds for [[qTxtBpeTrain]] (shared with the unrolled
    * oracle CTE chain so engine and replay can never disagree on
    * depth).
    */
  val bpeRounds = 8

  /** Multi-round BPE merge TRAINING (Sennrich et al. 2016) — the
    * actual tokenizer-training loop an LLM data pipeline runs, not
    * just round one ([[qTxtBpeMerge]]). Vocabulary-first: the corpus
    * collapses to (token, freq) ONCE, and every round operates on
    * that dimension table — pair fan-out is O(vocab · token_len) per
    * round, independent of corpus token count. Per round: weighted
    * adjacent-symbol-pair counts (one partial-aggregatable shuffle on
    * the pair key), the deterministic argmax (max count, then
    * lexicographically smallest pair — the tie-break that makes the
    * replay exact), a 1-ROW collect, and a codegen'd leftmost-
    * non-overlapping merge applied to every token's segmentation.
    *
    * The segmentation is a padded DOUBLE-SPACE-joined symbol string
    * (` a  b  c `), which makes the merge ONE `replace` call whose
    * law both engines share: pattern `␠a␠␠b␠` → `␠ab␠` consumes one
    * delimiter space on each side, so consecutive occurrences stay
    * matchable (leftmost scan resumes on the second space) and a
    * symbol can never match inside a neighbor (the leading boundary
    * space is required). Equal to the per-array greedy fold —
    * spec-pinned on a planted vocab against hand-traced merges.
    * `localCheckpoint` per round cuts the 8-deep replace lineage so
    * round r never recomputes rounds 1..r-1 from the raw scan.
    */
  private[graft] def bpeTrain(vocab: DataFrame, rounds: Int): DataFrame =
    bpeTrainFull(vocab, rounds)._1

  /** [[bpeTrain]] plus the trained tokenizer's OUTPUT: returns the
    * ordered merge table AND the final per-token segmentation
    * relation (token, seg) after all learned merges applied — the
    * encode side ([[qTxtBpeEncode]]) consumes the latter. On early
    * exhaustion (no pairs left) the segmentation stays at its last
    * state, which the encode oracle mirrors with a LEFT-join merge
    * application.
    */
  private[graft] def bpeTrainFull(vocab: DataFrame, rounds: Int)
      : (DataFrame, DataFrame) = {
    val s = vocab.sparkSession
    import s.implicits._
    var seg = vocab.filter(length(col("token")) > 1)
      .select(col("token"), col("freq"),
        concat(lit(" "),
          concat_ws("  ", transform(sequence(lit(1), length(col("token"))),
            i => substr(col("token"), i, lit(1)))),
          lit(" ")).as("seg"))
      .localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, String, Long)]
    var exhausted = false
    for (r <- 1 to rounds if !exhausted) {
      val syms = split(trim(col("seg")), "  ")
      val best = seg
        .select(col("freq"),
          explode(arrays_zip(
            slice(syms, lit(1), size(syms) - 1),
            slice(syms, lit(2), size(syms) - 1))).as("p"))
        .select(col("p.0").as("lhs"), col("p.1").as("rhs"), col("freq"))
        .groupBy("lhs", "rhs").agg(sum("freq").as("n"))
        .orderBy(desc("n"), col("lhs"), col("rhs"))
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val (a, b, n) =
          (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((r, a, b, a + b, n))
        seg = seg.select(col("token"), col("freq"),
          replace(col("seg"), lit(s" $a  $b "), lit(s" $a$b ")).as("seg"))
          .localCheckpoint()
      }
    }
    (merges.toSeq.toDF("rank", "lhs", "rhs", "merged", "n"),
      seg.select(col("token"), col("seg")))
  }

  private def qTxtBpeTrain(s: SparkSession, dir: String): DataFrame = {
    val vocab = t(s, dir, "documents")
      .select(explode(toks).as("token"))
      .filter(length(col("token")) > 1)
      .groupBy("token").agg(count(lit(1)).as("freq"))
    bpeTrain(vocab, bpeRounds)
  }

  /** Tokenizer APPLICATION — encode the corpus with the merge table
    * [[qTxtBpeTrain]] just learned and report the per-language
    * compression census (whitespace tokens vs BPE symbols, the
    * symbols/token ratio a tokenizer team tracks per language slice).
    * Vocabulary-first like training: the per-(lang, token) counts and
    * the per-token symbol counts are both dimension tables, so the
    * corpus text is scanned exactly once and nothing wider than
    * (lang, token, count) ever shuffles. Tokens below the trainable
    * width (single char) encode as one symbol via the left join's
    * coalesce; symbols/token is one IEEE division of exact longs,
    * rounded to 6 places.
    */
  private def qTxtBpeEncode(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val vocab = docs.select(explode(toks).as("token"))
      .filter(length(col("token")) > 1)
      .groupBy("token").agg(count(lit(1)).as("freq"))
    val (_, segf) = bpeTrainFull(vocab, bpeRounds)
    val nsym = segf.select(col("token"),
      size(split(trim(col("seg")), "  ")).as("ns"))
    val lt = docs.select(col("lang"), explode(toks).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy("lang", "token").agg(count(lit(1)).as("c"))
    lt.join(nsym, Seq("token"), "left_outer")
      .select(col("lang"), col("c"),
        coalesce(col("ns"), lit(1)).cast("long").as("ns"))
      .groupBy("lang")
      .agg(sum("c").as("n_ws_tokens"),
        sum(col("c") * col("ns")).as("n_bpe_symbols"),
        max("ns").as("max_sym"),
        count(lit(1)).as("n_distinct_tokens"))
      .withColumn("symbols_per_token",
        round(col("n_bpe_symbols").cast("double") / col("n_ws_tokens"), 6))
      .orderBy("lang")
  }

  /** The bpe-train oracle unrolls [[bpeRounds]] (vote, argmax, merge)
    * rounds as a generated CTE chain over the same double-space
    * segmentation-string law (see [[bpeTrain]]); an exhausted round
    * (no pairs left) yields an empty m_i whose cross join empties
    * every later stage, matching the engine's early stop.
    */
  private def bpeTrainOracle: String = {
    val sb = new StringBuilder
    sb.append(
      """WITH vocab AS MATERIALIZED (
        |  SELECT token, count(*) AS freq FROM (
        |    SELECT unnest(string_split(text, ' ')) AS token FROM documents) q
        |  WHERE len(token) > 1 GROUP BY token),
        |seg0 AS MATERIALIZED (SELECT freq,
        |  ' ' || array_to_string(list_transform(range(1, len(token) + 1),
        |          i -> token[CAST(i AS INT)]), '  ') || ' ' AS seg
        |  FROM vocab)""".stripMargin)
    for (i <- 1 to bpeRounds) {
      sb.append(s""",
        |p$i AS MATERIALIZED (
        |  SELECT s[CAST(j AS INT)] AS lhs, s[CAST(j AS INT) + 1] AS rhs,
        |         sum(freq) AS n
        |  FROM (SELECT freq, string_split(trim(seg), '  ') AS s FROM seg${i - 1}) q,
        |       unnest(range(1, len(s))) AS t(j)
        |  GROUP BY 1, 2),
        |m$i AS MATERIALIZED (SELECT lhs, rhs, n FROM p$i
        |  ORDER BY n DESC, lhs, rhs LIMIT 1),
        |seg$i AS MATERIALIZED (SELECT freq,
        |  replace(seg, ' '||lhs||'  '||rhs||' ', ' '||lhs||rhs||' ') AS seg
        |  FROM seg${i - 1}, m$i)""".stripMargin)
    }
    val sel = (1 to bpeRounds)
      .map(i => s"SELECT $i AS rank, lhs, rhs, lhs||rhs AS merged, " +
        s"CAST(n AS BIGINT) AS n FROM m$i")
      .mkString("\nUNION ALL ")
    sb.append("\n" + sel + "\nORDER BY rank")
    sb.toString
  }

  /** The encode oracle re-learns the merge chain (same unrolled law as
    * [[bpeTrainOracle]], here carrying `token` through every seg stage
    * and applying each merge via LEFT JOIN so an exhausted round — an
    * empty m_i — leaves segmentations unchanged, exactly the engine's
    * early stop), then replays the per-language census.
    */
  private def bpeEncodeOracle: String = {
    val sb = new StringBuilder
    sb.append(
      """WITH vocab AS MATERIALIZED (
        |  SELECT token, count(*) AS freq FROM (
        |    SELECT unnest(string_split(text, ' ')) AS token FROM documents) q
        |  WHERE len(token) > 1 GROUP BY token),
        |seg0 AS MATERIALIZED (SELECT token, freq,
        |  ' ' || array_to_string(list_transform(range(1, len(token) + 1),
        |          i -> token[CAST(i AS INT)]), '  ') || ' ' AS seg
        |  FROM vocab)""".stripMargin)
    for (i <- 1 to bpeRounds) {
      sb.append(s""",
        |p$i AS MATERIALIZED (
        |  SELECT s[CAST(j AS INT)] AS lhs, s[CAST(j AS INT) + 1] AS rhs,
        |         sum(freq) AS n
        |  FROM (SELECT freq, string_split(trim(seg), '  ') AS s FROM seg${i - 1}) q,
        |       unnest(range(1, len(s))) AS t(j)
        |  GROUP BY 1, 2),
        |m$i AS MATERIALIZED (SELECT lhs, rhs FROM p$i
        |  ORDER BY n DESC, lhs, rhs LIMIT 1),
        |seg$i AS MATERIALIZED (SELECT token, freq,
        |  CASE WHEN lhs IS NULL THEN seg
        |       ELSE replace(seg, ' '||lhs||'  '||rhs||' ', ' '||lhs||rhs||' ')
        |  END AS seg
        |  FROM seg${i - 1} LEFT JOIN m$i ON TRUE)""".stripMargin)
    }
    sb.append(s"""
      |, nsym AS (SELECT token,
      |    len(string_split(trim(seg), '  ')) AS ns FROM seg$bpeRounds),
      |lt AS (SELECT lang, token, count(*) AS c FROM (
      |    SELECT lang, unnest(string_split(text, ' ')) AS token
      |    FROM documents) q WHERE len(token) > 0 GROUP BY lang, token)
      |SELECT lang, CAST(sum(c) AS BIGINT) AS n_ws_tokens,
      |  CAST(sum(c * coalesce(ns, 1)) AS BIGINT) AS n_bpe_symbols,
      |  CAST(max(coalesce(ns, 1)) AS BIGINT) AS max_sym,
      |  CAST(count(*) AS BIGINT) AS n_distinct_tokens,
      |  round(CAST(sum(c * coalesce(ns, 1)) AS DOUBLE) / sum(c), 6)
      |    AS symbols_per_token
      |FROM lt LEFT JOIN nsym USING (token)
      |GROUP BY lang ORDER BY lang""".stripMargin)
    sb.toString
  }

  /** Training-mixture weights per (lang, source) slice with temperature
    * α = 0.5 — the GPT-3/Pile-style data-mixture recipe (public:
    * Brown et al. 2020 §2.2): sampling weight ∝ n_tokens^α flattens the
    * source distribution so small high-quality slices aren't drowned
    * out; the natural (α=1) weight is emitted beside it for the
    * flattening comparison, plus an integer docs-per-100k quota.
    *
    * Determinism: `sqrt` is IEEE-754 correctly rounded (identical in
    * both engines), but a SUM of sqrt doubles would be order-dependent —
    * so each weight is quantized to `floor(sqrt(n)·1e6)` first and the
    * normalizer is an exact integer sum; every emitted ratio is one
    * IEEE division of integer-valued doubles. One groupBy + a 1-row
    * broadcast total (declared bounded cross join).
    */
  private def qTxtMixture(s: SparkSession, dir: String): DataFrame = {
    val g = t(s, dir, "documents")
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"), sum(size(toks)).cast("long").as("n_tokens"))
      .withColumn("qw", floor(sqrt(col("n_tokens").cast("double")) * 1000000d).cast("long"))
    val tot = g.agg(sum("qw").cast("long").as("qtot"), sum("n_tokens").cast("long").as("tok_tot"))
    g.crossJoin(broadcast(tot))
      .select(col("lang"), col("source"), col("n_docs"), col("n_tokens"),
        round(col("qw").cast("double") / col("qtot"), 6).as("w_temp"),
        round(col("n_tokens").cast("double") / col("tok_tot"), 6).as("w_nat"),
        floor(col("qw").cast("double") / col("qtot") * 100000d).cast("long").as("docs_per_100k"))
      .orderBy("lang", "source")
  }

  /** C4-style global chunk-level dedup census: split every document
    * into non-overlapping 8-token chunks, keep the corpus-wide FIRST
    * occurrence of each distinct chunk (ordered by (doc_id,
    * chunk_idx)), and report per-document retention — the
    * remove-duplicate-spans transformation of C4 (Raffel et al. 2020,
    * §2.2 "we discard all but one of any three-sentence span occurring
    * more than once") re-expressed as chunk units because this corpus
    * has no sentence boundaries. Differs from [[qTxtDupSpans]] (a
    * census of OVERLAPPING spans shared across >=2 docs): this one
    * computes the actual keep/drop decision, including within-document
    * repeats.
    *
    * Scale shape: the wide exchanges are hash-partitioned on the
    * 8-byte chunk hash carrying (h, doc_id, chunk_idx) — text never
    * shuffles. The positional shingle array is evaluated once per row
    * (zip-of-shifted-slices, see Dedup.shingleHashSeqCol) and strided
    * to chunk starts with a post-explode filter, so the token split is
    * never re-inlined per chunk.
    *
    * Keep-first is an UNSORTED min window over a packed
    * (doc_id, chunk_idx) long on ONE hash exchange — cheaper than
    * row_number (no per-partition sort beyond the grouping order) and
    * it keeps the tokenize+hash lineage single-evaluation: the
    * min-aggregate + join-back alternative puts a partial aggregate
    * below its exchange, so exchange reuse cannot unify it with the
    * join side's raw exchange and the whole explode runs twice
    * (measured 12 s vs 6 s at sf1 — the same pathology q_txt_dup_spans
    * documents). Boundary, stated honestly: under MASS duplication
    * (one boilerplate chunk in millions of docs) a window partition is
    * one unsplittable task; that regime wants the agg+join form, whose
    * map-side combine collapses the hot key before the shuffle and
    * whose residual join skew AQE splits. chunk_idx < 2^20 bounds
    * documents at 8M tokens; the packed-long argmin stays in codegen
    * (the min(struct) SortAggregate fallback is the PQ lesson).
    *
    * Reference analog: blank/duplicate routing decisions made at load
    * time (caliban/utils/io_utils.py:214-233 routes blank-label items
    * out of the training set the same keep/drop way).
    */
  private def qTxtChunkDedup(s: SparkSession, dir: String): DataFrame = {
    val w = 8
    val ch = t(s, dir, "documents")
      .select(col("doc_id"),
        posexplode(graft.functions.Dedup.shingleHashSeqCol(toks, w))
          .as(Seq("pos", "h")))
      .filter(col("pos") % w === 0)
      .select(col("doc_id"), (col("pos") / w).cast("int").as("chunk_idx"), col("h"))
    val packed = packedKeepFirst(col("doc_id"), col("chunk_idx"))
    ch.withColumn("kept", packed === min(packed).over(Window.partitionBy("h")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        count(when(col("kept"), lit(1))).as("n_kept"))
      .withColumn("n_dropped", col("n_chunks") - col("n_kept"))
      .withColumn("retention",
        round(col("n_kept").cast("double") / col("n_chunks"), 6))
      .orderBy("doc_id")
  }

  /** ExactSubstr-style OVERLAPPING-substring dedup mass (Lee et al.
    * 2022, "Deduplicating Training Data Makes Language Models Better"
    * §4.1: remove any ≥50-token substring occurring verbatim more
    * than once in the corpus — their suffix-array criterion,
    * re-expressed as overlapping k-gram RUN matching, the distributed
    * form): every overlapping k-token window is hashed positionally;
    * a window is REMOVABLE when the same window occurred at a
    * strictly earlier (doc_id, pos) anywhere in the corpus
    * (keep-first, same global tie-break as [[qTxtChunkDedup]]); a
    * maximal run of `minLen - k + 1` consecutive removable starts
    * witnesses a duplicated substring of ≥ minLen tokens. This
    * catches SHIFTED duplicates that non-overlapping chunk dedup
    * structurally misses — a copy offset by any non-multiple of the
    * chunk width shares zero aligned chunks but every interior
    * k-gram (ExactSubstrSpec plants exactly that case).
    *
    * Reported per doc: qualifying-span count and duplicated-token
    * mass, where mass is the UNION of the token intervals the
    * qualifying runs cover (runs whose coverage overlaps or abuts are
    * merged first — two runs split by one novel window don't
    * double-count their shared tokens).
    *
    * Scale shape: only (doc_id, pos, h) crosses the wide exchange —
    * text never shuffles; the keep-first verdict is the same packed
    * (doc_id, pos) min-window on ONE hash exchange as chunk dedup
    * (same mass-duplication boundary, documented there: a boilerplate
    * window in millions of docs wants the agg+join form whose map-side
    * combine collapses the hot key). Run detection and interval merge
    * are doc-partitioned windows — bounded by document length, never
    * corpus-wide.
    */
  private[graft] def exactSubstrMass(docs: DataFrame, k: Int,
                                     minLen: Int): DataFrame = {
    require(minLen >= k, s"minLen $minLen must be >= window $k")
    val minRun = minLen - k + 1
    val tk = split(col("text"), " ")
    val g = docs.select(col("doc_id"),
      posexplode(graft.functions.Dedup.shingleHashSeqCol(tk, k))
        .as(Seq("pos", "h")))
    val packed = packedKeepFirst(col("doc_id"), col("pos"))
    val runs = g
      .withColumn("dup", packed > min(packed).over(Window.partitionBy("h")))
      .filter(col("dup"))
      // gaps-and-islands: pos - rank is constant exactly on maximal
      // runs of consecutive removable starts (strictly increasing
      // across runs, so separated runs never collide)
      .withColumn("isl", col("pos") -
        row_number().over(Window.partitionBy("doc_id").orderBy("pos")))
      .groupBy("doc_id", "isl")
      .agg(min("pos").as("first_pos"), max("pos").as("last_pos"),
        count(lit(1)).as("run_len"))
      .filter(col("run_len") >= minRun)
    // merge qualifying runs with overlapping/abutting token coverage
    // [first_pos, last_pos + k - 1]: cumulative-max interval union
    val byDoc = Window.partitionBy("doc_id").orderBy("first_pos")
    val spans = runs
      .withColumn("prev_end", max(col("last_pos") + (k - 1))
        .over(byDoc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("grp", sum(
        when(col("prev_end").isNull ||
          col("first_pos") > col("prev_end") + 1, 1).otherwise(0)).over(byDoc))
      .groupBy("doc_id", "grp")
      .agg((max(col("last_pos") + (k - 1)) - min(col("first_pos")) + 1)
        .as("span_tokens"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum("span_tokens").cast("long").as("dup_tokens"))
    docs.select(col("doc_id"), size(tk).cast("long").as("n_tokens"))
      .join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        round(coalesce(col("dup_tokens"), lit(0L)).cast("double") /
          col("n_tokens"), 6).as("dup_ratio"))
      .orderBy("doc_id")
  }

  private def qTxtExactSubstr(s: SparkSession, dir: String): DataFrame =
    exactSubstrMass(t(s, dir, "documents"), k = 8, minLen = 12)

  /** Content-defined chunking dedup (Muthitacharoen et al. SOSP'01's
    * LBFS Rabin-boundary family): a chunk boundary falls after every
    * character position whose rolling 4-gram hash matches the divisor
    * mask (h % 64 == 63), so boundaries move WITH the content — an
    * edit resynchronizes within one gram and only the touched chunks
    * change identity, where fixed-width chunking re-keys every later
    * chunk (the char-level sibling of [[qTxtExactSubstr]]'s
    * shift-robustness, and the storage-dedup primitive LLM data lakes
    * run below the token layer). Plain Rabin form — no FastCDC
    * min/max clamps — stated as the law so the oracle replays it
    * exactly. Census: corpus-wide keep-first on chunk CONTENT
    * (ordered by (doc_id, chunk_idx)) with per-doc retention.
    *
    * Scale shape: chunking is per-row higher-order expressions over
    * the native O(n) rolling hash (no UDF, no explode until the
    * census); the one wide exchange partitions on (xxhash64(chunk),
    * length(chunk)) — HASHES, never the chunk strings, which stay
    * map-side — same packed-min window and same mass-duplication
    * boundary as [[qTxtChunkDedup]].
    */
  private def qTxtCdcChunks(s: SparkSession, dir: String): DataFrame = {
    val w = 4
    val mask = 64
    val h = graft.functions.RollingHash.rollingHash(col("text"), w)
    val emptyInts = array().cast(
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.IntegerType, containsNull = false))
    // 1-based gram index j cuts AFTER char j + w - 1: next chunk
    // starts at char j + w (sequence(1, 0) would count DOWN, so the
    // empty-gram case is guarded explicitly)
    val cutPos = when(size(col("h")) > 0,
      filter(sequence(lit(1), size(col("h"))),
        j => element_at(col("h"), j) % mask === mask - 1))
      .otherwise(emptyInts)
    val d = t(s, dir, "documents")
      .withColumn("h", h)
      .withColumn("cp", cutPos)
      .withColumn("st", concat(array(lit(1)), transform(col("cp"), _ + w)))
      .withColumn("en", concat(transform(col("cp"), _ + w),
        array(length(col("text")) + 1)))
      .select(col("doc_id"),
        filter(zip_with(col("st"), col("en"),
          (a, b) => col("text").substr(a, b - a)),
          c => length(c) > 0).as("chunks"))
    val packed = packedKeepFirst(col("doc_id"), col("chunk_idx"))
    // OUTER explode + a post-explode null filter, deliberately: the
    // non-outer form lets InferFiltersFromGenerate synthesize
    // size(chunks) > 0 AND isnotnull(chunks) and push it below this
    // Project — inlining the WHOLE chunk-construction tree (rolling
    // hash and all) into a per-row Filter, re-evaluating it ~6x per
    // row in interpreted lambdas (measured 13 ms/row at sf1; the
    // outer form is 40x faster). Same relation: no document produces
    // an all-empty chunk list, and an empty-text doc drops in both
    // engines.
    //
    // The chunk TEXT is reduced to (xxhash64, length) BEFORE the
    // keep-first exchange — the q_txt_chunk_dedup convention — so only
    // ~28-byte rows cross the one wide shuffle instead of the corpus'
    // raw chunk strings (at 100 TB the text-bearing form ships the
    // whole corpus through the exchange and lands any hot boilerplate
    // chunk's full text on one partition). Identity by (hash, length)
    // pair: a 64-bit collision additionally requires equal lengths,
    // and max_chunk needs the length column anyway.
    d.select(col("doc_id"),
        posexplode_outer(col("chunks")).as(Seq("chunk_idx", "chunk")))
      .filter(col("chunk").isNotNull)
      .select(col("doc_id"), col("chunk_idx"),
        xxhash64(col("chunk")).as("ch"),
        length(col("chunk")).as("clen"))
      .withColumn("kept",
        packed === min(packed).over(Window.partitionBy("ch", "clen")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        count(when(col("kept"), lit(1))).as("n_kept"),
        max(col("clen")).cast("long").as("max_chunk"))
      .withColumn("n_dropped", col("n_chunks") - col("n_kept"))
      .withColumn("retention",
        round(col("n_kept").cast("double") / col("n_chunks"), 6))
      .select("doc_id", "n_chunks", "n_kept", "n_dropped", "retention",
        "max_chunk")
      .orderBy("doc_id")
  }

  /** BM25 retrieval scoring (Robertson-Spärck Jones, Lucene ln(1+x)
    * idf form; k1 = 1.2, b = 0.75) of the corpus against a fixed
    * 3-term query — the relevance-ranking primitive of every
    * retrieval-augmented pipeline, and the saturation-weighted upgrade
    * of [[qTxtTfidf]].
    *
    * Scale shape: term postings (tf) come from one explode→filter→
    * partial-agg pass — only query-term hits survive the explode, so
    * the exchange carries (doc_id, term, tf) for matching docs, not
    * the corpus. df (3 rows) and the (N, avgdl) corpus stats (1 row)
    * are broadcast; the final top-10 is a TakeOrdered, no global sort
    * materialization.
    *
    * Determinism: ranking and the top-10 cutoff use the ROUNDED score
    * with doc_id tiebreak, so a last-ulp divergence in the ≤3-term sum
    * or the ln can never reorder the result (the ln-in-hash-path
    * precedent is q_txt_unigram_lp; avgdl is exact — integer-valued
    * doubles sum exactly in any order).
    */
  private def qTxtBm25(s: SparkSession, dir: String): DataFrame = {
    val terms = Seq("table", "scan", "fast")
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), toks.as("tk"))
      .withColumn("dl", size(col("tk")))
    val stats = docs.agg(count(lit(1)).as("n_docs"),
      avg(col("dl").cast("double")).as("avgdl"))
    val tf = docs
      .select(col("doc_id"), col("dl"), explode(col("tk")).as("term"))
      .filter(col("term").isin(terms.map(x => x: Any): _*))
      .groupBy("doc_id", "dl", "term")
      .agg(count(lit(1)).cast("double").as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).cast("double").as("df"))
    val idf = log(lit(1.0) +
      (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5))
    val sat = (col("tf") * (lit(1.2) + 1.0)) /
      (col("tf") + lit(1.2) * (lit(1.0) - 0.75 + lit(0.75) * col("dl") / col("avgdl")))
    tf.join(broadcast(df), Seq("term"))
      .crossJoin(broadcast(stats))
      .groupBy("doc_id")
      .agg(round(sum(idf * sat), 6).as("bm25"), count(lit(1)).as("n_terms_hit"))
      .orderBy(desc("bm25"), col("doc_id"))
      .limit(10)
  }

  /** Zipf-law fit per language: OLS slope/intercept of ln(freq) over
    * ln(rank) for the top-100 vocabulary — the corpus-statistics
    * fingerprint that flags machine-generated or template-heavy text
    * (natural language sits near slope −1; a flat or cliffy rank curve
    * is a generation artifact). Regression via the five classic sums,
    * all partial-aggregatable; ranks come from one per-lang window
    * with a deterministic (freq desc, token) order, and the slope is
    * rounded before it enters the hash (ln precedent:
    * q_txt_unigram_lp).
    */
  private def qTxtZipf(s: SparkSession, dir: String): DataFrame = {
    val k = 100
    val ranked = t(s, dir, "documents")
      .select(col("lang"), explode(toks).as("token"))
      .groupBy("lang", "token").agg(count(lit(1)).as("n"))
      .withColumn("rk",
        row_number().over(Window.partitionBy("lang").orderBy(desc("n"), col("token"))))
      .filter(col("rk") <= k)
      .withColumn("x", log(col("rk").cast("double")))
      .withColumn("y", log(col("n").cast("double")))
    val slope = (col("n_terms") * col("sxy") - col("sx") * col("sy")) /
      (col("n_terms") * col("sxx") - col("sx") * col("sx"))
    ranked.groupBy("lang")
      .agg(count(lit(1)).as("n_terms"), sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
      .select(col("lang"), col("n_terms"),
        round(slope, 6).as("zipf_slope"),
        round((col("sy") - slope * col("sx")) / col("n_terms"), 6).as("zipf_intercept"))
      .orderBy("lang")
  }

  /** Bigram language-model estimation (the KenLM-style count pass):
    * per language, the 20 highest-mass contexts and their top-3
    * continuations with exact maximum-likelihood probabilities in
    * floor-myriad — the n-gram LM table a quality filter perplexes
    * documents against.
    *
    * Scale shape: bigrams are produced MAP-ONLY by zipping each
    * token array with its own tail (no per-token window, no lag —
    * the array is already local to the row), so the only row-scale
    * exchange is the partial-aggregatable groupBy(lang, w1, w2)
    * count, where map-side combine absorbs the Zipfian hot bigrams
    * before the shuffle. The context table is vocabulary-scale, not
    * corpus-scale; the top-20-contexts window partitions by lang
    * over it (sublinear, same declared shape as the other per-lang
    * vocab windows), the surviving contexts broadcast back as a
    * semi-join, and the continuation window then ranks only the
    * ≤ 20·langs surviving context groups.
    */
  private def qTxtBigramLm(s: SparkSession, dir: String): DataFrame = {
    val tk = t(s, dir, "documents")
      .select(col("lang"), toks.as("w")).filter(size(col("w")) >= 2)
    val bi = tk.select(col("lang"),
        explode(zip_with(
          slice(col("w"), lit(1), size(col("w")) - 1),
          slice(col("w"), lit(2), size(col("w")) - 1),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("b"))
      .select(col("lang"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val cnt = bi.groupBy("lang", "w1", "w2").agg(count(lit(1)).as("n12"))
    val ctx = cnt.groupBy("lang", "w1")
      .agg(sum("n12").as("n1"), count(lit(1)).as("n_cont"))
      .withColumn("ctx_rnk", row_number().over(
        Window.partitionBy("lang").orderBy(desc("n1"), col("w1"))))
      .filter(col("ctx_rnk") <= 20)
    cnt.join(broadcast(ctx), Seq("lang", "w1"))
      .withColumn("cont_rnk", row_number().over(
        Window.partitionBy("lang", "w1").orderBy(desc("n12"), col("w2"))))
      .filter(col("cont_rnk") <= 3)
      .select(col("lang"), col("w1"), col("w2"), col("n12"), col("n1"),
        col("n_cont"), col("ctx_rnk"), col("cont_rnk"),
        floor(lit(10000L) * col("n12") / col("n1")).as("prob_myriad"))
      .orderBy("lang", "ctx_rnk", "cont_rnk")
  }

  /** Size of the Misra–Gries summary in [[qTxtTopkMg]] (shared with
    * the verdict arithmetic and the oracle).
    */
  val mgK = 100

  /** Heavy hitters via the native Misra–Gries mergeable aggregate
    * ([[graft.functions.MisraGriesTopK]]) — the single-pass,
    * plan-integrated alternative to both the exact vocabulary-wide
    * groupBy and the driver-side CountMinSketch of
    * q_txt_heavy_hitters: only k=[[mgK]] counters per partition reach
    * the shuffle. The hash-gated output is the exact top-20 joined
    * with the ORDER-INVARIANT facts the summary guarantees
    * (Agarwal et al., PODS 2012): `guaranteed` = the exact count
    * clears the N/(k+1) presence threshold; `present_ok` = every
    * guaranteed token is held by the sketch; `est_ok` = every held
    * estimate sits in [true − N/(k+1), true]. Raw summary contents
    * are merge-order-dependent and deliberately never surface —
    * the q_txt_heavy_hitters verdict-column discipline.
    */
  private def qTxtTopkMg(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.MisraGriesTopK.mgTopK
    val words = t(s, dir, "documents").select(explode(toks).as("token"))
    mgVerdict(words, words.agg(mgTopK(col("token"), mgK).as("summary"),
      count(lit(1)).as("n_total")))
  }

  /** Exact-top-20 verdict join over a one-row (summary, n_total)
    * sketch relation — shared by the batch query and the streaming
    * twin (q_stream_topk). The verdict columns gate ONLY on the
    * mergeable-summary guarantees (presence above N/(k+1), estimate
    * within [true − N/(k+1), true]), which the PODS 2012 merge rule
    * preserves under ANY micro-batch slicing — so both paths share one
    * oracle even though the retained summary SETS may differ.
    */
  private[graft] def mgVerdict(words: DataFrame, sk: DataFrame): DataFrame = {
    val exact = words.groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), col("token")).limit(20)
    exact.crossJoin(broadcast(sk))
      .withColumn("entry",
        filter(col("summary"), e => e.getField("token") === col("token")))
      .withColumn("est",
        when(size(col("entry")) > 0, col("entry").getItem(0).getField("est")))
      .select(col("token"), col("n"),
        (col("n") * (mgK + 1) > col("n_total")).as("guaranteed"),
        (!(col("n") * (mgK + 1) > col("n_total")) || col("est").isNotNull)
          .as("present_ok"),
        (col("est").isNull || (col("est") <= col("n") &&
          col("est") >= col("n") - floor(col("n_total") / (mgK + 1))))
          .as("est_ok"))
      .orderBy(desc("n"), col("token"))
  }

  /** Blocklisted tokens for [[qTxtBlocklist]] (shared with the
    * oracle): the planted-duplicate marker token plus a never-present
    * entry exercising the no-hit path. The synthetic vocab is near-
    * uniform (every other token appears in ~77% of docs), so "dup" is
    * the one entry that yields a non-degenerate census.
    */
  val blocklist = Seq("dup", "tombstone")

  /** Blocklist filter census (Raffel et al. C4, JMLR 2020 §2.2: drop
    * any page containing a blocklisted word): token-exact matching
    * (array_intersect on the split tokens — substring matching
    * over-blocks), evaluated as a pure narrow map with the list
    * inlined as a literal (a real blocklist is a few-KB broadcast;
    * either way the corpus never shuffles for it). Census per lang:
    * docs/tokens blocked vs kept and the blocked-mass ppm — the
    * numbers a pipeline owner reviews before enabling the drop.
    */
  private def qTxtBlocklist(s: SparkSession, dir: String): DataFrame = {
    val bl = lit(blocklist.toArray)
    t(s, dir, "documents")
      .select(col("lang"), size(toks).as("n_tok"),
        (size(array_intersect(toks, bl)) > 0).as("blocked"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("blocked"), 1L).otherwise(0L)).as("n_blocked"),
        sum(col("n_tok").cast("long")).as("tok_total"),
        sum(when(col("blocked"), col("n_tok").cast("long")).otherwise(0L))
          .as("tok_blocked"))
      .select(col("lang"), col("n_docs"), col("n_blocked"),
        col("tok_total"), col("tok_blocked"),
        floor(lit(1000000L) * col("tok_blocked") / col("tok_total"))
          .as("blocked_ppm"))
      .orderBy("lang")
  }

  /** Vocabulary-growth census (Heaps' law readout): cumulative
    * distinct-token count over doc_id-ordered corpus prefixes at each
    * decile — the curve a tokenizer owner reads to size vocab and
    * detect template floods (sub-Heaps growth = duplicated boilerplate).
    * ONE pass: per-token first occurrence (groupBy(token).min(doc_id) —
    * the only corpus-sized shuffle, partial-aggregatable), each token
    * bucketed by the decile its first doc falls in, a 10-row census,
    * and a cumulative window over those 10 rows (bounded dimension by
    * construction). Exact integer arithmetic throughout.
    */
  private def qTxtVocabGrowth(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val nDocs = docs.agg(count(lit(1)).as("n"))
    val firstSeen = docs.select(col("doc_id"), explode(toks).as("token"))
      .filter(col("token") =!= "")
      .groupBy("token").agg(min("doc_id").as("first_doc"))
    val bucketed = firstSeen.crossJoin(broadcast(nDocs))
      .select(least(lit(10L), floor(col("first_doc") * 10 / col("n")) + 1)
        .as("decile"), col("n"))
      .groupBy("decile").agg(count(lit(1)).as("new_tokens"), max("n").as("n"))
    bucketed
      .withColumn("vocab_cum",
        sum("new_tokens").over(Window.orderBy("decile")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("decile"), expr("decile * n div 10").as("prefix_docs"),
        col("new_tokens"), col("vocab_cum"))
      .orderBy("decile")
  }

  /** Term burstiness (Church & Gale 1995; Katz's adaptation model):
    * collection frequency over document frequency per term — a bursty
    * term (cf ≫ df) concentrates in few docs (topical/templated), a
    * uniform term spreads evenly (function words). The readout that
    * separates content terms from glue BEFORE any model sees the
    * corpus. One pass: explode tokens, ONE groupBy(token) computing cf
    * exactly and df as count(DISTINCT doc_id) (partial-aggregatable),
    * top-20 by cf with a deterministic tiebreak, burstiness emitted as
    * exact x1000 integer.
    */
  private def qTxtBurstiness(s: SparkSession, dir: String): DataFrame = {
    val w = t(s, dir, "documents")
      .select(col("doc_id"), explode(toks).as("token"))
      .filter(col("token") =!= "")
    w.groupBy("token")
      .agg(count(lit(1)).as("cf"), countDistinct("doc_id").as("df"))
      .select(col("token"), col("cf"), col("df"),
        floor(lit(1000L) * col("cf") / col("df")).as("burstiness_x1000"))
      .orderBy(desc("cf"), col("token"))
      .limit(20)
  }

  /** N-gram novelty census — the memorization-risk curve next to
    * [[qTxtVocabGrowth]]'s token-level Heaps readout: for each corpus
    * decile (doc_id order), what fraction of its 3-gram OCCURRENCES
    * are first-ever-seen vs repeats of earlier deciles. A falling
    * novelty curve is healthy growth; a collapse means the tail is
    * recombinated boilerplate (the raw-novelty diagnostic of the
    * LLM-data literature). One corpus-sized shuffle: explode distinct
    * 3-gram strings per doc ([[Q.shingles3]] — strings, not hashes,
    * so DuckDB replays them verbatim), groupBy(shingle).min(decile)
    * for first-sight, join occurrences back on the shingle key
    * (partial-aggregatable census after).
    */
  private def qTxtNgramNovelty(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val nDocs = docs.agg(count(lit(1)).as("n"))
    val occ = docs.select(col("doc_id"), explode(shingles3(toks)).as("sh"))
      .crossJoin(broadcast(nDocs))
      .select(col("sh"),
        least(lit(10L), floor(col("doc_id") * 10 / col("n")) + 1).as("decile"))
    val first = occ.groupBy("sh").agg(min("decile").as("first_decile"))
    occ.join(first, Seq("sh"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_occ"),
        sum(when(col("first_decile") === col("decile"), 1L).otherwise(0L))
          .as("n_novel"))
      .select(col("decile"), col("n_occ"), col("n_novel"),
        floor(lit(1000000L) * col("n_novel") / col("n_occ")).as("novelty_ppm"))
      .orderBy("decile")
  }

  /** Classifier-eval census over the registered language-ID heuristic:
    * the full (actual, predicted) confusion matrix with per-cell
    * recall share (of the actual-language row) and precision share
    * (of the predicted column) in exact floor-ppm — the evaluation
    * harness a pipeline runs on EVERY heuristic classifier before
    * trusting its routing decisions, computed here from the same
    * [[qTxtLangid]] logic so the eval can never drift from the
    * deployed classifier. Three partial-aggregatable counts (cell,
    * row, column) over the per-doc guesses, joined on the tiny
    * |langs|² matrix.
    */
  private def qTxtLangidEval(s: SparkSession, dir: String): DataFrame = {
    val g = qTxtLangid(s, dir).select("lang", "guess")
    val cell = g.groupBy("lang", "guess").agg(count(lit(1)).as("n"))
    val rowT = g.groupBy("lang").agg(count(lit(1)).as("n_lang"))
    val colT = g.groupBy("guess").agg(count(lit(1)).as("n_guess"))
    cell.join(rowT, Seq("lang")).join(colT, Seq("guess"))
      .select(col("lang"), col("guess"), col("n"),
        floor(lit(1000000L) * col("n") / col("n_lang")).as("recall_ppm"),
        floor(lit(1000000L) * col("n") / col("n_guess")).as("precision_ppm"))
      .orderBy("lang", "guess")
  }

  /** Cohen's kappa for the language-ID classifier (Cohen 1960 —
    * agreement corrected for chance) from the same (true, guessed)
    * pairs as [[qTxtLangidEval]]: the overall multi-class kappa plus a
    * one-vs-rest kappa per language (each language's confusion
    * collapsed to its 2×2 table). Every margin is an exact integer
    * count; p_o and p_e are formed by division-first double arithmetic
    * (each a probability in [0,1], immune to count overflow) and kappa
    * emits once per row in ppm — no cross-row float ever exists.
    *
    * Scale shape: the per-doc guess relation collapses to the
    * |langs|² confusion matrix in one partial-aggregatable groupBy;
    * margins and the diagonal are |langs|-row aggregates joined by
    * broadcast, and the global totals ride a 1-row cross join.
    */
  private def qTxtKappa(s: SparkSession, dir: String): DataFrame = {
    val g = qTxtLangid(s, dir).select("lang", "guess")
    val cell = g.groupBy("lang", "guess").agg(count(lit(1)).as("n"))
    val rowT = cell.groupBy("lang").agg(sum("n").as("row_n"))
    val colT = cell.groupBy("guess").agg(sum("n").as("col_n"))
    val diag = cell.filter(col("lang") === col("guess"))
      .select(col("lang").as("l"), col("n").as("diag_n"))
    val tot = cell.agg(sum("n").as("n_tot"),
      sum(when(col("lang") === col("guess"), col("n")).otherwise(0L)).as("diag_tot"))
    def kappaPpm(po: org.apache.spark.sql.Column, pe: org.apache.spark.sql.Column) =
      round(lit(1000000.0) * (po - pe) / (lit(1.0) - pe)).cast("long")
    // per-language one-vs-rest 2x2: a=diag, b=row-a, c=col-a,
    // d=N-row-col+a; margins are FULL-outer joined so a language that
    // is never guessed (or never true) still gets its census row
    val perLang = rowT
      .join(colT, col("lang") === col("guess"), "full_outer")
      .select(coalesce(col("lang"), col("guess")).as("lg"),
        coalesce(col("row_n"), lit(0L)).as("row_n"),
        coalesce(col("col_n"), lit(0L)).as("col_n"))
      .join(broadcast(diag), col("lg") === col("l"), "left")
      .crossJoin(broadcast(tot))
      .withColumn("a", coalesce(col("diag_n"), lit(0L)))
      .withColumn("po",
        (col("a") * 2L + col("n_tot") - col("row_n") - col("col_n"))
          .cast("double") / col("n_tot"))
      .withColumn("pe",
        (col("row_n").cast("double") / col("n_tot")) *
          (col("col_n").cast("double") / col("n_tot")) +
          ((col("n_tot") - col("row_n")).cast("double") / col("n_tot")) *
          ((col("n_tot") - col("col_n")).cast("double") / col("n_tot")))
      .select(col("lg").as("lang"), col("a").as("n_agree"),
        kappaPpm(col("po"), col("pe")).as("kappa_ppm"))
    // overall multi-class kappa: p_e = (Σ row·col)/N² — the margin
    // cross sum stays an exact integer, division happens once
    val rc = rowT.join(colT, col("lang") === col("guess"))
      .agg(sum(col("row_n") * col("col_n")).as("rc"))
    val overall = rc.crossJoin(broadcast(tot))
      .select(lit("__ALL__").as("lang"), col("diag_tot").as("n_agree"),
        kappaPpm(col("diag_tot").cast("double") / col("n_tot"),
          (col("rc").cast("double") / col("n_tot")) / col("n_tot"))
          .as("kappa_ppm"))
    perLang.unionByName(overall).orderBy("lang")
  }

  /** Jensen–Shannon divergence between the unigram distributions of
    * two corpus halves (doc_id parity — the deterministic stand-in for
    * "yesterday's crawl vs today's") over the top-500 global vocabulary
    * with everything else folded into one OTHER bucket — the bounded
    * JSD every drift monitor actually computes, since the full-vocab
    * divergence is support-unbounded. Ties at the vocabulary cut break
    * by token, so the support set is identical in any engine. Per-token
    * contributions ½p·ln(p/m) + ½q·ln(q/m) quantize to nano-nats
    * BEFORE the order-invariant integer sum; a zero count contributes
    * 0 by the 0·ln 0 convention (m > 0 everywhere on the union
    * support). The report also names the top-contributing token — the
    * "what drifted" readout.
    *
    * Scale shape: one explode+groupBy builds the token counts
    * (partial-aggregatable); the 500-row vocabulary resolves via
    * TakeOrdered and BROADCASTS into a map-side membership join, so
    * the corpus shuffles only (≤501-key, half) cells; totals and the
    * arg-max ride 1-row broadcast cross joins.
    */
  private def qTxtJsDrift(s: SparkSession, dir: String): DataFrame = {
    val toks = t(s, dir, "documents")
      .select((col("doc_id") % 2).cast("int").as("half"),
        explode(split(col("text"), " ")).as("tok"))
    val vocab = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), col("tok")).limit(500)
      .select(col("tok").as("vtok"))
    val cells = toks
      .join(broadcast(vocab), col("tok") === col("vtok"), "left")
      .select(col("half"), coalesce(col("vtok"), lit("__OTHER__")).as("vt"))
      .groupBy("vt")
      .agg(sum(when(col("half") === 0, 1L).otherwise(0L)).as("c1"),
        sum(when(col("half") === 1, 1L).otherwise(0L)).as("c2"))
    val tot = cells.agg(sum("c1").as("t1"), sum("c2").as("t2"))
    val terms = cells.crossJoin(broadcast(tot))
      .withColumn("p", col("c1").cast("double") / col("t1"))
      .withColumn("q", col("c2").cast("double") / col("t2"))
      .withColumn("m", (col("p") + col("q")) / 2)
      .withColumn("contrib_nnat", round(lit(1e9) * (
        when(col("c1") === 0L, lit(0.0))
          .otherwise(lit(0.5) * col("p") * log(col("p") / col("m"))) +
        when(col("c2") === 0L, lit(0.0))
          .otherwise(lit(0.5) * col("q") * log(col("q") / col("m")))))
        .cast("long"))
    terms.agg(count(lit(1)).as("n_terms"),
        min(col("t1")).as("n_tok_1"), min(col("t2")).as("n_tok_2"),
        sum(col("contrib_nnat")).as("jsd_nnat"),
        max(struct(col("contrib_nnat"), col("vt"))).as("top"))
      .select(col("n_terms"), col("n_tok_1"), col("n_tok_2"), col("jsd_nnat"),
        col("top.vt").as("top_token"),
        col("top.contrib_nnat").as("top_contrib_nnat"))
  }

  /** Incremental corpus snapshot DIFF — the census an incremental
    * crawl refresh runs before committing a new corpus version
    * (added / removed / changed / unchanged, with byte mass before and
    * after, per source): v2 is derived from v1 by a deterministic
    * engine-neutral edit law (removals doc_id % 23 == 5, in-place
    * edits % 17 == 3, additions spawned from % 29 == 7 under offset
    * ids), then the two snapshots FULL-OUTER join on doc_id and
    * payloads compare by md5 DIGEST — so at 100 TB the one diff
    * exchange ships ids and 16-byte digests, never documents (the
    * narrow-projection discipline of reshardBySize/cdc_chunks applied
    * to the join). The oracle replays the same law comparing the TEXT
    * itself — digest-vs-text independence means an md5 plumbing slip
    * on either side fails the hash.
    */
  private def qCorpusDiff(s: SparkSession, dir: String): DataFrame = {
    val v1 = t(s, dir, "documents").select(col("doc_id"), col("source"),
      col("text"))
    val v2 = v1.filter(col("doc_id") % 23 =!= 5)
      .withColumn("text", when(col("doc_id") % 17 === 3,
        concat(col("text"), lit(" v2"))).otherwise(col("text")))
      .unionByName(v1.filter(col("doc_id") % 29 === 7)
        .select((col("doc_id") + 1000000000L).as("doc_id"), col("source"),
          concat(lit("new "), col("text")).as("text")))
    def narrow(df: DataFrame, tag: String) = df.select(
      col("doc_id"), col("source").as(s"source_$tag"),
      md5(col("text")).as(s"h_$tag"),
      length(col("text")).cast("long").as(s"n_$tag"))
    narrow(v1, "a").join(narrow(v2, "b"), Seq("doc_id"), "full_outer")
      .select(coalesce(col("source_a"), col("source_b")).as("source"),
        when(col("h_a").isNull, "added")
          .when(col("h_b").isNull, "removed")
          .when(col("h_a") =!= col("h_b"), "changed")
          .otherwise("unchanged").as("status"),
        coalesce(col("n_a"), lit(0L)).as("na"),
        coalesce(col("n_b"), lit(0L)).as("nb"))
      .groupBy("source", "status")
      .agg(count(lit(1)).as("n_docs"),
        sum("na").as("bytes_before"), sum("nb").as("bytes_after"))
      .orderBy("source", "status")
  }

  private def piiOracleCols(pat: String, name: String): String =
    s"""count(CASE WHEN len(regexp_extract_all(text, '$pat')) > 0 THEN 1 END) AS docs_$name,
       |  CAST(sum(len(regexp_extract_all(text, '$pat'))) AS BIGINT) AS n_$name""".stripMargin

  private[queries] val topkMgOracle: String =
    s"""WITH w AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
       |tot AS (SELECT count(*) AS n_total FROM w),
       |e AS (SELECT token, count(*) AS n FROM w GROUP BY 1
       |      ORDER BY n DESC, token LIMIT 20)
       |SELECT token, n, (n * ${mgK + 1} > n_total) AS guaranteed,
       |  TRUE AS present_ok, TRUE AS est_ok
       |FROM e, tot ORDER BY n DESC, token""".stripMargin

  val registry: Seq[QueryDef] = Seq(
    // Diff law replayed comparing TEXT equality (the engine compares
    // md5 digests — independence by construction).
    QueryDef("q_corpus_diff", qCorpusDiff,
      """WITH v1 AS (SELECT doc_id, source, text FROM documents),
        |v2 AS (
        |  SELECT doc_id, source,
        |         CASE WHEN doc_id % 17 = 3 THEN text || ' v2'
        |              ELSE text END AS text
        |  FROM v1 WHERE doc_id % 23 != 5
        |  UNION ALL
        |  SELECT doc_id + 1000000000, source, 'new ' || text
        |  FROM v1 WHERE doc_id % 29 = 7),
        |j AS (
        |  SELECT coalesce(a.source, b.source) AS source,
        |         CASE WHEN a.doc_id IS NULL THEN 'added'
        |              WHEN b.doc_id IS NULL THEN 'removed'
        |              WHEN a.text != b.text THEN 'changed'
        |              ELSE 'unchanged' END AS status,
        |         coalesce(strlen(a.text), 0) AS na,
        |         coalesce(strlen(b.text), 0) AS nb
        |  FROM v1 a FULL OUTER JOIN v2 b ON a.doc_id = b.doc_id)
        |SELECT source, status, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(na) AS BIGINT) AS bytes_before,
        |       CAST(sum(nb) AS BIGINT) AS bytes_after
        |FROM j GROUP BY source, status ORDER BY source, status""".stripMargin),
    QueryDef("q_txt_js_drift", qTxtJsDrift,
      """WITH toks AS (
        |  SELECT CAST(doc_id % 2 AS INTEGER) AS half,
        |         unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |vocab AS (
        |  SELECT tok AS vtok FROM toks GROUP BY 1
        |  ORDER BY count(*) DESC, tok LIMIT 500),
        |cells AS (
        |  SELECT coalesce(vtok, '__OTHER__') AS vt,
        |    CAST(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |    CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c2
        |  FROM toks LEFT JOIN vocab ON tok = vtok GROUP BY 1),
        |tot AS (SELECT CAST(sum(c1) AS BIGINT) AS t1,
        |               CAST(sum(c2) AS BIGINT) AS t2 FROM cells),
        |terms AS (
        |  SELECT vt,
        |    CAST(round(1e9 * (
        |      CASE WHEN c1 = 0 THEN 0 ELSE
        |        0.5 * (CAST(c1 AS DOUBLE) / t1) *
        |        ln((CAST(c1 AS DOUBLE) / t1) /
        |           ((CAST(c1 AS DOUBLE) / t1 + CAST(c2 AS DOUBLE) / t2) / 2)) END +
        |      CASE WHEN c2 = 0 THEN 0 ELSE
        |        0.5 * (CAST(c2 AS DOUBLE) / t2) *
        |        ln((CAST(c2 AS DOUBLE) / t2) /
        |           ((CAST(c1 AS DOUBLE) / t1 + CAST(c2 AS DOUBLE) / t2) / 2)) END))
        |      AS BIGINT) AS contrib_nnat
        |  FROM cells, tot),
        |agg AS (
        |  SELECT count(*) AS n_terms,
        |    (SELECT t1 FROM tot) AS n_tok_1, (SELECT t2 FROM tot) AS n_tok_2,
        |    CAST(sum(contrib_nnat) AS BIGINT) AS jsd_nnat,
        |    max(contrib_nnat) AS mx
        |  FROM terms)
        |SELECT n_terms, n_tok_1, n_tok_2, jsd_nnat,
        |  (SELECT max(vt) FROM terms WHERE contrib_nnat = mx) AS top_token,
        |  mx AS top_contrib_nnat
        |FROM agg""".stripMargin),
    QueryDef("q_txt_kappa", qTxtKappa,
      """WITH scored AS (
        |  SELECT lang,
        |    len(list_filter(string_split(text, ' '), x -> x IN ('the','a','and','is'))) AS en_hits,
        |    len(list_filter(string_split(text, ' '), x -> x IN ('le','et','une','est'))) AS fr_hits,
        |    len(list_filter(string_split(text, ' '), x -> x IN ('der','und','die','ist'))) AS de_hits,
        |    len(list_filter(string_split(text, ' '), x -> x IN ('el','los','una','es'))) AS es_hits
        |  FROM documents),
        |g AS (SELECT lang,
        |  CASE WHEN en_hits >= fr_hits AND en_hits >= de_hits AND en_hits >= es_hits AND en_hits > 0 THEN 'en'
        |       WHEN fr_hits >= de_hits AND fr_hits >= es_hits AND fr_hits > 0 THEN 'fr'
        |       WHEN de_hits >= es_hits AND de_hits > 0 THEN 'de'
        |       WHEN es_hits > 0 THEN 'es'
        |       ELSE 'und' END AS guess
        |  FROM scored),
        |cell AS (SELECT lang, guess, CAST(count(*) AS BIGINT) AS n FROM g GROUP BY 1, 2),
        |rt AS (SELECT lang, CAST(sum(n) AS BIGINT) AS row_n FROM cell GROUP BY 1),
        |ct AS (SELECT guess, CAST(sum(n) AS BIGINT) AS col_n FROM cell GROUP BY 1),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_tot,
        |  CAST(sum(CASE WHEN lang = guess THEN n ELSE 0 END) AS BIGINT) AS diag_tot
        |  FROM cell),
        |m AS (SELECT coalesce(rt.lang, ct.guess) AS lg,
        |        coalesce(row_n, 0) AS row_n, coalesce(col_n, 0) AS col_n
        |      FROM rt FULL JOIN ct ON rt.lang = ct.guess),
        |per AS (
        |  SELECT lg AS lang,
        |    coalesce((SELECT n FROM cell WHERE cell.lang = m.lg
        |              AND cell.guess = m.lg), 0) AS a,
        |    row_n, col_n, n_tot
        |  FROM m, tot),
        |pl AS (
        |  SELECT lang, CAST(a AS BIGINT) AS n_agree,
        |    CAST(round(1000000.0 *
        |      ((CAST(a * 2 + n_tot - row_n - col_n AS DOUBLE) / n_tot) -
        |       ((CAST(row_n AS DOUBLE) / n_tot) * (CAST(col_n AS DOUBLE) / n_tot) +
        |        (CAST(n_tot - row_n AS DOUBLE) / n_tot) * (CAST(n_tot - col_n AS DOUBLE) / n_tot))) /
        |      (1.0 - ((CAST(row_n AS DOUBLE) / n_tot) * (CAST(col_n AS DOUBLE) / n_tot) +
        |        (CAST(n_tot - row_n AS DOUBLE) / n_tot) * (CAST(n_tot - col_n AS DOUBLE) / n_tot))))
        |      AS BIGINT) AS kappa_ppm
        |  FROM per),
        |rc AS (SELECT CAST(sum(row_n * col_n) AS BIGINT) AS rc
        |       FROM rt JOIN ct ON rt.lang = ct.guess),
        |ov AS (
        |  SELECT '__ALL__' AS lang, diag_tot AS n_agree,
        |    CAST(round(1000000.0 *
        |      ((CAST(diag_tot AS DOUBLE) / n_tot) -
        |       ((CAST(rc AS DOUBLE) / n_tot) / n_tot)) /
        |      (1.0 - ((CAST(rc AS DOUBLE) / n_tot) / n_tot))) AS BIGINT) AS kappa_ppm
        |  FROM rc, tot)
        |SELECT * FROM pl UNION ALL SELECT * FROM ov ORDER BY lang""".stripMargin),
    QueryDef("q_txt_langid_eval", qTxtLangidEval,
      """WITH scored AS (
        |  SELECT lang,
        |    len(list_filter(string_split(text, ' '), x -> x IN ('the','a','and','is'))) AS en_hits,
        |    len(list_filter(string_split(text, ' '), x -> x IN ('le','et','une','est'))) AS fr_hits,
        |    len(list_filter(string_split(text, ' '), x -> x IN ('der','und','die','ist'))) AS de_hits,
        |    len(list_filter(string_split(text, ' '), x -> x IN ('el','los','una','es'))) AS es_hits
        |  FROM documents),
        |g AS (SELECT lang,
        |  CASE WHEN en_hits >= fr_hits AND en_hits >= de_hits AND en_hits >= es_hits AND en_hits > 0 THEN 'en'
        |       WHEN fr_hits >= de_hits AND fr_hits >= es_hits AND fr_hits > 0 THEN 'fr'
        |       WHEN de_hits >= es_hits AND de_hits > 0 THEN 'de'
        |       WHEN es_hits > 0 THEN 'es'
        |       ELSE 'und' END AS guess
        |  FROM scored),
        |cell AS (SELECT lang, guess, CAST(count(*) AS BIGINT) AS n FROM g GROUP BY 1, 2),
        |rt AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_lang FROM g GROUP BY 1),
        |ct AS (SELECT guess, CAST(count(*) AS BIGINT) AS n_guess FROM g GROUP BY 1)
        |SELECT cell.lang, cell.guess, cell.n,
        |  CAST(floor(1000000 * cell.n / n_lang) AS BIGINT) AS recall_ppm,
        |  CAST(floor(1000000 * cell.n / n_guess) AS BIGINT) AS precision_ppm
        |FROM cell JOIN rt USING (lang) JOIN ct USING (guess)
        |ORDER BY lang, guess""".stripMargin),
    QueryDef("q_txt_ngram_novelty", qTxtNgramNovelty,
      """WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
        |tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, len(toks) - 1),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS sh
        |  FROM tk WHERE len(toks) >= 3),
        |occ AS (SELECT sh, least(10, doc_id * 10 // n.n + 1) AS decile FROM sh, n),
        |fs AS (SELECT sh, min(decile) AS fd FROM occ GROUP BY 1),
        |c AS (SELECT occ.decile, count(*) AS n_occ,
        |    CAST(sum(CASE WHEN fs.fd = occ.decile THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
        |  FROM occ JOIN fs USING (sh) GROUP BY 1)
        |SELECT decile, n_occ, n_novel,
        |  CAST(floor(1000000 * n_novel / n_occ) AS BIGINT) AS novelty_ppm
        |FROM c ORDER BY decile""".stripMargin),
    QueryDef("q_txt_burstiness", qTxtBurstiness,
      """WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |g AS (SELECT token, CAST(count(*) AS BIGINT) AS cf,
        |    CAST(count(DISTINCT doc_id) AS BIGINT) AS df
        |  FROM w WHERE token <> '' GROUP BY 1)
        |SELECT token, cf, df,
        |  CAST(floor(1000 * cf / df) AS BIGINT) AS burstiness_x1000
        |FROM g ORDER BY cf DESC, token LIMIT 20""".stripMargin),
    QueryDef("q_txt_vocab_growth", qTxtVocabGrowth,
      """WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
        |fs AS (SELECT t AS token, min(doc_id) AS first_doc
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
        |  WHERE t <> '' GROUP BY 1),
        |b AS (SELECT least(10, first_doc * 10 // n.n + 1) AS decile,
        |    max(n.n) AS n, count(*) AS new_tokens
        |  FROM fs, n GROUP BY 1)
        |SELECT decile, CAST(decile * n // 10 AS BIGINT) AS prefix_docs,
        |  CAST(new_tokens AS BIGINT) AS new_tokens,
        |  CAST(sum(new_tokens) OVER (ORDER BY decile
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS vocab_cum
        |FROM b ORDER BY decile""".stripMargin),
    QueryDef("q_txt_blocklist", qTxtBlocklist,
      s"""WITH d AS (SELECT lang, string_split(text, ' ') AS w FROM documents),
         |f AS (SELECT lang, len(w) AS n_tok,
         |    len(list_intersect(w, [${blocklist.map("'" + _ + "'").mkString(", ")}])) > 0 AS blocked
         |  FROM d)
         |SELECT lang, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN blocked THEN 1 ELSE 0 END) AS BIGINT) AS n_blocked,
         |  CAST(sum(n_tok) AS BIGINT) AS tok_total,
         |  CAST(sum(CASE WHEN blocked THEN n_tok ELSE 0 END) AS BIGINT) AS tok_blocked,
         |  CAST(floor(1000000 * CAST(sum(CASE WHEN blocked THEN n_tok ELSE 0 END) AS BIGINT)
         |    / CAST(sum(n_tok) AS BIGINT)) AS BIGINT) AS blocked_ppm
         |FROM f GROUP BY lang ORDER BY lang""".stripMargin),
    QueryDef("q_txt_topk_mg", qTxtTopkMg, topkMgOracle),
    // KN replay: identical integer-rational law — counts, continuation
    // counts, type totals, and the common-denominator div emission.
    QueryDef("q_txt_kneser_ney", qTxtKneserNey,
      """WITH tk AS (SELECT lang, string_split(text, ' ') AS w FROM documents
        |  WHERE len(string_split(text, ' ')) >= 2),
        |bi AS (SELECT lang,
        |    unnest(list_transform(range(1, len(w)),
        |      i -> {'w1': w[i], 'w2': w[i + 1]})) AS b FROM tk),
        |cnt AS (SELECT lang, b.w1 AS w1, b.w2 AS w2, count(*) AS n12
        |  FROM bi GROUP BY 1, 2, 3),
        |ctx AS (SELECT lang, w1, CAST(sum(n12) AS BIGINT) AS n1,
        |    count(*) AS n_cont,
        |    CAST(row_number() OVER (PARTITION BY lang
        |      ORDER BY sum(n12) DESC, w1) AS INTEGER) AS ctx_rnk
        |  FROM cnt GROUP BY lang, w1 QUALIFY ctx_rnk <= 20),
        |cc AS (SELECT lang, w2, count(*) AS n2 FROM cnt GROUP BY 1, 2),
        |ty AS (SELECT lang, count(*) AS tt FROM cnt GROUP BY 1),
        |j AS (SELECT cnt.lang, cnt.w1, cnt.w2, cnt.n12, ctx.n1,
        |    ctx.n_cont, cc.n2, ty.tt, ctx.ctx_rnk,
        |    CAST(row_number() OVER (PARTITION BY cnt.lang, cnt.w1
        |      ORDER BY cnt.n12 DESC, cnt.w2) AS INTEGER) AS cont_rnk
        |  FROM cnt
        |  JOIN ctx ON cnt.lang = ctx.lang AND cnt.w1 = ctx.w1
        |  JOIN cc ON cnt.lang = cc.lang AND cnt.w2 = cc.w2
        |  JOIN ty ON cnt.lang = ty.lang)
        |SELECT lang, w1, w2, n12, n1, n_cont, CAST(n2 AS BIGINT) AS n2,
        |  CAST(tt AS BIGINT) AS tt, ctx_rnk, cont_rnk,
        |  (10000 * n12) // n1 AS mle_myriad,
        |  (10000 * ((4 * n12 - 3) * tt + 3 * n_cont * n2))
        |    // (4 * n1 * tt) AS kn_myriad
        |FROM j WHERE cont_rnk <= 3
        |ORDER BY lang, ctx_rnk, cont_rnk""".stripMargin),
    QueryDef("q_txt_bigram_lm", qTxtBigramLm,
      """WITH tk AS (SELECT lang, string_split(text, ' ') AS w FROM documents
        |  WHERE len(string_split(text, ' ')) >= 2),
        |bi AS (SELECT lang,
        |    unnest(list_transform(range(1, len(w)),
        |      i -> {'w1': w[i], 'w2': w[i + 1]})) AS b FROM tk),
        |cnt AS (SELECT lang, b.w1 AS w1, b.w2 AS w2, count(*) AS n12
        |  FROM bi GROUP BY 1, 2, 3),
        |ctx AS (SELECT lang, w1, CAST(sum(n12) AS BIGINT) AS n1, count(*) AS n_cont,
        |    CAST(row_number() OVER (PARTITION BY lang
        |      ORDER BY sum(n12) DESC, w1) AS INTEGER) AS ctx_rnk
        |  FROM cnt GROUP BY lang, w1 QUALIFY ctx_rnk <= 20),
        |j AS (SELECT cnt.lang, cnt.w1, cnt.w2, cnt.n12, ctx.n1, ctx.n_cont, ctx.ctx_rnk,
        |    CAST(row_number() OVER (PARTITION BY cnt.lang, cnt.w1
        |      ORDER BY cnt.n12 DESC, cnt.w2) AS INTEGER) AS cont_rnk
        |  FROM cnt JOIN ctx ON cnt.lang = ctx.lang AND cnt.w1 = ctx.w1)
        |SELECT lang, w1, w2, n12, n1, n_cont, ctx_rnk, cont_rnk,
        |  CAST(floor(10000 * n12 / n1) AS BIGINT) AS prob_myriad
        |FROM j WHERE cont_rnk <= 3
        |ORDER BY lang, ctx_rnk, cont_rnk""".stripMargin),
    QueryDef("q_txt_zipf", qTxtZipf,
      """WITH c AS (SELECT lang, t AS token, count(*) AS n
        |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS t FROM documents)
        |  GROUP BY lang, t),
        |r AS (SELECT lang, n,
        |    row_number() OVER (PARTITION BY lang ORDER BY n DESC, token) AS rk FROM c),
        |xy AS (SELECT lang, ln(CAST(rk AS DOUBLE)) AS x, ln(CAST(n AS DOUBLE)) AS y
        |       FROM r WHERE rk <= 100),
        |sm AS (SELECT lang, count(*) AS n_terms, sum(x) AS sx, sum(y) AS sy,
        |         sum(x * y) AS sxy, sum(x * x) AS sxx FROM xy GROUP BY lang)
        |SELECT lang, n_terms,
        |  round((n_terms * sxy - sx * sy) / (n_terms * sxx - sx * sx), 6) AS zipf_slope,
        |  round((sy - (n_terms * sxy - sx * sy) / (n_terms * sxx - sx * sx) * sx)
        |    / n_terms, 6) AS zipf_intercept
        |FROM sm ORDER BY lang""".stripMargin),
    QueryDef("q_txt_bm25", qTxtBm25,
      """WITH d AS (SELECT doc_id, len(string_split(text, ' ')) AS dl,
        |             string_split(text, ' ') AS tk FROM documents),
        |st AS (SELECT count(*) AS n_docs, avg(CAST(dl AS DOUBLE)) AS avgdl FROM d),
        |tf AS (SELECT doc_id, dl, t AS term, CAST(count(*) AS DOUBLE) AS tf
        |       FROM (SELECT doc_id, dl, unnest(tk) AS t FROM d)
        |       WHERE t IN ('table', 'scan', 'fast') GROUP BY doc_id, dl, t),
        |df AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term)
        |SELECT doc_id,
        |  round(sum(ln(1.0 + (st.n_docs - df.df + 0.5) / (df.df + 0.5)) *
        |    (tf.tf * (CAST(1.2 AS DOUBLE) + 1.0)) /
        |    (tf.tf + CAST(1.2 AS DOUBLE) *
        |      (1.0 - 0.75 + CAST(0.75 AS DOUBLE) * tf.dl / st.avgdl))), 6) AS bm25,
        |  count(*) AS n_terms_hit
        |FROM tf JOIN df USING (term), st
        |GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 10""".stripMargin),
    // Chunk identity: the oracle partitions on the chunk STRING where the
    // engine partitions on its xxhash64 — identical equivalence classes
    // modulo a 64-bit collision (same convention as q_txt_dup_spans).
    QueryDef("q_txt_chunk_dedup", qTxtChunkDedup,
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |ch AS (SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
        |         array_to_string(tk[CAST(i*8+1 AS INT) : CAST(i*8+8 AS INT)], ' ') AS chunk
        |       FROM tk, unnest(range(0, len(tk) // 8)) AS t(i)),
        |win AS (SELECT doc_id, chunk_idx,
        |          row_number() OVER (PARTITION BY chunk ORDER BY doc_id, chunk_idx) AS rn
        |        FROM ch)
        |SELECT doc_id, count(*) AS n_chunks,
        |  count(*) FILTER (WHERE rn = 1) AS n_kept,
        |  count(*) - count(*) FILTER (WHERE rn = 1) AS n_dropped,
        |  round((count(*) FILTER (WHERE rn = 1))::DOUBLE / count(*), 6) AS retention
        |FROM win GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    // Window identity on the 8-gram STRING where the engine uses its
    // xxhash64 (same collision convention as q_txt_chunk_dedup); the
    // rest replays the run/merge law with plain SQL windows.
    QueryDef("q_txt_exact_substr", qTxtExactSubstr,
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |g AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
        |        array_to_string(tk[CAST(i+1 AS INT) : CAST(i+8 AS INT)], ' ') AS sh
        |      FROM tk, unnest(range(0, greatest(len(tk) - 7, 0))) AS t(i)),
        |d AS (SELECT doc_id, pos,
        |        (doc_id * 1048576 + pos) >
        |          min(doc_id * 1048576 + pos) OVER (PARTITION BY sh) AS dup
        |      FROM g),
        |runs AS (SELECT doc_id, pos,
        |           pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS isl
        |         FROM d WHERE dup),
        |q AS (SELECT doc_id, min(pos) AS first_pos, max(pos) AS last_pos
        |      FROM runs GROUP BY doc_id, isl HAVING count(*) >= 5),
        |m AS (SELECT doc_id, first_pos, last_pos,
        |        max(last_pos + 7) OVER (PARTITION BY doc_id ORDER BY first_pos
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
        |      FROM q),
        |grp AS (SELECT doc_id, first_pos, last_pos,
        |          sum(CASE WHEN prev_end IS NULL OR first_pos > prev_end + 1
        |                   THEN 1 ELSE 0 END)
        |            OVER (PARTITION BY doc_id ORDER BY first_pos) AS grp
        |        FROM m),
        |spans AS (SELECT doc_id, grp,
        |            max(last_pos + 7) - min(first_pos) + 1 AS span_tokens
        |          FROM grp GROUP BY doc_id, grp),
        |pd AS (SELECT doc_id, count(*) AS n_spans,
        |         sum(span_tokens) AS dup_tokens
        |       FROM spans GROUP BY doc_id)
        |SELECT tk.doc_id, CAST(len(tk.tk) AS BIGINT) AS n_tokens,
        |  CAST(coalesce(pd.n_spans, 0) AS BIGINT) AS n_spans,
        |  CAST(coalesce(pd.dup_tokens, 0) AS BIGINT) AS dup_tokens,
        |  round(CAST(coalesce(pd.dup_tokens, 0) AS DOUBLE) / len(tk.tk), 6)
        |    AS dup_ratio
        |FROM tk LEFT JOIN pd ON tk.doc_id = pd.doc_id
        |ORDER BY tk.doc_id""".stripMargin),
    // Full law replay: the naive per-position polynomial (the
    // q_txt_rolling_fp convention) drives the same mask cuts, chunk
    // slicing, and keep-first census on chunk STRINGS.
    QueryDef("q_txt_cdc_chunks", qTxtCdcChunks,
      """WITH hs AS (
        |  SELECT doc_id, text, len(text) AS n,
        |    CASE WHEN len(text) >= 4 THEN
        |      list_transform(range(1, len(text) - 2), i ->
        |        (((CAST(ord(text[i]) AS BIGINT) * 31 + ord(text[i+1])) * 31
        |          + ord(text[i+2])) * 31 + ord(text[i+3])) % 1000000007)
        |    ELSE [] END AS h
        |  FROM documents),
        |cut AS (SELECT doc_id, text, n,
        |          list_filter(range(1, len(h) + 1), j -> h[CAST(j AS INT)] % 64 = 63) AS cp
        |        FROM hs),
        |ck AS (SELECT doc_id, text, n,
        |         list_prepend(1, list_transform(cp, j -> j + 4)) AS st,
        |         list_append(list_transform(cp, j -> j + 4), n + 1) AS en
        |       FROM cut),
        |cs AS (SELECT doc_id,
        |         list_filter(list_transform(range(1, len(st) + 1),
        |           k -> {'k': k, 'c': substr(text, CAST(st[CAST(k AS INT)] AS INT),
        |                                      CAST(en[CAST(k AS INT)] - st[CAST(k AS INT)] AS INT))}),
        |           x -> len(x.c) > 0) AS chunks
        |       FROM ck),
        |e AS (SELECT doc_id, u.k AS k0, u.c AS chunk
        |      FROM (SELECT doc_id, unnest(chunks) AS u FROM cs)),
        |i AS (SELECT doc_id, chunk, len(chunk) AS clen,
        |        row_number() OVER (PARTITION BY doc_id ORDER BY k0) - 1 AS chunk_idx
        |      FROM e),
        |win AS (SELECT doc_id, clen,
        |          (doc_id * 1048576 + chunk_idx) =
        |            min(doc_id * 1048576 + chunk_idx)
        |              OVER (PARTITION BY chunk) AS kept
        |        FROM i)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
        |  CAST(count(*) FILTER (WHERE kept) AS BIGINT) AS n_kept,
        |  CAST(count(*) - count(*) FILTER (WHERE kept) AS BIGINT) AS n_dropped,
        |  round((count(*) FILTER (WHERE kept))::DOUBLE / count(*), 6) AS retention,
        |  CAST(max(clen) AS BIGINT) AS max_chunk
        |FROM win GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    QueryDef("q_txt_mixture", qTxtMixture,
      """WITH g AS (SELECT lang, source, count(*) AS n_docs,
        |             CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |           FROM documents GROUP BY lang, source),
        |qg AS (SELECT *, CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000) AS BIGINT) AS qw FROM g),
        |tot AS (SELECT CAST(sum(qw) AS BIGINT) AS qtot, CAST(sum(n_tokens) AS BIGINT) AS tok_tot FROM qg)
        |SELECT lang, source, n_docs, n_tokens,
        |  round(CAST(qw AS DOUBLE) / qtot, 6) AS w_temp,
        |  round(CAST(n_tokens AS DOUBLE) / tok_tot, 6) AS w_nat,
        |  CAST(floor(CAST(qw AS DOUBLE) / qtot * 100000) AS BIGINT) AS docs_per_100k
        |FROM qg, tot ORDER BY lang, source""".stripMargin),
    QueryDef("q_txt_colloc", qTxtColloc,
      """WITH tk AS (SELECT doc_id, lang, string_split(text, ' ') AS tk FROM documents),
        |bg AS (SELECT lang, tk[CAST(i AS INT)] AS w1, tk[CAST(i AS INT)+1] AS w2
        |       FROM tk, unnest(range(1, len(tk))) AS t(i)),
        |bgc AS (SELECT lang, w1, w2, count(*) AS n_xy FROM bg GROUP BY lang, w1, w2),
        |ug AS (SELECT lang, unnest(tk) AS w FROM tk),
        |ugc AS (SELECT lang, w, count(*) AS c FROM ug GROUP BY lang, w),
        |tot AS (SELECT lang, count(*) AS u FROM ug GROUP BY lang),
        |btot AS (SELECT lang, count(*) AS b FROM bg GROUP BY lang),
        |sc AS (SELECT bgc.lang, bgc.w1, bgc.w2, bgc.n_xy,
        |         round(CAST(bgc.n_xy AS DOUBLE) * tot.u * tot.u / (u1.c * u2.c) / btot.b, 6) AS score
        |       FROM bgc
        |       JOIN ugc u1 ON bgc.lang = u1.lang AND bgc.w1 = u1.w
        |       JOIN ugc u2 ON bgc.lang = u2.lang AND bgc.w2 = u2.w
        |       JOIN tot ON bgc.lang = tot.lang
        |       JOIN btot ON bgc.lang = btot.lang
        |       WHERE bgc.n_xy >= 5),
        |r AS (SELECT *, row_number() OVER (PARTITION BY lang ORDER BY score DESC, w1, w2) AS rk FROM sc)
        |SELECT lang, rk, w1, w2, n_xy, score FROM r WHERE rk <= 10 ORDER BY lang, rk""".stripMargin),
    QueryDef("q_txt_bpe_train", qTxtBpeTrain, bpeTrainOracle,
      eager = true), // per-round argmax collect (merge learning)
    QueryDef("q_txt_bpe_encode", qTxtBpeEncode, bpeEncodeOracle,
      eager = true), // re-learns the merge chain at construction
    QueryDef("q_txt_bpe_merge", qTxtBpeMerge,
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
        |tf AS (SELECT token, count(*) AS freq FROM tok WHERE len(token) > 1 GROUP BY token),
        |pairs AS (SELECT substr(token, CAST(i AS INT), 2) AS pair, freq
        |          FROM tf, unnest(range(1, len(token))) AS t(i))
        |SELECT pair, CAST(sum(freq) AS BIGINT) AS n FROM pairs
        |GROUP BY pair ORDER BY n DESC, pair LIMIT 20""".stripMargin),
    QueryDef("q_txt_tfidf", qTxtTfidf,
      """WITH tm AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS term FROM documents),
        |t2 AS (SELECT * FROM tm WHERE len(term) > 0),
        |total AS (SELECT count(*) AS n_docs FROM documents),
        |dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM t2 GROUP BY term),
        |tf AS (SELECT lang, term, count(*) AS tf FROM t2 GROUP BY lang, term),
        |sc AS (SELECT tf.lang, tf.term, tf.tf, dfreq.df,
        |        round(CAST(tf.tf AS DOUBLE) * total.n_docs / dfreq.df, 6) AS score
        |       FROM tf JOIN dfreq ON tf.term = dfreq.term, total),
        |r AS (SELECT *, row_number() OVER (PARTITION BY lang ORDER BY score DESC, term) AS rk FROM sc)
        |SELECT lang, rk, term, tf, df, score FROM r WHERE rk <= 5 ORDER BY lang, rk""".stripMargin),
    QueryDef("q_txt_pii", qTxtPii,
      s"""SELECT lang, count(*) AS n_docs,
        |  ${piiOracleCols(piiEmail, "email")},
        |  ${piiOracleCols(piiIpv4, "ipv4")},
        |  ${piiOracleCols(piiPhone, "phone")},
        |  ${piiOracleCols(piiSsn, "ssn")}
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin),
    QueryDef("q_txt_repetition", qTxtRepetition,
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |g AS (SELECT doc_id, len(tk) AS n_tokens,
        |   CASE WHEN len(tk) >= 2 THEN
        |     list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])
        |   ELSE [] END AS bg,
        |   CASE WHEN len(tk) >= 3 THEN
        |     list_transform(range(1, len(tk) - 1),
        |       i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
        |   ELSE [] END AS tg
        |   FROM tk),
        |r AS (SELECT doc_id, n_tokens,
        |   CASE WHEN len(bg) > 0
        |     THEN round(1.0 - len(list_distinct(bg))::DOUBLE / len(bg), 6)
        |     ELSE 0.0 END AS rep2,
        |   CASE WHEN len(tg) > 0
        |     THEN round(1.0 - len(list_distinct(tg))::DOUBLE / len(tg), 6)
        |     ELSE 0.0 END AS rep3,
        |   CASE WHEN len(bg) > 0
        |     THEN list_max(list_transform(list_distinct(bg),
        |            d -> len(list_filter(bg, x -> x = d))))
        |     ELSE 0 END AS top2_n
        |   FROM g)
        |SELECT doc_id, n_tokens, rep2, rep3, top2_n,
        |  round(top2_n * 2.0 / n_tokens, 6) AS top2_frac,
        |  (rep2 <= 0.05 AND round(top2_n * 2.0 / n_tokens, 6) <= 0.15) AS gopher_ok
        |FROM r ORDER BY doc_id""".stripMargin),
    QueryDef("q_txt_dup_spans", qTxtDupSpans,
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |sh AS (SELECT doc_id, list_distinct(CASE WHEN len(tk) >= 5 THEN
        |    list_transform(range(1, len(tk) - 3),
        |      i -> tk[i]||' '||tk[i+1]||' '||tk[i+2]||' '||tk[i+3]||' '||tk[i+4])
        |    ELSE [] END) AS sh FROM tk),
        |fps AS (SELECT doc_id, unnest(sh) AS h FROM sh),
        |census AS (SELECT h, count(DISTINCT doc_id) AS n_docs FROM fps GROUP BY h),
        |d AS (SELECT f.doc_id, count(*) AS n_spans,
        |    count(*) FILTER (WHERE c.n_docs >= 2) AS n_shared,
        |    max(c.n_docs) AS max_span_docs
        |  FROM fps f JOIN census c USING (h) GROUP BY f.doc_id)
        |SELECT doc_id, n_spans, n_shared, max_span_docs,
        |  round(n_shared::DOUBLE / n_spans, 6) AS shared_frac,
        |  (round(n_shared::DOUBLE / n_spans, 6) >= 0.5) AS dup_doc
        |FROM d ORDER BY doc_id""".stripMargin),
    QueryDef("q_txt_unigram_lp", qTxtUnigramLp,
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |freq AS (SELECT token, count(*) AS cnt FROM tok GROUP BY token),
        |tot AS (SELECT sum(cnt) AS total FROM freq),
        |topk AS (SELECT token, cnt FROM freq ORDER BY cnt DESC, token LIMIT 512)
        |SELECT doc_id, count(*) AS n_tokens,
        |  round((sum(ln(CAST(coalesce(topk.cnt, 1) AS DOUBLE)))
        |    - count(*) * ln(CAST(max(total) AS DOUBLE))) / count(*), 6) AS mean_logprob
        |FROM tok LEFT JOIN topk USING (token), tot
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    QueryDef("q_txt_redact", qTxtRedact,
      """SELECT doc_id,
        |  len(regexp_extract_all(text, '\b(customer|[a-z]*key)\b')) AS n_redacted,
        |  md5(regexp_replace(text, '\b(customer|[a-z]*key)\b', '<REDACTED>', 'g')) AS fp_redacted
        |FROM documents ORDER BY doc_id""".stripMargin),
    QueryDef("q_txt_pack", qTxtPack,
      """WITH c AS (
        |  SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tokens,
        |    sum(len(string_split(text, ' '))) OVER (PARTITION BY lang ORDER BY doc_id) AS end_tok
        |  FROM documents)
        |SELECT doc_id, lang, n_tokens,
        |  CAST(floor((end_tok - n_tokens) / 1024.0) AS BIGINT) AS first_block,
        |  CAST(floor((end_tok - 1) / 1024.0) AS BIGINT) AS last_block,
        |  CAST(floor((end_tok - 1) / 1024.0) AS BIGINT)
        |    - CAST(floor((end_tok - n_tokens) / 1024.0) AS BIGINT) + 1 AS n_blocks
        |FROM c ORDER BY doc_id""".stripMargin),
    QueryDef("q_txt_sample_stratified", qTxtSampleStratified,
      """WITH h AS (
        |  SELECT doc_id, lang, (doc_id * 2654435761) % 4294967296 AS h,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY (doc_id * 2654435761) % 4294967296, doc_id) AS rk
        |  FROM documents)
        |SELECT doc_id, lang, h, rk FROM h WHERE rk <= 50 ORDER BY doc_id""".stripMargin),
    QueryDef("q_txt_sample_weighted", qTxtSampleWeighted,
      """SELECT doc_id, lang, n_chars,
        |  round(-ln(CAST((doc_id * 2654435761) % 4294967296 + 1 AS DOUBLE)
        |    / 4294967296) / n_chars, 12) AS skey
        |FROM documents ORDER BY skey, doc_id LIMIT 100""".stripMargin),
    // Funnel replay: same stage laws chained as CTEs — quality rules,
    // md5 keep-first, shingle-STRING contamination (the collision
    // convention of q_txt_decontaminate), per-lang 512-token packing.
    QueryDef("q_txt_curation_funnel", qTxtCurationFunnel,
      """WITH d AS (
        |  SELECT doc_id, lang, text, n_chars,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents),
        |f0 AS (
        |  SELECT doc_id, lang, text, n_chars, n_tok,
        |    doc_id % 100 <> 0 AS in_corpus,
        |    (doc_id % 100 <> 0 AND n_chars >= 100 AND n_chars <= 1500
        |       AND n_tok >= 25) AS pass_q
        |  FROM d),
        |kd AS (SELECT min(doc_id) AS doc_id FROM f0 WHERE pass_q
        |       GROUP BY md5(text)),
        |f1 AS (SELECT f0.*, (pass_q AND kd.doc_id IS NOT NULL) AS keep_dd
        |       FROM f0 LEFT JOIN kd USING (doc_id)),
        |sh AS (
        |  SELECT doc_id, unnest(
        |    CASE WHEN len(string_split(text, ' ')) >= 3 THEN
        |      list_distinct(list_transform(range(1, len(string_split(text, ' ')) - 1),
        |        i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2]))
        |    ELSE [] END) AS sh
        |  FROM documents),
        |bsh AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 100 = 0),
        |bad AS (SELECT DISTINCT t.doc_id FROM sh t
        |        JOIN bsh USING (sh)
        |        JOIN f1 ON f1.doc_id = t.doc_id WHERE f1.keep_dd),
        |f2 AS (SELECT f1.*, (keep_dd AND bad.doc_id IS NULL) AS pass_all
        |       FROM f1 LEFT JOIN bad ON f1.doc_id = bad.doc_id),
        |g AS (SELECT count(*) AS n0,
        |  CAST(sum(CASE WHEN in_corpus THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |  CAST(sum(CASE WHEN in_corpus THEN n_tok ELSE 0 END) AS BIGINT) AS t1,
        |  CAST(sum(CASE WHEN pass_q THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        |  CAST(sum(CASE WHEN pass_q THEN n_tok ELSE 0 END) AS BIGINT) AS t2,
        |  CAST(sum(CASE WHEN keep_dd THEN 1 ELSE 0 END) AS BIGINT) AS n3,
        |  CAST(sum(CASE WHEN keep_dd THEN n_tok ELSE 0 END) AS BIGINT) AS t3,
        |  CAST(sum(CASE WHEN pass_all THEN 1 ELSE 0 END) AS BIGINT) AS n4,
        |  CAST(sum(CASE WHEN pass_all THEN n_tok ELSE 0 END) AS BIGINT) AS t4
        |  FROM f2),
        |pk AS (SELECT CAST(coalesce(sum(lt // 512), 0) AS BIGINT) AS seqs,
        |              CAST(coalesce(sum((lt // 512) * 512), 0) AS BIGINT) AS packed
        |       FROM (SELECT lang, sum(n_tok) AS lt FROM f2
        |             WHERE pass_all GROUP BY lang))
        |SELECT * FROM (
        |  SELECT CAST(1 AS BIGINT) AS stage_id, 'ingest_holdout' AS stage,
        |         n0 AS docs_in, n1 AS docs_out, t1 AS tokens_out,
        |         n1 AS n_units FROM g
        |  UNION ALL SELECT 2, 'quality', n1, n2, t2, n2 FROM g
        |  UNION ALL SELECT 3, 'dedup_exact', n2, n3, t3, n3 FROM g
        |  UNION ALL SELECT 4, 'decontaminate', n3, n4, t4, n4 FROM g
        |  UNION ALL SELECT 5, 'pack', n4, n4, packed, seqs FROM g, pk)
        |ORDER BY stage_id""".stripMargin),
    QueryDef("q_txt_decontaminate", qTxtDecontaminate,
      """WITH sh AS (
        |  SELECT doc_id, unnest(
        |    CASE WHEN len(string_split(text, ' ')) >= 3 THEN
        |      list_distinct(list_transform(range(1, len(string_split(text, ' ')) - 1),
        |        i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2]))
        |    ELSE [] END) AS sh
        |  FROM documents),
        |bench AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 100 = 0)
        |SELECT t.doc_id, count(DISTINCT t.sh) AS n_hits
        |FROM sh t JOIN bench b USING (sh)
        |WHERE t.doc_id % 100 <> 0
        |GROUP BY t.doc_id ORDER BY doc_id""".stripMargin),
    // Mojibake replay: identical plant, literal-replace repair chain
    // (the digraphs are metachar-free so regexp_* == literal
    // replace()), md5-prefix checksum over the fixed text.
    QueryDef("q_txt_mojibake", qTxtMojibake,
      """WITH w AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN doc_id % 7 = 0
        |         THEN text || ' Ã©â€™Â· broken' ELSE text END AS wire
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, lang, wire,
        |    len(regexp_extract_all(wire, 'Ã©'))
        |      + len(regexp_extract_all(wire, 'â€™'))
        |      + len(regexp_extract_all(wire, 'Â·')) AS n_art,
        |    replace(replace(replace(wire, 'Ã©', 'é'), 'â€™', '’'),
        |            'Â·', '·') AS fixed
        |  FROM w),
        |g AS (
        |  SELECT doc_id, lang, n_art, fixed,
        |    len(regexp_extract_all(fixed, 'Ã©'))
        |      + len(regexp_extract_all(fixed, 'â€™'))
        |      + len(regexp_extract_all(fixed, 'Â·')) AS n_art_after
        |  FROM f)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(count(*) FILTER (WHERE n_art > 0) AS BIGINT) AS n_flagged,
        |  CAST(sum(n_art) AS BIGINT) AS artifacts_before,
        |  CAST(sum(n_art_after) AS BIGINT) AS artifacts_after,
        |  CAST(sum(('0x' || substr(md5(fixed), 1, 8))::BIGINT
        |           % 1000000007) % 1000000007 AS BIGINT) AS chk_fixed
        |FROM g GROUP BY 1 ORDER BY 1""".stripMargin),
    // DSIR replay: same capped vocab cut, same add-1 ratio with the
    // per-token quantization to nano-nat longs BEFORE any sum, so
    // every census number is an exact integer in both engines.
    QueryDef("q_txt_dsir", qTxtDsir,
      """WITH tk AS (SELECT doc_id, lang, source,
        |              unnest(string_split(text, ' ')) AS token
        |            FROM documents),
        |rc AS (SELECT token, count(*) AS rc FROM tk GROUP BY 1),
        |vocab AS (SELECT token, rc FROM rc
        |          ORDER BY rc DESC, token LIMIT 512),
        |tc AS (SELECT token, count(*) AS tc FROM tk
        |       WHERE lang = 'en' GROUP BY 1),
        |vt AS (SELECT v.token, v.rc, coalesce(tc.tc, 0) AS tc
        |       FROM vocab v LEFT JOIN tc USING (token)),
        |tot AS (SELECT count(*) AS tot_r,
        |               count(*) FILTER (WHERE lang = 'en') AS tot_t
        |        FROM tk),
        |sc AS (SELECT t.doc_id, t.lang, t.source,
        |         CAST(round(1e9 * (
        |           ln(CAST(coalesce(vt.tc, 0) + 1 AS DOUBLE))
        |           - ln(CAST(tot_t + 513 AS DOUBLE))
        |           - ln(CAST(coalesce(vt.rc, 0) + 1 AS DOUBLE))
        |           + ln(CAST(tot_r + 513 AS DOUBLE)))) AS BIGINT) AS lr
        |       FROM tk t LEFT JOIN vt USING (token), tot),
        |pd AS (SELECT doc_id, lang, source, CAST(sum(lr) AS BIGINT) AS w
        |       FROM sc GROUP BY 1, 2, 3)
        |SELECT lang, source, count(*) AS n_docs,
        |  CAST(count(*) FILTER (WHERE w > 0) AS BIGINT) AS n_selected,
        |  CAST(sum(w) AS BIGINT) AS sum_w_nnat
        |FROM pd GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // CCNet tercile replay: per-lang vocab cut by row_number, the
    // same nano-nat surprisal quantization, integer-division means
    // (operands positive, so div == //), ntile over the exact key.
    QueryDef("q_txt_ppl_bucket", qTxtPplBucket,
      """WITH tk AS (SELECT doc_id, lang, n_chars,
        |              unnest(string_split(text, ' ')) AS token
        |            FROM documents),
        |fr AS (SELECT lang, token, count(*) AS cnt FROM tk GROUP BY 1, 2),
        |vocab AS (SELECT lang, token, cnt FROM (
        |    SELECT lang, token, cnt, row_number() OVER (
        |      PARTITION BY lang ORDER BY cnt DESC, token) AS rk FROM fr)
        |  WHERE rk <= 256),
        |tt AS (SELECT lang, CAST(sum(cnt) AS BIGINT) AS tot
        |       FROM fr GROUP BY 1),
        |sc AS (SELECT t.doc_id, t.lang, t.n_chars,
        |         CAST(round(1e9 * (
        |           ln(CAST(tot + 257 AS DOUBLE))
        |           - ln(CAST(coalesce(v.cnt, 0) + 1 AS DOUBLE))))
        |           AS BIGINT) AS sup
        |       FROM tk t
        |       LEFT JOIN vocab v ON t.lang = v.lang AND t.token = v.token
        |       JOIN tt ON tt.lang = t.lang),
        |pd AS (SELECT doc_id, lang, n_chars, CAST(sum(sup) AS BIGINT) AS ss,
        |              count(*) AS n_tok
        |       FROM sc GROUP BY 1, 2, 3),
        |nt AS (SELECT lang, n_chars, ss // n_tok AS mean_nnat,
        |         ntile(3) OVER (PARTITION BY lang
        |           ORDER BY ss // n_tok, doc_id) AS tercile
        |       FROM pd)
        |SELECT lang, tercile, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(mean_nnat) AS BIGINT) AS sum_mean_nnat
        |FROM nt GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    QueryDef("q_txt_tokens", qTxtTokens,
      """SELECT doc_id,
        |  len(string_split(text, ' ')) AS n_tokens,
        |  len(list_distinct(string_split(text, ' '))) AS n_distinct,
        |  CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) / len(string_split(text, ' ')) AS ttr,
        |  CAST(n_chars - (len(string_split(text, ' ')) - 1) AS DOUBLE) / len(string_split(text, ' ')) AS avg_tok_len
        |FROM documents ORDER BY doc_id""".stripMargin),
    QueryDef("q_txt_bpe_tokens", qTxtBpeTokens,
      """SELECT doc_id,
        |  len(string_split(text, ' ')) AS n_ws_tokens,
        |  len(regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+')) AS n_bpe_tokens,
        |  round(CAST(len(regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+')) AS DOUBLE)
        |    / len(string_split(text, ' ')), 6) AS bpe_per_ws
        |FROM documents ORDER BY doc_id""".stripMargin),
    QueryDef("q_txt_quality", qTxtQuality,
      """SELECT doc_id,
        |  len(string_split(text, ' ')) AS n_tokens,
        |  len(list_filter(string_split(text, ' '), x -> x IN ('the','a','and','of','is','to','in'))) AS n_stop,
        |  CAST(len(list_filter(string_split(text, ' '), x -> x IN ('the','a','and','of','is','to','in'))) AS DOUBLE)
        |    / len(string_split(text, ' ')) AS stop_ratio,
        |  CAST(len(list_filter(string_split(text, ' '), x -> len(x) <= 2)) AS DOUBLE)
        |    / len(string_split(text, ' ')) AS short_ratio,
        |  CASE WHEN n_chars < 200 THEN 'short' WHEN n_chars < 400 THEN 'medium' ELSE 'long' END AS len_bucket
        |FROM documents ORDER BY doc_id""".stripMargin),
    QueryDef("q_txt_langid", qTxtLangid,
      """WITH scored AS (
        |  SELECT doc_id, lang,
        |    len(list_filter(string_split(text, ' '), x -> x IN ('the','a','and','is'))) AS en_hits,
        |    len(list_filter(string_split(text, ' '), x -> x IN ('le','et','une','est'))) AS fr_hits,
        |    len(list_filter(string_split(text, ' '), x -> x IN ('der','und','die','ist'))) AS de_hits,
        |    len(list_filter(string_split(text, ' '), x -> x IN ('el','los','una','es'))) AS es_hits
        |  FROM documents)
        |SELECT doc_id, lang,
        |  CASE WHEN en_hits >= fr_hits AND en_hits >= de_hits AND en_hits >= es_hits AND en_hits > 0 THEN 'en'
        |       WHEN fr_hits >= de_hits AND fr_hits >= es_hits AND fr_hits > 0 THEN 'fr'
        |       WHEN de_hits >= es_hits AND de_hits > 0 THEN 'de'
        |       WHEN es_hits > 0 THEN 'es'
        |       ELSE 'und' END AS guess,
        |  lang = (CASE WHEN en_hits >= fr_hits AND en_hits >= de_hits AND en_hits >= es_hits AND en_hits > 0 THEN 'en'
        |       WHEN fr_hits >= de_hits AND fr_hits >= es_hits AND fr_hits > 0 THEN 'fr'
        |       WHEN de_hits >= es_hits AND de_hits > 0 THEN 'de'
        |       WHEN es_hits > 0 THEN 'es'
        |       ELSE 'und' END) AS agree
        |FROM scored ORDER BY doc_id""".stripMargin),
    QueryDef("q_txt_wordfreq", qTxtWordfreq,
      """SELECT token, count(*) AS n FROM (
        |  SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |GROUP BY token ORDER BY n DESC, token LIMIT 20""".stripMargin),
    // exact top-20 replayed; sketch_ok pinned TRUE — the engine computes
    // it from the live CMS, so an estimate outside [n, n + eps*total+1]
    // diverges from the pin and fails the hash
    QueryDef("q_txt_heavy_hitters", qTxtHeavyHitters,
      """SELECT token, n, TRUE AS sketch_ok FROM (
        |  SELECT token, count(*) AS n FROM (
        |    SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |  GROUP BY token ORDER BY n DESC, token LIMIT 20)
        |ORDER BY n DESC, token""".stripMargin,
      eager = true), // driver-held Count-Min sketch at construction
    QueryDef("q_txt_fingerprint", qTxtFingerprint,
      """SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin),
    QueryDef("q_txt_rolling_fp", qTxtRolling,
      """WITH h AS (
        |  SELECT doc_id, list_transform(range(1, len(text) - 2), i ->
        |    (((CAST(ord(text[i]) AS BIGINT) * 31 + ord(text[i+1])) * 31
        |      + ord(text[i+2])) * 31 + ord(text[i+3])) % 1000000007) AS hs
        |  FROM documents)
        |SELECT doc_id, len(hs) AS n_grams, list_min(hs) AS min_fp,
        |  CASE WHEN len(hs) >= 8 THEN
        |    len(list_distinct(list_transform(range(1, len(hs) - 6),
        |      j -> list_min(hs[j:j+7]))))
        |  WHEN len(hs) > 0 THEN 1 ELSE 0 END AS n_winnow
        |FROM h ORDER BY doc_id""".stripMargin),
    QueryDef("q_txt_shingles", qTxtShingles,
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
        |SELECT doc_id,
        |  CASE WHEN len(toks) >= 3 THEN len(list_distinct(list_transform(
        |    range(1, len(toks) - 1),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])))
        |  ELSE 0 END AS n_shingles,
        |  len(toks) AS n_tokens
        |FROM tk ORDER BY doc_id""".stripMargin),
  )
}
