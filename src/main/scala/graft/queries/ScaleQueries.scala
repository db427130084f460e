package graft.queries

import graft.functions.{Dedup, Ivf, Multimodal, Similarity}
import graft.streaming.StreamOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import Q._

/** Scale-path operators: MinHash/SimHash LSH dedup, LSH-bucketed ANN,
  * multimodal feature extraction, and the Structured Streaming window
  * aggregation. The streaming query has a real DuckDB oracle (it must
  * equal the batch hourly rollup); LSH pipelines are rows-only with
  * self-check columns (recall vs the exact baseline).
  */
object ScaleQueries {

  /** MinHash-LSH candidate pairs + signature-estimated jaccard.
    * Self-check: estimates correlate with the exact jaccard verified
    * in q_dedup_jaccard_pairs.
    */
  private def qDedupMinhash(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val sigs = Dedup.withMinhash(docs, "text", numHashes = 128, shingleWidth = 3)
    Dedup.lshCandidatePairs(sigs, "doc_id", bands = 32, minEstimate = 0.05)
      .orderBy("id_a", "id_b")
  }

  /** LSH recall gate: the MinHash-LSH candidate generator measured
    * against the ORACLE-verified exact-Jaccard pair set (>= 0.5), as a
    * driver-visible number instead of spec-only assurance. One row:
    * exact pair count, LSH candidate count, hits, recall, and the
    * self-check `recall_ok` (>= 0.9; at the planted near-dup
    * similarities 32 bands x 4 rows puts collision probability near 1,
    * so missing pairs would flag a broken signature/banding pipeline).
    * Both sides are the REGISTERED pipelines — any change to either
    * shows up here as a recall drop in CORRECTNESS output.
    */
  /** The recall denominator is the brute-force exact pair set, whose
    * cost grows superlinearly with corpus size — fine as a gate at
    * sf0.1, a scale-killer at 100 TB. Above [[recallExactDocCap]]
    * docs, BOTH sides restrict to the deterministic doc sample
    * `doc_id % m == 0` (m = ceil(n / cap)): recall measured over the
    * sampled subcorpus is an unbiased estimate of subcorpus recall
    * (numerator and denominator over the SAME pair population), and
    * the sample parameters are reported in the row so the bound is
    * driver-visible. At the driver's scale factors (≤ 5000 docs at
    * sf0.1) m = 1 and the gate is exact — semantics unchanged.
    */
  val recallExactDocCap = 5000L

  private def qDedupLshRecall(s: SparkSession, dir: String): DataFrame = {
    val nDocs = t(s, dir, "documents").count()
    val mod = math.max(1L, (nDocs + recallExactDocCap - 1) / recallExactDocCap)
    val docs = t(s, dir, "documents").filter(col("doc_id") % mod === 0)
    // both pipelines persist: the three counts below would otherwise
    // recompute each lineage twice (hits reads both)
    val exact = DedupQueries.jaccardPairsOver(docs)
      .select(col("doc_a"), col("doc_b"))
      .persist()
    val sigs = Dedup.withMinhash(docs, "text",
      numHashes = 128, shingleWidth = 3)
    val cand = Dedup.lshCandidatePairs(sigs, "doc_id", bands = 32,
      minEstimate = 0.05)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
      .persist()
    val nExact = exact.count()
    val nHits = exact.join(cand, Seq("doc_a", "doc_b"), "left_semi").count()
    val nCand = cand.count()
    exact.unpersist()
    cand.unpersist()
    import s.implicits._
    val recall = if (nExact == 0) 1.0 else nHits.toDouble / nExact
    Seq((nExact, nCand, nHits, recall, recall >= 0.9, mod, nDocs))
      .toDF("n_exact", "n_candidates", "n_hits", "recall", "recall_ok",
        "sample_mod", "n_docs_total")
  }

  /** SimHash signatures + near-dup pairs within hamming 8. */
  private def qDedupSimhash(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val sh = Dedup.withSimhash(docs, "text")
    Dedup.simhashPairs(sh, "doc_id", maxHamming = 8)
      .orderBy("id_a", "id_b")
  }

  /** LSH ANN vs exact top-k: one row per rank with a self-check
    * column marking whether the ANN hit appears in the exact top-k
    * (recall diagnostics built into the result).
    */
  private def qSimAnnLsh(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val exact = Similarity.bruteForceTopK(e, "vec_id", "embedding", 0L, 10)
      .select(col("vec_id").as("exact_id"))
    val ann = Similarity.annTopK(e, "vec_id", "embedding", 0L, 10,
      dim = 64, nBits = 10, maxFlips = 2)
    ann.select(col("vec_id"), col("label"), round(col("cos_sim"), 6).as("cos_sim"))
      .join(exact.withColumn("in_exact_topk", lit(true)),
        col("vec_id") === col("exact_id"), "left")
      .select(col("vec_id"), col("label"), col("cos_sim"),
        coalesce(col("in_exact_topk"), lit(false)).as("in_exact_topk"))
      .orderBy(desc("cos_sim"), col("vec_id"))
  }

  /** IVF ANN (the second scale path next to LSH): train a spherical
    * k-means codebook of k = codebookSize(n) ~ sqrt(n) cells (22 at
    * sf0.01, 45 at sf0.1, capped at 4096 — the broadcast-bound scale
    * rule), training bounded to a ~256k-vector sample, probe half the
    * cells, self-check recall against the exact top-k. nprobe = k
    * would equal the exact result (IvfSpec proves it); k/2 of k
    * demonstrates the pruned read.
    */
  private def qSimAnnIvf(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val k = Ivf.codebookSize(e.count())
    val nprobe = math.max(1, k / 2)
    val centroids = Ivf.trainCentroids(e, "vec_id", "embedding", k = k,
      iters = 3, sampleCap = 256L * k)
    val qv = e.filter(col("vec_id") === 0L)
      .select("embedding").head().getSeq[Float](0).toSeq
    val exact = Similarity.bruteForceTopK(e, "vec_id", "embedding", 0L, 10)
      .select(col("vec_id").as("exact_id"))
    Ivf.annTopKIvf(e, "vec_id", "embedding", qv, 10, centroids, nprobe = nprobe,
        excludeId = Some(0L))
      .select(col("vec_id"), col("label"), round(col("cos_sim"), 6).as("cos_sim"))
      .join(exact.withColumn("in_exact_topk", lit(true)),
        col("vec_id") === col("exact_id"), "left")
      .select(col("vec_id"), col("label"), col("cos_sim"),
        coalesce(col("in_exact_topk"), lit(false)).as("in_exact_topk"))
      .orderBy(desc("cos_sim"), col("vec_id"))
  }

  /** IVF recall gate — the driver-visible twin of q_dedup_lsh_recall
    * for the second ANN path: the PRUNED batched IVF probe (nprobe =
    * k/2 of k = codebookSize(n) ~ sqrt(n) cells, half the corpus
    * unread by construction) measured against the exact brute-force
    * top-10 for the same LIMIT-capped probe batch. One row: probe/hit
    * counts, recall, and `recall_ok` (spherical k-means puts a
    * probe's true neighbors in its own or adjacent cells, so
    * sub-threshold recall flags a broken codebook/assignment/probe
    * pipeline, while nprobe < k keeps the gate honest about reading
    * only half the cells; IvfSpec separately proves nprobe = k equals
    * brute force exactly). Both sides run the REGISTERED
    * constructions: the exact side is the batched k-NN cross-join
    * shape, the IVF side the batched cell-equi-join probe.
    *
    * Threshold calibration at the sqrt(n) codebook: measured recall is
    * 0.72 at sf0.001/sf0.01 (n=500, k=22, nprobe=11) and 0.85 at
    * sf0.1 (n=2000, k=45, nprobe=22) — the near-uniform testdata
    * vectors are the hard case (true neighbors barely concentrate
    * into cells; a clustered real corpus probes better), while a
    * BROKEN pipeline lands at ~nprobe/k = 0.5 (random cell overlap)
    * or 0. 0.6 is the separating line with margin on both sides.
    */
  private def qSimIvfRecall(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val k = 10
    val e = t(s, dir, "embeddings")
    val probes = e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("probe_id"), col("embedding").as("qvec"))
      .orderBy("probe_id").limit(8)
    val w = Window.partitionBy("probe_id").orderBy(desc("cos_sim"), col("vec_id"))
    val exact = e.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("cos_sim",
        graft.functions.CosineSimilarity.cosineSim(col("embedding"), col("qvec")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select("probe_id", "vec_id")
      .persist()
    val kCells = Ivf.codebookSize(e.count())
    val nprobe = math.max(1, kCells / 2)
    val centroids = Ivf.trainCentroids(e, "vec_id", "embedding", k = kCells,
      iters = 3, sampleCap = 256L * kCells)
    val ivf = Ivf.annTopKIvfBatch(e, "vec_id", "embedding",
        probes, "probe_id", "qvec", k, centroids, nprobe = nprobe)
      .select("probe_id", "vec_id")
      .persist()
    val nExact = exact.count()
    val nHits = exact.join(ivf, Seq("probe_id", "vec_id"), "left_semi").count()
    val nIvf = ivf.count()
    exact.unpersist()
    ivf.unpersist()
    import s.implicits._
    val recall = if (nExact == 0) 1.0 else nHits.toDouble / nExact
    Seq((nExact, nIvf, nHits, recall, recall >= 0.6))
      .toDF("n_exact", "n_ivf", "n_hits", "recall", "recall_ok")
  }

  /** Multimodal plumbing over NON-image blobs: documents' text bytes
    * exercise the byte-level fallback featurizer (ImageIO has no reader
    * for them) -> partition-batched extraction (histogram/entropy/
    * thumb). The real-codec path is q_mm_decode.
    *
    * Every output column is DuckDB-replayable: n_bytes is the UTF-8
    * byte length of the text (octet_length of the encoded blob), and
    * the live float features enter as verdicts — the 16-bin byte
    * histogram must account for every byte (hist_sum_ok) and its
    * entropy must sit in [0, log2(16)] (entropy_ok). A featurizer that
    * drops bytes, mis-bins, or mis-normalizes flips a verdict and
    * fails the hash.
    */
  private def qMmFeatures(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = Multimodal.asMedia(
      t(s, dir, "documents").withColumn("blob", col("text").cast("binary")),
      "doc_id", "blob", "text/fake")
      .as[Multimodal.MediaRow]
    Multimodal.extractFeatures(media)
      .select(col("id"), col("modality"), col("nBytes").as("n_bytes"),
        (col("byteEntropy") >= 0.0 && col("byteEntropy") <= 4.0).as("entropy_ok"),
        (aggregate(col("histogram"), lit(0L), _ + _) === col("nBytes"))
          .as("hist_sum_ok"))
      .orderBy("id")
  }

  /** REAL image decode end-to-end: each document's text renders to a
    * deterministic 8x8 gray tile, encodes as PNG (lossless), and the
    * feature extractor decodes it back through JDK ImageIO. The in-row
    * self-check compares the decoded-pixel histogram against the
    * histogram of the source tile bytes — true iff the codec recovered
    * every pixel exactly. Narrow map -> mapPartitions -> equi-join on
    * id (broadcastable; scale-safe either way).
    */
  private def qMmDecode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val src = t(s, dir, "documents").select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        (id, Multimodal.encodeGrayPng(Multimodal.grayTileOf(text, 8), 8, 8))
      }.toDF("doc_id", "png")
    // The comparison side re-derives only the tile histogram from text —
    // NOT a second PNG encode: src is deliberately not reused here, or an
    // uncached join back to it would run the codec lambda twice per row.
    val expected = t(s, dir, "documents").select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        (id, Multimodal.grayHistogram(Multimodal.grayTileOf(text, 8)).toSeq)
      }.toDF("id", "expected_hist")
    val media = Multimodal.asMedia(src, "doc_id", "png", "image/png")
      .as[Multimodal.MediaRow]
    Multimodal.extractFeatures(media).toDF()
      .join(expected, Seq("id"))
      .select(col("id").as("doc_id"),
        col("pixelWidth").as("px_w"), col("pixelHeight").as("px_h"),
        (col("byteEntropy") >= 0.0 && col("byteEntropy") <= 4.0).as("entropy_ok"),
        (col("histogram") === col("expected_hist")).as("decode_ok"))
      .orderBy("doc_id")
  }

  /** Container-header audit at the raw BYTE level — the multimodal
    * family's format-forensics entry: every document's real
    * ImageIO-encoded PNG is inspected WITHOUT a decoder, using only
    * binary Column functions (`substring` on the binary + `hex` →
    * `conv` big-endian reads): the 8-byte signature, the IHDR chunk
    * length/type at fixed offsets, and width/height/bit-depth/
    * color-type from the IHDR payload. This is the cheap first-pass a
    * 100 TB media pipeline runs to ROUTE and QUARANTINE files before
    * paying for decode (a truncated or mislabeled object fails here,
    * never reaching the codec pool) — map-only, no shuffle except the
    * tiny census. Oracle: the census per lang pins the header facts
    * the REAL encoder wrote (8×8, 8-bit, grayscale color type 0,
    * 13-byte IHDR, signature intact); a codec or byte-order defect
    * flips a pinned verdict and fails the hash.
    */
  private def qMmContainer(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val src = t(s, dir, "documents").select(col("doc_id"), col("lang"), col("text"))
      .as[(Long, String, String)]
      .map { case (id, lang, text) =>
        (id, lang, Multimodal.encodeGrayPng(Multimodal.grayTileOf(text, 8), 8, 8))
      }.toDF("doc_id", "lang", "png")
    def be32(pos: Int) =
      conv(hex(substring(col("png"), pos, 4)), 16, 10).cast("long")
    val audited = src.select(col("doc_id"), col("lang"),
      length(col("png")).as("n_bytes"),
      (hex(substring(col("png"), 1, 8)) === "89504E470D0A1A0A").as("sig_ok"),
      (be32(9) === 13).as("ihdr_len_ok"),
      (hex(substring(col("png"), 13, 4)) === "49484452").as("ihdr_type_ok"),
      // real integrity check: Spark's built-in crc32 over the IHDR
      // chunk bytes (type + 13-byte payload) must equal the stored
      // big-endian CRC at offset 30 — a single corrupted header byte
      // fails here without any decode
      (crc32(substring(col("png"), 13, 17)) === be32(30)).as("crc_ok"),
      be32(17).as("w"), be32(21).as("h"),
      conv(hex(substring(col("png"), 25, 1)), 16, 10).cast("long").as("depth"),
      conv(hex(substring(col("png"), 26, 1)), 16, 10).cast("long").as("ctype"))
    audited.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        // container floor: signature (8) + IHDR chunk (25) + IEND (12);
        // actual sizes are zlib-dependent engine reality, so only the
        // bound is pinned
        (min("n_bytes") >= 45).as("size_ok"),
        (count(when(col("sig_ok") && col("ihdr_len_ok") && col("ihdr_type_ok")
            && col("crc_ok"), 1))
          === count(lit(1))).as("container_ok"),
        (count(when(col("w") === 8 && col("h") === 8, 1)) === count(lit(1)))
          .as("dims_ok"),
        (count(when(col("depth") === 8 && col("ctype") === 0, 1)) === count(lit(1)))
          .as("format_ok"))
      .orderBy("lang")
  }

  /** Perceptual-hash image dedup — the multimodal twin of the MinHash
    * family: every document's deterministic gray tile is PNG-encoded,
    * decoded back through the REAL ImageIO codec, and dHash'd
    * (row-wise gradient sign bits, Krawetz's public difference-hash
    * recipe) from the DECODED luminance; clusters and near-dup pairs
    * then assemble exactly like text LSH. 63 usable bits — the MSB
    * stays clear so the hash is a non-negative BIGINT in every engine
    * (a 64th bit would overflow a signed left-shift in the oracle).
    *
    * Scale shape: the codec runs once per image in a narrow map (no
    * shuffle); pairing is over DISTINCT hashes only (cluster census
    * first — identical images collapse before any join), blocked by
    * 4×16-bit hash bands — the same banded-LSH discipline as
    * `Dedup.lshCandidatePairs`, cost Σ bucket² over band buckets, no
    * all-pairs stage at any scale. Output: exact-dup clusters
    * (hamming 0, n≥2) plus cross-cluster near-dup pairs (hamming ≤
    * 10) with cluster sizes.
    *
    * Recall contract (same semantics as MinHash-LSH banding): a pair
    * differing in ≤ 3 bits ALWAYS shares a clean band (pigeonhole
    * over 4 bands) and is guaranteed found; beyond that the band
    * match is the standard probabilistic candidate filter. The oracle
    * replays the identical banding, so the gate checks the declared
    * candidate set, not a vacuous all-pairs ideal.
    */
  private def qMmPhash(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val side = 8
    val hashes = t(s, dir, "documents").select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        val png = Multimodal.encodeGrayPng(
          Multimodal.grayTileOf(text, side), side, side)
        val (_, _, lum) = Multimodal.decodeImage(png).get // gray PNG: exact
        var hash = 0L
        var j = 0
        while (j < 63) { // bit j compares p[r][c] to its right wrap-neighbor
          val r = j / side; val c = j % side
          if (lum(r * side + (c + 1) % side) > lum(r * side + c)) hash |= 1L << j
          j += 1
        }
        (id, hash)
      }.toDF("doc_id", "phash")
    val clusters = hashes.groupBy("phash")
      .agg(count(lit(1)).as("n"), min("doc_id").as("keeper"))
    val bands = clusters.select(col("phash"), col("n"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"),
          shiftright(col("phash"), 16 * b).bitwiseAND(lit(65535L)).as("bval"))): _*))
        .as("bb"))
      .select(col("phash"), col("n"), col("bb.band").as("band"), col("bb.bval").as("bval"))
    val cand = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bval") === col("b.bval") &&
          col("a.phash") < col("b.phash"))
      .select(col("a.phash").as("h1"), col("b.phash").as("h2"),
        col("a.n").as("n1"), col("b.n").as("n2"))
      .distinct()
    val near = cand
      .withColumn("hamming", bit_count(col("h1").bitwiseXOR(col("h2"))))
      .filter(col("hamming") <= 10)
      .select(lit("near_pair").as("kind"), col("h1"), col("h2"),
        col("n1"), col("n2"), col("hamming"))
    val exact = clusters.filter(col("n") >= 2)
      .select(lit("exact_cluster").as("kind"), col("phash").as("h1"),
        col("phash").as("h2"), col("n").as("n1"), col("n").as("n2"),
        lit(0).as("hamming"))
    exact.union(near).orderBy("kind", "h1", "h2")
  }

  /** The full multimodal WebDataset pipeline as ONE gated composition:
    * per-doc deterministic gray-tile PNGs (the [[qMmPhash]] law) and
    * caption text are packed as training samples into REAL tar shards
    * via the registered sink, read back through the independent
    * sample scan, the image entry decoded through the REAL ImageIO
    * codec and dHash'd, the text entry token-counted — per-shard
    * census. The oracle rebuilds every number from text arithmetic
    * (the q_mm_phash convention), so a corruption ANYWHERE in the
    * chain — shard encode, ustar parse, sample grouping, PNG bytes,
    * codec decode, hash bits, caption bytes — fails the hash gate.
    * This is the operator a multimodal curation pipeline actually
    * runs: shards in, per-modality features out, no intermediate
    * tables.
    *
    * Scale shape: two narrow map passes (encode into the sink's one
    * routing shuffle; decode straight off the shard scan, no shuffle)
    * + one bounded groupBy(shard). The codec never crosses an
    * exchange.
    */
  private def qMmTarPipeline(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val side = 8
    val out = graft.core.Scratch.dir(s, "mm-tar")
    val samples = t(s, dir, "documents").select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        val png = Multimodal.encodeGrayPng(
          Multimodal.grayTileOf(text, side), side, side)
        (f"shard-${id % 16}%03d.tar", f"doc_$id%08d", Seq("png", "txt"),
          Map("png" -> png, "txt" -> text.getBytes("UTF-8")))
      }.toDF("shard", "key", "exts", "entries")
    graft.sources.TarShards.writeShards(samples, out)
    val P = 1000000007L
    graft.sources.TarShards.readSamples(s, out)
      .as[(String, Int, String, Seq[String], Map[String, Array[Byte]])]
      .map { case (shard, _, _, _, entries) =>
        val (_, _, lum) = Multimodal.decodeImage(entries("png")).get
        var hash = 0L
        var j = 0
        while (j < 63) {
          val r = j / side; val c = j % side
          if (lum(r * side + (c + 1) % side) > lum(r * side + c)) hash |= 1L << j
          j += 1
        }
        // -1 limit = Spark SQL split semantics (trailing empties kept)
        val nTok = new String(entries("txt"), "UTF-8").split(" ", -1).length
        (shard, hash, nTok.toLong)
      }.toDF("shard", "phash", "n_tokens")
      .groupBy("shard")
      .agg(count(lit(1)).as("n_samples"),
        countDistinct(col("phash")).as("n_distinct_phash"),
        (sum(col("phash") % P) % P).as("phash_chk"),
        sum(col("n_tokens")).as("n_tokens"))
      .orderBy("shard")
  }

  /** REAL audio decode end-to-end: each document synthesizes a
    * deterministic k-cycle sine (k = 4 + doc_id % 8, amplitude 0.5,
    * phase 0.1 so no sample lands exactly on zero), encodes it as
    * 16-bit PCM WAV, and the extractor decodes it back through the
    * JDK's sampled-sound stack. In-row self-checks are EXACT up to
    * quantization: an integer-cycle sine over N samples has
    * RMS = A/sqrt(2) by discrete orthogonality (rms_ok within 1e-3 of
    * the 16-bit step), exactly 2k sign changes (zcr_ok equality), and
    * its Goertzel-detected dominant DFT bin is exactly k (dom_ok —
    * frequency-domain check on the decoded samples).
    *
    * Every output column is DuckDB-replayable: the integer columns are
    * arithmetic in doc_id (n_zero_cross = 2k, dominant_bin = k), the
    * constants are the synthesis parameters, and the quantized-float
    * RMS enters as its verdict. The raw rms float is deliberately NOT
    * emitted — 16-bit quantization noise makes it engine-specific.
    */
  private def qMmAudio(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val n = 2048
    val rate = 8000f
    // k has only 8 values, so the 8 distinct WAV fixtures are synthesized
    // ONCE on the driver and shipped in the closure (~33 KB) — the per-row
    // work is then purely the decode under test, not fixture synthesis.
    val wavs: Array[Array[Byte]] = Array.tabulate(8) { j =>
      val k = 4 + j
      val samples = Array.tabulate(n)(i =>
        (0.5 * math.sin(2 * math.Pi * k * i / n + 0.1)).toFloat)
      Multimodal.encodePcm16Wav(samples, rate)
    }
    val src = t(s, dir, "documents").select(col("doc_id")).as[Long]
      .map(id => (id, wavs((id % 8).toInt)))
      .toDF("doc_id", "wav")
    val media = Multimodal.asMedia(src, "doc_id", "wav", "audio/wav")
      .as[Multimodal.MediaRow]
    // k_cycles is pure arithmetic in the id — re-derive it instead of
    // joining back to `src`, which (uncached) would re-run the whole
    // synth+WAV-encode lambda a second time just to carry one column.
    Multimodal.extractAudioFeatures(media).toDF()
      .withColumn("k_cycles", (col("id") % 8 + 4).cast("int"))
      .select(col("id").as("doc_id"), col("sampleRate").as("sample_rate"),
        col("nSamples").as("n_samples"),
        col("zeroCrossings").as("n_zero_cross"),
        col("dominantBin").as("dominant_bin"),
        (abs(col("rms") - lit(0.5 / math.sqrt(2))) < 1e-3).as("rms_ok"),
        (col("zeroCrossings") === col("k_cycles") * 2).as("zcr_ok"),
        (col("dominantBin") === col("k_cycles")).as("dom_ok"))
      .orderBy("doc_id")
  }

  /** REAL video decode end-to-end: each document synthesizes a
    * deterministic 8-frame 16x16 YUV4MPEG2 stream (frame f a constant
    * luma plane of value (doc_id*31 + f*7) % 256), and sampleFrames
    * walks the real container — frame markers parsed, every 2nd luma
    * plane decoded, skipped frames seeked over without copying. In-row
    * self-checks are EXACT: sampled frame indices are 0,2,4,6; decoded
    * dims are 16x16; each frame's mean luma equals the synthesized
    * constant (a constant plane's mean is its value); and a constant
    * plane's pixel entropy is exactly 0. Narrow fan-out, no shuffle
    * until the final rollup.
    */
  private def qMmFrames(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = 16
    val src = t(s, dir, "documents").select(col("doc_id")).as[Long]
      .map { id =>
        val frames = (0 until 8).map { f =>
          Array.fill[Byte](w * w)(((id * 31 + f * 7) % 256).toByte)
        }
        (id, Multimodal.Y4m.encodeGray(frames, w, w))
      }.toDF("doc_id", "y4m")
    val media = Multimodal.asMedia(src, "doc_id", "y4m", "video/y4m")
      .as[Multimodal.MediaRow]
    Multimodal.sampleFrames(media, every = 2)
      .withColumn("expected_luma",
        pmod(col("id") * 31 + col("frameIdx") * 7, lit(256)).cast("double"))
      .withColumn("frame_ok",
        col("pixelWidth") === w && col("pixelHeight") === w &&
          col("meanLuma") === col("expected_luma") &&
          col("byteEntropy") === 0.0)
      .groupBy(col("id").as("doc_id"))
      .agg(count(lit(1)).as("n_sampled"),
        sum("nBytes").as("sampled_bytes"),
        round(avg("meanLuma"), 6).as("mean_luma"),
        (count(lit(1)) === 4 && min(col("frame_ok").cast("int")) === 1 &&
          sort_array(collect_set("frameIdx")) ===
            array(lit(0), lit(2), lit(4), lit(6))).as("decode_ok"))
      .orderBy("doc_id")
  }

  /** Structured Streaming hourly rollup — must equal the batch
    * aggregation, so it shares q_evt_hourly's oracle.
    */
  private def qStreamHourly(s: SparkSession, dir: String): DataFrame =
    StreamOps.hourlyCounts(s, dir).result

  /** Streaming exact dedup (watermarked dropDuplicates) — the census
    * of the deduped stream must equal batch count-distinct.
    */
  private def qStreamDedup(s: SparkSession, dir: String): DataFrame =
    StreamOps.dedupCounts(s, dir).result

  /** Streaming batch-vs-store dedup (stream-static anti join +
    * keep-first aggregation) — must equal q_dedup_incremental exactly,
    * so it shares its oracle.
    */
  private def qStreamIncremental(s: SparkSession, dir: String): DataFrame =
    StreamOps.incrementalDedup(s, dir).result

  /** Streaming EWMA via mapGroupsWithState — O(1) state per user; the
    * dyadic α=1/2 recursion replays as a batch list_reduce, so stream
    * and oracle agree on the hash (see StreamOps.ewmaState).
    */
  private def qStreamEwma(s: SparkSession, dir: String): DataFrame =
    StreamOps.ewmaState(s, dir).result

  /** Streaming multi-touch attribution — q_evt_attribution's O(1)-state
    * twin (two counters + last-touch channel + eight integer credit
    * accumulators per user, ~100 bytes forever, vs the batch window's
    * whole-history scan); per-purchase rounding replays the batch
    * expression tree exactly, so it shares the batch oracle's hash.
    * See StreamOps.attributionState.
    */
  private def qStreamAttribution(s: SparkSession, dir: String): DataFrame =
    StreamOps.attributionState(s, dir).result

  /** Streaming CEP — q_evt_pattern's stateful twin with O(1) DFA
    * state per user instead of the batch journey string; must produce
    * the identical pattern counts, so it replays the same journey
    * oracle (minus the full-journey fingerprint, which O(1) state by
    * design cannot reconstruct). See StreamOps.patternState.
    */
  private def qStreamPattern(s: SparkSession, dir: String): DataFrame =
    StreamOps.patternState(s, dir).result

  /** Stateful streaming sessionization (flatMapGroupsWithState) —
    * must equal the batch window-algebra sessionization, so it shares
    * q_evt_sessionize's oracle.
    */
  private def qStreamSessionize(s: SparkSession, dir: String): DataFrame =
    StreamOps.sessionCounts(s, dir).result

  /** The BOUNDED-STATE hourly rollup, driver-visible: append output
    * mode + watermark eviction (StreamOps.hourlyCountsAppend), the
    * plan a 100 TB live deployment runs — complete mode above stays
    * only as the oracle-parity harness for the full result table.
    * Emission is deterministic: a window emits iff the final watermark
    * (max event time minus the 2 h delay, millisecond precision)
    * passed its end, so the oracle is the batch rollup restricted by
    * exactly that law — the oracle FAILS if append mode ever withholds
    * a finalized window or emits an open one.
    */
  /** Bounded-state sessionization, driver-visible: per-user state is
    * one open session, evicted by event-time timeout once the
    * watermark passes last+gap (StreamOps.sessionCountsAppend). The
    * emission law is deterministic, so the oracle replays it exactly:
    * every non-final session per user, plus final sessions whose
    * end+gap the final watermark strictly passed.
    */
  private def qStreamSessionizeAppend(s: SparkSession, dir: String): DataFrame =
    StreamOps.sessionCountsAppend(s, dir).result

  private def qStreamHourlyAppend(s: SparkSession, dir: String): DataFrame =
    StreamOps.hourlyCountsAppend(s, dir, glob = Some("events.parquet")).result

  /** Native session_window sessionization (StreamOps
    * .sessionWindowAppend): the engine-managed twin of the custom
    * sessionizers, with the >= gap-boundary split rule and its own
    * emission law.
    */
  private def qStreamSessionNative(s: SparkSession, dir: String): DataFrame = {
    // time-sliced replay: 6 ascending event-time files, one micro-batch
    // each, so the recorded state high-water shows WATERMARK EVICTION
    // (open sessions inside the horizon) instead of a single-batch
    // drain's "everything" artifact. The emitted session set is
    // arrival-invariant (final watermark depends only on max ts), so
    // the oracle's emission law is unchanged.
    val streamDir = StreamOps.timeSliceParquet(
      graft.core.EventTime.normalize(s.read.parquet(s"$dir/events.parquet")),
      col("ts"), 6, "q_stream_sesswin")
    StreamOps.sessionWindowAppend(s, streamDir, glob = None).result
  }

  /** Left-outer stream-stream interval join (StreamOps
    * .intervalJoinOuterAppend): matched pairs emit on arrival (the
    * inner twin's set); unmatched purchases NULL-emit when their join
    * state expires. The exact expiry point is an engine-internal
    * batch-timing detail (measured within one watermark-delay of
    * p_ts + delay, and it shifts a few rows between scale factors), so
    * the REGISTERED contract restricts both twin and oracle to the
    * STABLE region — purchases at least range + 2·delay (2 h) behind
    * the final event — where every NULL emission is guaranteed to have
    * happened in any drain. The tail's liveness is what
    * StreamAppendSpec-style bounds cover; the hash gate covers values.
    */
  private def qStreamRangeOuter(s: SparkSession, dir: String): DataFrame = {
    // time-sliced replay (see qStreamSessionNative): join state evicts
    // as the watermark advances between micro-batches, so state_rows
    // records the horizon bound, not the corpus. Matched pairs are
    // arrival-invariant; the registered result is already restricted
    // to the stable region where NULL emission is drain-invariant.
    val events = graft.core.EventTime
      .normalize(s.read.parquet(s"$dir/events.parquet"))
    val streamDir = StreamOps.timeSliceParquet(
      events, col("ts"), 6, "q_stream_range_outer")
    val run = StreamOps.intervalJoinOuterAppend(s, streamDir, glob = None).result
    val maxUs = events.agg(max(unix_micros(col("ts")))).head.getLong(0)
    run.filter(col("p_us") <= maxUs - 7200000000L)
  }

  /** Append-mode PSI drift monitor (StreamOps.psiDriftAppend): one row
    * per watermark-closed hour; the oracle replays the batch PSI under
    * the window-finality emission law.
    */
  private def qStreamPsi(s: SparkSession, dir: String): DataFrame = {
    // time-sliced replay (see qStreamSessionNative): hourly PSI windows
    // close and evict as the watermark advances mid-stream.
    val streamDir = StreamOps.timeSliceParquet(
      graft.core.EventTime.normalize(s.read.parquet(s"$dir/events.parquet")),
      col("ts"), 6, "q_stream_psi")
    StreamOps.psiDriftAppend(s, streamDir, glob = None).result
  }

  /** The bounded-state incremental dedup, driver-visible:
    * `dropDuplicatesWithinWatermark` evicts fingerprint keys once the
    * watermark passes their event time + horizon (StreamOps
    * .incrementalDedupAppend). The emitted FINGERPRINT SET equals the
    * batch operator's exactly; the kept doc_id for intra-horizon ties
    * is first-arrival (partition-order-dependent), and a duplicate
    * spaced beyond the horizon re-emits by design — so the
    * driver-visible contract is the distinct fp set, which is
    * arrival-invariant. StreamAppendSpec holds the per-row bounds.
    */
  /** The bounded-state streaming EP2 reconstruct, driver-visible
    * (StreamOps.incrementalStitchAppend): annotated crops arrive one
    * work-unit batch per micro-batch; complete canvases stitch and
    * emit with the SAME census invariants as the batch
    * q_img_crop_roundtrip (36 cells / 2916 nonzero px per 60x60
    * grid-labeled plane); the one group whose final crop is withheld
    * (the upstream-anomaly drill) is evicted by event-time timeout to
    * a quarantine row instead of leaking state. The fixture is fully
    * deterministic — 4 fovs x 2 stacks, group k's crops all stamped
    * minute k, files replayed oldest-first — so the emission law
    * (quarantine iff final watermark passed last arrival + 3 min)
    * replays exactly in the oracle.
    */
  /** Shared arrival-ordered crop-stream fixture for the two stitch
    * twins: one file per (fov, stack) work unit, ascending mtimes so
    * the file source replays arrival order; group 0 (fov1, stack 0)
    * is missing its last crop and must quarantine, never stitch.
    */
  private def stitchStreamFixture(s: SparkSession)
      : (String, graft.ops.CropOps.CropPlan) = {
    import s.implicits._
    import graft.core.ImagePlane
    import graft.ops.CropOps
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val orig = ImagePlane.blankPlanes(4, 2, 60, 60)
      .map(ImagePlane.gridLabels(_, cellSize = 10))
    val plan = CropOps.planCrops(60, 60, 24, 24, 0.5)
    val streamDir = graft.core.Scratch.local(s, "q_stream_stitch")
    // ONE write job for all 8 work-unit files (optimization r18, guide
    // §2.4): rows carry their unit index, land one-unit-per-partition
    // via repartitionByRange (8 distinct keys → 8 partitions, exact),
    // and partitionBy lays out one part file per unit — replacing 8
    // sequential coalesce(1) write jobs. Row content and within-unit
    // order are unchanged (driver Seq order, pinned by __row).
    val rows = orig.zipWithIndex.flatMap { case (p, k) =>
      CropOps.cropOne(p, plan)
        .filter(c => !(k == 0 && c.crop == plan.numCrops - 1))
        .zipWithIndex.map { case (c, i) =>
          (k, i, c.fov, c.stack, c.crop, c.slice, c.nRows, c.nCols,
            c.channels, c.pixels, c.labels,
            new java.sql.Timestamp(1700000000000L + k * 60000L))
        }
    }
    val tmp = graft.core.Scratch.local(s, "stitch_units")
    rows.toDF("__unit", "__row", "fov", "stack", "crop", "slice",
      "nRows", "nCols", "channels", "pixels", "labels", "ts")
      .repartitionByRange(orig.length, col("__unit"))
      .sortWithinPartitions("__unit", "__row")
      .drop("__row")
      .write.mode("overwrite").partitionBy("__unit").parquet(tmp)
    orig.indices.foreach { k =>
      val part = new java.io.File(s"$tmp/__unit=$k").listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      val dest = Paths.get(streamDir, f"unit_$k%03d.parquet")
      Files.move(part.toPath, dest, StandardCopyOption.REPLACE_EXISTING)
      dest.toFile.setLastModified(1700000000000L + k * 10000L)
    }
    (streamDir, plan)
  }

  private def qStreamStitch(s: SparkSession, dir: String): DataFrame = {
    val (streamDir, plan) = stitchStreamFixture(s)
    StreamOps.incrementalStitchAppend(s, streamDir, plan,
      quarantineMinutes = 3, watermarkDelay = "2 minutes").result
  }

  /** Streaming near-dup gate: arriving docs banded-MinHash-checked
    * against the static store index, stateless stream-static join +
    * per-doc collapse; novel iff best signature estimate < 0.5. See
    * StreamOps.neardupStatic.
    */
  private def qStreamNeardup(s: SparkSession, dir: String): DataFrame =
    StreamOps.neardupStatic(s, dir).result

  private def qStreamIncrementalAppend(s: SparkSession, dir: String): DataFrame =
    StreamOps.incrementalDedupAppend(s, dir, dir, glob = Some("documents.parquet"))
      .result.select("fp").distinct().orderBy("fp")

  /** Stream-stream interval join, driver-visible (StreamOps
    * .intervalJoinAppend): purchase->click pairs within the preceding
    * hour, the streaming twin of q_evt_range_join's bucketed rewrite.
    * Inner-join matches emit as both sides arrive, so the drained
    * result is exactly the batch inner pair set — the oracle replays
    * the inequality join directly.
    *
    * The batch table replays as genuinely incremental arrival: ten
    * time-sliced files with ascending mtimes, one micro-batch each.
    * A single-file drain would give the watermark no chance to
    * advance, the join would buffer BOTH full streams, and the
    * drain's recorded state high-water would read "holds everything" —
    * sliced, the time-range condition actually evicts and the
    * recorded high water is the honest horizon bound (range +
    * watermark delay of buffered rows, not the corpus).
    */
  private def qStreamRangeAppend(s: SparkSession, dir: String): DataFrame = {
    val streamDir = StreamOps.timeSliceParquet(
      graft.core.EventTime.normalize(s.read.parquet(s"$dir/events.parquet")),
      col("ts"), 6, "q_stream_range")
    StreamOps.intervalJoinAppend(s, streamDir).result
  }

  /** Streaming twin of q_evt_countmin: the native CMS aggregate runs
    * as a complete-mode global aggregation over a 6-way sliced events
    * replay (one micro-batch per file), so the state store holds
    * exactly ONE row — the d×w buffer — however long the stream runs:
    * O(sketch) streaming state, the same shape a 100 TB/day feed
    * needs. Because every counter is an exact sum, the drained matrix
    * is bit-identical to the batch sketch, and the twin shares
    * q_evt_countmin's value-level oracle verbatim (not just a verdict).
    */
  private def qStreamCountmin(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.CountMin
    val ev = t(s, dir, "events")
    val streamDir = StreamOps.sliceParquet(ev, col("event_id"), 6, "q_stream_cms")
    val sk = StreamOps.completeAggDrain(s, streamDir, "*.parquet",
      df => df.agg(CountMin.cmsSketch(col("user_id"),
        EventQueries.cmsD, EventQueries.cmsW).as("sk"))).result
    EventQueries.cmsProbeTable(ev, sk)
  }

  /** Streaming quantile monitoring — the digit-bucket DD sketch
    * ([[AdvancedQueries]] q_sketch_dd_quantile) run as a COMPLETE-mode
    * streaming aggregation over a 6-way sliced events replay: state
    * holds one counter per (event-type × bucket) — O(sketch), ~200
    * rows however long the stream runs, the p95-latency-dashboard
    * shape a 100 TB/day feed needs. Because the sketch is
    * bit-deterministic and its merge is counter addition, the DRAINED
    * histogram must equal the batch histogram register-for-register:
    * `stream_matches_batch` pins that per event type (the mergeable-
    * across-micro-batches contract as a hash-gated verdict, not a
    * bound). p50/p95/p99 then read out of the drained sketch beside
    * exact twins from the batch table; the within bound carries a
    * +5 deci-cent absolute term so exact-width small-cent buckets
    * (width ≤ 1 cent ⇒ half-cent midpoint error) stay inside it at
    * any value scale.
    */
  private def qStreamDdQuantile(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    def bucketize(df: DataFrame): DataFrame = df
      .select(col("event_type"), dec(col("value")).multiply(100)
        .cast("long").as("c"))
      .withColumn("cs", col("c").cast("string"))
      .withColumn("len", length(col("cs")).cast("long"))
      .withColumn("top3", substring(col("cs"), 1, 3).cast("long"))
      .withColumn("sp", greatest(col("len") - 3, lit(0L)))
      .withColumn("p10", pow(lit(10.0), col("sp")).cast("long"))
      .select(col("event_type"), col("c"),
        (col("len") * 1000 + col("top3")).as("bid"),
        (col("top3") * col("p10")).as("low_c"),
        ((col("top3") * 10 + 5) * col("p10")).as("rep_dc"))
    val streamDir = StreamOps.sliceParquet(ev, col("event_id"), 6, "q_stream_ddq")
    val streamHist = StreamOps.completeAggDrain(s, streamDir, "*.parquet",
      df => bucketize(df).groupBy("event_type", "bid")
        .agg(count(lit(1)).as("s_cnt"), max("rep_dc").as("s_rep"),
          max("low_c").as("s_low"))).result
    val batchHist = bucketize(ev).groupBy("event_type", "bid")
      .agg(count(lit(1)).as("cnt"), max("rep_dc").as("rep_dc"),
        max("low_c").as("low_c"))
    val mi = batchHist.join(streamHist, Seq("event_type", "bid"), "full_outer")
      .groupBy("event_type")
      .agg(min(coalesce(col("cnt") === col("s_cnt"), lit(false)))
        .as("stream_matches_batch"))
    val nTot = streamHist.groupBy("event_type")
      .agg(sum("s_cnt").as("n"), count(lit(1)).as("n_buckets"))
    val wcum = Window.partitionBy("event_type").orderBy("s_low", "bid")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val hist = streamHist.withColumn("cum", sum("s_cnt").over(wcum))
    def estAt(pct: Int) =
      min(when(col("cum") >= expr(s"($pct * n + 99) div 100"), col("s_rep")))
    val est = hist.join(nTot, Seq("event_type")).groupBy("event_type")
      .agg(estAt(50).as("p50_est_dc"), estAt(95).as("p95_est_dc"),
        estAt(99).as("p99_est_dc"))
    val cu = bucketize(ev).groupBy("event_type", "c")
      .agg(count(lit(1)).as("cc"))
      .withColumn("cum", sum("cc").over(
        Window.partitionBy("event_type").orderBy("c")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    def exAt(pct: Int) =
      min(when(col("cum") >= expr(s"($pct * n + 99) div 100"), col("c")))
    val exact = cu.join(nTot, Seq("event_type")).groupBy("event_type")
      .agg(exAt(50).as("p50_exact_c"), exAt(95).as("p95_exact_c"),
        exAt(99).as("p99_exact_c"))
    def within(e: org.apache.spark.sql.Column, x: org.apache.spark.sql.Column) =
      abs(e - x * 10) * 10000 <= x * 10 * 65 + 50000
    nTot.join(mi, Seq("event_type")).join(est, Seq("event_type"))
      .join(exact, Seq("event_type"))
      .select(col("event_type"), col("n"), col("n_buckets"),
        col("stream_matches_batch"),
        col("p50_est_dc"), col("p50_exact_c"),
        within(col("p50_est_dc"), col("p50_exact_c")).as("p50_within"),
        col("p95_est_dc"), col("p95_exact_c"),
        within(col("p95_est_dc"), col("p95_exact_c")).as("p95_within"),
        col("p99_est_dc"), col("p99_exact_c"),
        within(col("p99_est_dc"), col("p99_exact_c")).as("p99_within"))
      .orderBy("event_type")
  }

  /** Streaming twin of q_txt_topk_mg: the Misra–Gries summary as a
    * complete-mode global aggregation over a 5-way sliced documents
    * replay — one ≤k-counter buffer in state, merged across
    * micro-batches by the PODS 2012 rule. The retained SET may differ
    * from the batch run (merge order differs), but the verdict columns
    * gate only on the merge-invariant guarantees, so the twin shares
    * the batch oracle.
    */
  private def qStreamTopk(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.MisraGriesTopK.mgTopK
    val docs = t(s, dir, "documents")
    val streamDir = StreamOps.sliceParquet(docs, col("doc_id"), 5, "q_stream_topk")
    val sk = StreamOps.completeAggDrain(s, streamDir, "*.parquet",
      df => df.select(explode(split(col("text"), " ")).as("token"))
        .agg(mgTopK(col("token"), TextQueries.mgK).as("summary"),
          count(lit(1)).as("n_total"))).result
    TextQueries.mgVerdict(
      docs.select(explode(split(col("text"), " ")).as("token")), sk)
  }

  /** Fixture-parquet root for the signature/ANN oracles, resolved when
    * the SQL is built rather than hard-coded to a checkout path:
    * `-Dgraft.fixtures.dir=...` overrides; default is the `fixtures/`
    * directory under the process working directory (the repo root for
    * Verify and the oracle replay).
    */
  private val fixturesDir: String =
    sys.props.getOrElse("graft.fixtures.dir",
      new java.io.File("fixtures").getAbsolutePath)

  val registry: Seq[QueryDef] = Seq(
    // Streaming DD-quantile: the drained histogram is bit-equal to the
    // batch sketch (deterministic counter merge), so the oracle replays
    // the WHOLE law from the events table and pins the stream-vs-batch
    // verdict TRUE. Within bound carries +5 dc for exact-width buckets.
    QueryDef("q_stream_dd_quantile", qStreamDdQuantile,
      """WITH b AS (
        |  SELECT event_type,
        |         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM events),
        |bk AS (
        |  SELECT event_type, c,
        |    strlen(CAST(c AS VARCHAR)) * 1000
        |      + CAST(substr(CAST(c AS VARCHAR), 1, 3) AS BIGINT) AS bid,
        |    CAST(substr(CAST(c AS VARCHAR), 1, 3) AS BIGINT)
        |      * CAST(power(10, greatest(strlen(CAST(c AS VARCHAR)) - 3, 0))
        |             AS BIGINT) AS low_c,
        |    (CAST(substr(CAST(c AS VARCHAR), 1, 3) AS BIGINT) * 10 + 5)
        |      * CAST(power(10, greatest(strlen(CAST(c AS VARCHAR)) - 3, 0))
        |             AS BIGINT) AS rep_dc
        |  FROM b),
        |d AS (SELECT event_type, bid, count(*) AS cnt,
        |             max(rep_dc) AS rep_dc, max(low_c) AS low_c
        |      FROM bk GROUP BY 1, 2),
        |nt AS (SELECT event_type, CAST(sum(cnt) AS BIGINT) AS n,
        |              count(*) AS n_buckets FROM d GROUP BY 1),
        |h AS (SELECT d.*, CAST(sum(cnt) OVER (PARTITION BY event_type
        |        ORDER BY low_c, bid ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |        AS cum FROM d),
        |est AS (SELECT event_type,
        |    min(CASE WHEN cum >= (50 * n + 99) // 100 THEN rep_dc END)
        |      AS p50_est_dc,
        |    min(CASE WHEN cum >= (95 * n + 99) // 100 THEN rep_dc END)
        |      AS p95_est_dc,
        |    min(CASE WHEN cum >= (99 * n + 99) // 100 THEN rep_dc END)
        |      AS p99_est_dc
        |  FROM h JOIN nt USING (event_type) GROUP BY event_type),
        |cm AS (SELECT event_type, c, count(*) AS cc FROM bk GROUP BY 1, 2),
        |cu AS (SELECT event_type, c, CAST(sum(cc) OVER (
        |         PARTITION BY event_type ORDER BY c
        |         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM cm),
        |ex AS (SELECT event_type,
        |    min(CASE WHEN cum >= (50 * n + 99) // 100 THEN c END)
        |      AS p50_exact_c,
        |    min(CASE WHEN cum >= (95 * n + 99) // 100 THEN c END)
        |      AS p95_exact_c,
        |    min(CASE WHEN cum >= (99 * n + 99) // 100 THEN c END)
        |      AS p99_exact_c
        |  FROM cu JOIN nt USING (event_type) GROUP BY event_type)
        |SELECT nt.event_type, n, n_buckets,
        |  TRUE AS stream_matches_batch,
        |  p50_est_dc, p50_exact_c,
        |  abs(p50_est_dc - p50_exact_c * 10) * 10000
        |    <= p50_exact_c * 10 * 65 + 50000 AS p50_within,
        |  p95_est_dc, p95_exact_c,
        |  abs(p95_est_dc - p95_exact_c * 10) * 10000
        |    <= p95_exact_c * 10 * 65 + 50000 AS p95_within,
        |  p99_est_dc, p99_exact_c,
        |  abs(p99_est_dc - p99_exact_c * 10) * 10000
        |    <= p99_exact_c * 10 * 65 + 50000 AS p99_within
        |FROM nt JOIN est USING (event_type) JOIN ex ON ex.event_type = nt.event_type
        |ORDER BY event_type""".stripMargin,
      eager = true), // complete-mode sketch drain at construction
    // Shared batch oracles: CMS commits a bit-identical matrix under
    // any slicing (value replay); MG's verdict columns are
    // merge-invariant by the PODS bound (verdict replay).
    QueryDef("q_stream_countmin", qStreamCountmin, EventQueries.countminOracle,
      eager = true), // complete-mode sketch drain at construction
    QueryDef("q_stream_topk", qStreamTopk, TextQueries.topkMgOracle,
      eager = true), // complete-mode sketch drain at construction
    // Per-lang doc counts replay; every header fact is a pinned
    // verdict over the REAL encoder's bytes (the q_mm_decode pattern).
    QueryDef("q_mm_container", qMmContainer,
      """SELECT lang, count(*) AS n_docs, TRUE AS size_ok,
        |  TRUE AS container_ok, TRUE AS dims_ok, TRUE AS format_ok
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin),
    // Pinned-verdict multimodal oracles (the round-9 pattern): the
    // fixture inputs are deterministic functions of doc_id, so every
    // integer/constant column replays exactly in DuckDB; the live
    // float features (entropy, quantized RMS, decoded histogram) enter
    // as their boolean verdicts, pinned TRUE — the ENGINE computes
    // them from the real decode, so a broken codec/featurizer flips a
    // verdict and fails the hash.
    // q_mm_phash: unlike the verdict oracles above, the hash VALUE
    // replays fully — the gray tile is the text's cyclic bytes
    // (ASCII corpus: byte == codepoint), so DuckDB rebuilds each
    // dHash bit from character arithmetic while the ENGINE derives it
    // from the real PNG encode→decode round trip. A codec that
    // corrupts any pixel changes hashes, clusters and pairs — the
    // whole relation hash-fails.
    QueryDef("q_mm_phash", qMmPhash,
      """WITH d AS (SELECT doc_id, text, length(text) AS len FROM documents),
        |px AS (SELECT doc_id,
        |    list_transform(range(64), i -> ord(substr(text, CAST(i % len AS INT) + 1, 1))) AS p
        |  FROM d),
        |h AS (SELECT doc_id, CAST(list_sum(list_transform(range(63), j ->
        |    CASE WHEN p[CAST((j // 8) * 8 + ((j % 8) + 1) % 8 AS INT) + 1] > p[CAST(j AS INT) + 1]
        |         THEN 1::BIGINT << CAST(j AS INT) ELSE 0 END)) AS BIGINT) AS phash FROM px),
        |cl AS (SELECT phash, count(*) AS n FROM h GROUP BY phash),
        |bb AS (SELECT phash, n, band, (phash >> CAST(16 * band AS INT)) & 65535 AS bval
        |       FROM (SELECT phash, n, unnest(range(4)) AS band FROM cl)),
        |cand AS (SELECT DISTINCT a.phash AS h1, b.phash AS h2, a.n AS n1, b.n AS n2
        |         FROM bb a JOIN bb b ON a.band = b.band AND a.bval = b.bval AND a.phash < b.phash),
        |near AS (SELECT 'near_pair' AS kind, h1, h2, n1, n2,
        |           CAST(bit_count(xor(h1, h2)) AS INTEGER) AS hamming
        |         FROM cand WHERE bit_count(xor(h1, h2)) <= 10),
        |ex AS (SELECT 'exact_cluster' AS kind, phash AS h1, phash AS h2,
        |         n AS n1, n AS n2, 0 AS hamming
        |       FROM cl WHERE n >= 2)
        |SELECT * FROM ex UNION ALL SELECT * FROM near ORDER BY kind, h1, h2""".stripMargin),
    // the pipeline census rebuilt from text arithmetic: phash by the
    // q_mm_phash law, shards by doc_id % 16, tokens by string_split —
    // the engine derives the same numbers through shard-encode ->
    // parse -> codec-decode -> hash
    QueryDef("q_mm_tar_pipeline", qMmTarPipeline,
      """WITH d AS (SELECT doc_id, text, length(text) AS len FROM documents),
        |px AS (SELECT doc_id,
        |    list_transform(range(64), i -> ord(substr(text, CAST(i % len AS INT) + 1, 1))) AS p
        |  FROM d),
        |h AS (SELECT doc_id, CAST(list_sum(list_transform(range(63), j ->
        |    CASE WHEN p[CAST((j // 8) * 8 + ((j % 8) + 1) % 8 AS INT) + 1] > p[CAST(j AS INT) + 1]
        |         THEN 1::BIGINT << CAST(j AS INT) ELSE 0 END)) AS BIGINT) AS phash FROM px),
        |r AS (SELECT h.doc_id,
        |        'shard-' || lpad(CAST(h.doc_id % 16 AS VARCHAR), 3, '0') || '.tar' AS shard,
        |        h.phash, len(string_split(d.text, ' ')) AS ntok
        |      FROM h JOIN d ON h.doc_id = d.doc_id)
        |SELECT shard, CAST(count(*) AS BIGINT) AS n_samples,
        |  CAST(count(DISTINCT phash) AS BIGINT) AS n_distinct_phash,
        |  CAST(sum(phash % 1000000007) % 1000000007 AS BIGINT) AS phash_chk,
        |  CAST(sum(ntok) AS BIGINT) AS n_tokens
        |FROM r GROUP BY shard ORDER BY shard""".stripMargin,
      eager = true), // shard-sink write at construction
    QueryDef("q_mm_features", qMmFeatures,
      """SELECT doc_id AS id, 'text/fake' AS modality,
        |       octet_length(encode(text)) AS n_bytes,
        |       TRUE AS entropy_ok, TRUE AS hist_sum_ok
        |FROM documents ORDER BY id""".stripMargin),
    QueryDef("q_mm_decode", qMmDecode,
      """SELECT doc_id, 8 AS px_w, 8 AS px_h,
        |       TRUE AS entropy_ok, TRUE AS decode_ok
        |FROM documents ORDER BY doc_id""".stripMargin),
    QueryDef("q_mm_audio", qMmAudio,
      """SELECT doc_id, CAST(8000 AS DOUBLE) AS sample_rate,
        |       CAST(2048 AS BIGINT) AS n_samples,
        |       (4 + doc_id % 8) * 2 AS n_zero_cross,
        |       CAST(4 + doc_id % 8 AS INT) AS dominant_bin,
        |       TRUE AS rms_ok, TRUE AS zcr_ok, TRUE AS dom_ok
        |FROM documents ORDER BY doc_id""".stripMargin),
    // Streaming EP2 stitch: the fixture is 4 fovs x 2 stacks of 60x60
    // grid-labeled planes (the q_img_crop_roundtrip census: 36 cells,
    // 36*81 = 2916 nonzero px), 25 crops per canvas, group k's crops
    // stamped minute k and replayed in order. Group (fov1, 0) is
    // missing crop 24, and the final watermark (7 min - 2 min delay)
    // strictly passes its last arrival + 3 min quarantine horizon, so
    // the emission law says: that group quarantines with the 24 crops
    // it received (-1 censuses — no canvas fabricated), every other
    // group stitches with the exact batch invariants. A stitch that
    // mis-places crops, a timeout that never fires (state leak), or a
    // quarantine that fabricates a canvas all diverge from this
    // relation and fail the hash.
    QueryDef("q_stream_stitch", qStreamStitch,
      """SELECT 'fov' || CAST(f AS VARCHAR) AS fov, s AS stack, 0 AS slice,
        |  CASE WHEN f = 1 AND s = 0 THEN 24 ELSE 25 END AS n_crops,
        |  CASE WHEN f = 1 AND s = 0 THEN -1 ELSE 36 END AS n_cells,
        |  CASE WHEN f = 1 AND s = 0 THEN -1 ELSE 2916 END AS n_nonzero,
        |  CASE WHEN f = 1 AND s = 0 THEN 'quarantined' ELSE 'stitched' END AS status
        |FROM generate_series(1, 4) t(f), generate_series(0, 1) u(s)
        |ORDER BY fov, stack, slice""".stripMargin, eager = true), // stream drain at construction
    // The video fixture is synthesized by an arithmetic law (frame f of
    // doc d is a constant luma plane (d*31 + f*7) % 256, 16x16, 8
    // frames), so the every-2nd-frame sample's aggregate is exactly
    // replayable: frames 0/2/4/6, 4*16*16 = 1024 sampled bytes, mean
    // luma = avg of the four constants (exact integer-valued doubles
    // in both engines). A broken container walk, seek arithmetic, or
    // plane decode diverges from the law and fails the hash.
    // Stream-stream interval join: a drained inner join with a time-
    // range condition emits exactly the batch pair set, so the oracle
    // IS the batch inequality join over the same micro-second law as
    // q_evt_range_join (pairs, not counts).
    QueryDef("q_stream_range_append", qStreamRangeAppend,
      """WITH p AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS p_us
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (
        |  SELECT user_id, epoch_us(ts) AS c_us
        |  FROM events WHERE event_type = 'click')
        |SELECT p.event_id, p.user_id, p.p_us, c.c_us
        |FROM p JOIN c ON c.user_id = p.user_id
        |  AND c.c_us BETWEEN p.p_us - 3600000000 AND p.p_us
        |ORDER BY event_id, c_us""".stripMargin, eager = true), // stream drain at construction
    QueryDef("q_mm_frames", qMmFrames,
      """SELECT doc_id, 4 AS n_sampled, 1024 AS sampled_bytes,
        |       round(avg((doc_id * 31 + f * 7) % 256), 6) AS mean_luma,
        |       TRUE AS decode_ok
        |FROM documents, (VALUES (0), (2), (4), (6)) v(f)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    // Signature-fixture oracles: DuckDB cannot compute Spark's
    // xxhash64, so the per-doc minhash/simhash signatures are pinned
    // in fixtures/signatures (graft.tools.FixtureGen, keyed by corpus
    // count + total chars so one file serves every gated SF); the SQL
    // then replays everything DOWNSTREAM independently — banding,
    // bucket joins, pair dedup, estimate/hamming thresholds. Banding
    // equality is on the raw signature slice where the engine hashes
    // the slice (equal slices => equal buckets; an xxhash64 collision
    // admitting an extra engine candidate would fail this gate, which
    // is the point).
    QueryDef("q_dedup_minhash_pairs", qDedupMinhash,
      s"""WITH nd AS (SELECT count(*) AS n, sum(n_chars) AS nc FROM documents),
        |sig AS (SELECT doc_id, minhash
        |        FROM read_parquet('$fixturesDir/signatures/*.parquet') s, nd
        |        WHERE s.n_docs = nd.n AND s.n_chars_total = nd.nc),
        |banded AS (
        |  SELECT doc_id, t.band AS band,
        |    array_to_string(list_slice(minhash, t.band*4 + 1, t.band*4 + 4), ',') AS bucket
        |  FROM sig CROSS JOIN (SELECT unnest(range(0,32)) AS band) t),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM banded a JOIN banded b USING (band, bucket)
        |  WHERE a.doc_id < b.doc_id),
        |est AS (
        |  SELECT id_a, id_b,
        |    len(list_filter(range(1,129), i -> sa.minhash[i] = sb.minhash[i])) / 128.0 AS est_jaccard
        |  FROM cand JOIN sig sa ON sa.doc_id = cand.id_a JOIN sig sb ON sb.doc_id = cand.id_b)
        |SELECT id_a, id_b, est_jaccard FROM est
        |WHERE est_jaccard >= 0.05 ORDER BY id_a, id_b""".stripMargin,
      eager = true), // LSH candidate-pipeline checkpoint at construction
    // Streaming near-dup gate: replay the stream/store split over the
    // pinned signature fixture — candidates share any of the 32 raw
    // band slices (engine buckets are xxhash64 of the same slice), the
    // estimate is matches*10000//128 (exact integer permyriads both
    // engines), novel iff best < 5000.
    QueryDef("q_stream_neardup", qStreamNeardup,
      s"""WITH nd AS (SELECT count(*) AS n, sum(n_chars) AS nc FROM documents),
        |sig AS (SELECT doc_id, minhash
        |        FROM read_parquet('$fixturesDir/signatures/*.parquet') s, nd
        |        WHERE s.n_docs = nd.n AND s.n_chars_total = nd.nc),
        |str AS (SELECT doc_id, minhash FROM sig WHERE doc_id % 10 = 9),
        |sto AS (SELECT doc_id, minhash FROM sig WHERE doc_id % 10 <> 9),
        |sb AS (
        |  SELECT doc_id, minhash, t.band AS band,
        |    array_to_string(list_slice(minhash, t.band*4 + 1, t.band*4 + 4), ',') AS bucket
        |  FROM str CROSS JOIN (SELECT unnest(range(0,32)) AS band) t),
        |ob AS (
        |  SELECT doc_id, minhash, t.band AS band,
        |    array_to_string(list_slice(minhash, t.band*4 + 1, t.band*4 + 4), ',') AS bucket
        |  FROM sto CROSS JOIN (SELECT unnest(range(0,32)) AS band) t),
        |cand AS (
        |  SELECT DISTINCT s.doc_id AS doc_id, o.doc_id AS store_id,
        |    s.minhash AS mh_s, o.minhash AS mh_o
        |  FROM sb s JOIN ob o USING (band, bucket)),
        |est AS (
        |  SELECT doc_id, store_id,
        |    len(list_filter(range(1,129), i -> mh_s[i] = mh_o[i])) * 10000 // 128 AS est_pm
        |  FROM cand),
        |agg AS (
        |  SELECT doc_id, count(DISTINCT store_id) AS n_cand, max(est_pm) AS best
        |  FROM est GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(a.n_cand, 0) AS n_cand,
        |  coalesce(a.best, -1) AS best_est_pm,
        |  coalesce(a.best, -1) < 5000 AS novel
        |FROM str d LEFT JOIN agg a USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin, eager = true), // stream drain at construction
    QueryDef("q_dedup_simhash_pairs", qDedupSimhash,
      s"""WITH nd AS (SELECT count(*) AS n, sum(n_chars) AS nc FROM documents),
        |sig AS (SELECT doc_id, simhash
        |        FROM read_parquet('$fixturesDir/signatures/*.parquet') s, nd
        |        WHERE s.n_docs = nd.n AND s.n_chars_total = nd.nc),
        |chunked AS (
        |  SELECT doc_id, simhash, t.ci AS ci, (simhash >> (t.ci*16)) & 65535 AS chunk
        |  FROM sig CROSS JOIN (SELECT unnest(range(0,4)) AS ci) t),
        |pairs AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
        |  FROM chunked a JOIN chunked b USING (ci, chunk)
        |  WHERE a.doc_id < b.doc_id)
        |SELECT id_a, id_b, hamming FROM pairs
        |WHERE hamming <= 8 ORDER BY id_a, id_b""".stripMargin),
    // LSH recall gate: BOTH sides replay — the exact-Jaccard denominator
    // via the q_dedup_jaccard_pairs CTE chain over the (possibly sampled)
    // subcorpus, the LSH numerator via the pinned signature fixture — so
    // the recall number itself is oracle-checked, not just pinned TRUE.
    QueryDef("q_dedup_lsh_recall", qDedupLshRecall,
      s"""WITH nd AS (SELECT count(*) AS n, sum(n_chars) AS nc FROM documents),
        |smp AS (SELECT n, nc, greatest(1, (n + 4999) // 5000) AS m FROM nd),
        |docs AS (SELECT d.doc_id, d.text FROM documents d, smp
        |         WHERE d.doc_id % smp.m = 0),
        |base0 AS (
        |  SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
        |    CASE WHEN len(string_split(text, ' ')) >= 3 THEN
        |      list_distinct(list_transform(range(1, len(string_split(text, ' ')) - 1),
        |        i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2]))
        |    ELSE [] END AS shingles
        |  FROM docs),
        |base AS (
        |  SELECT doc_id, CAST(floor(n_tokens / 4) AS BIGINT) AS bucket, shingles
        |  FROM base0),
        |bexp AS (
        |  SELECT doc_id, unnest([bucket - 1, bucket, bucket + 1]) AS bucket, shingles
        |  FROM base),
        |jp AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    a.shingles AS sh_a, b.shingles AS sh_b
        |  FROM base a JOIN bexp b
        |    ON a.bucket = b.bucket AND a.doc_id < b.doc_id),
        |ex AS (
        |  SELECT DISTINCT doc_a, doc_b FROM jp
        |  WHERE len(list_distinct(list_concat(sh_a, sh_b))) > 0
        |    AND CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE)
        |      / len(list_distinct(list_concat(sh_a, sh_b))) >= 0.5),
        |sig AS (SELECT s.doc_id, minhash
        |        FROM read_parquet(['$fixturesDir/signatures/*.parquet',
        |                           '$fixturesDir/signatures_sampled/*.parquet']) s, smp
        |        WHERE s.n_docs = smp.n AND s.n_chars_total = smp.nc
        |          AND s.doc_id % smp.m = 0),
        |banded AS (
        |  SELECT doc_id, t.band AS band,
        |    array_to_string(list_slice(minhash, t.band*4 + 1, t.band*4 + 4), ',') AS bucket
        |  FROM sig CROSS JOIN (SELECT unnest(range(0,32)) AS band) t),
        |cand0 AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM banded a JOIN banded b USING (band, bucket)
        |  WHERE a.doc_id < b.doc_id),
        |cand AS (
        |  SELECT doc_a, doc_b
        |  FROM cand0 JOIN sig sa ON sa.doc_id = cand0.doc_a
        |             JOIN sig sb ON sb.doc_id = cand0.doc_b
        |  WHERE len(list_filter(range(1,129), i -> sa.minhash[i] = sb.minhash[i])) / 128.0 >= 0.05),
        |cnt AS (
        |  SELECT (SELECT count(*) FROM ex) AS n_exact,
        |    (SELECT count(*) FROM cand) AS n_candidates,
        |    (SELECT count(*) FROM ex SEMI JOIN cand USING (doc_a, doc_b)) AS n_hits)
        |SELECT n_exact, n_candidates, n_hits,
        |  CASE WHEN n_exact = 0 THEN 1.0
        |       ELSE CAST(n_hits AS DOUBLE) / n_exact END AS recall,
        |  CASE WHEN n_exact = 0 THEN TRUE
        |       ELSE CAST(n_hits AS DOUBLE) / n_exact >= 0.9 END AS recall_ok,
        |  smp.m AS sample_mod, smp.n AS n_docs_total
        |FROM cnt, smp""".stripMargin,
      eager = true), // LSH candidate-pipeline recall counts at construction
    // LSH ANN full value replay: bucket assignment from the pinned seeded
    // hyperplanes (data-independent fixture), multi-probe = hamming <= 2
    // on the 10-bit signature, cosine by the proven q_sim_knn_join recipe.
    QueryDef("q_sim_ann_lsh", qSimAnnLsh,
      s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS vec
        |           FROM embeddings),
        |pl AS (SELECT bit, w
        |       FROM read_parquet('$fixturesDir/hyperplanes/*.parquet')),
        |bk AS (
        |  SELECT e.vec_id,
        |    CAST(sum(CASE WHEN list_sum(list_transform(range(1, 65), i -> pl.w[i] * e.vec[i])) >= 0
        |             THEN 1::BIGINT << pl.bit ELSE 0 END) AS BIGINT) AS bucket
        |  FROM e, pl GROUP BY e.vec_id),
        |q AS (SELECT vec AS qvec FROM e WHERE vec_id = 0),
        |qb AS (SELECT bucket AS qbucket FROM bk WHERE vec_id = 0),
        |sims AS (
        |  SELECT e.vec_id, e.label,
        |    list_sum(list_transform(range(1, len(e.vec) + 1), i -> e.vec[i] * q.qvec[i]))
        |      / (sqrt(list_sum(list_transform(e.vec, x -> x * x)))
        |         * sqrt(list_sum(list_transform(q.qvec, x -> x * x)))) AS cs
        |  FROM e, q WHERE e.vec_id <> 0),
        |exact AS (
        |  SELECT vec_id FROM (
        |    SELECT vec_id, row_number() OVER (ORDER BY cs DESC, vec_id) AS rk
        |    FROM sims) WHERE rk <= 10),
        |ann AS (
        |  SELECT s.vec_id, s.label, s.cs,
        |    row_number() OVER (ORDER BY s.cs DESC, s.vec_id) AS rk
        |  FROM sims s JOIN bk ON bk.vec_id = s.vec_id, qb
        |  WHERE bit_count(xor(bk.bucket, qb.qbucket)) <= 2)
        |SELECT vec_id, label, round(cs, 6) AS cos_sim,
        |  vec_id IN (SELECT vec_id FROM exact) AS in_exact_topk
        |FROM ann WHERE rk <= 10 ORDER BY cos_sim DESC, vec_id""".stripMargin,
      eager = true), // driver point-lookup of the probe vector at construction
    // IVF ANN full value replay: the codebook is a bit-deterministic
    // function of the corpus (quantized Lloyd sums), pinned per corpus
    // in fixtures/ivf_centroids keyed by (count, exact first-component
    // checksum); DuckDB replays cell assignment (argmax dot, first-wins
    // ties), the driver-side nprobe cell choice (normalized query), and
    // the pruned top-k.
    QueryDef("q_sim_ann_ivf", qSimAnnIvf,
      s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS vec
        |           FROM embeddings),
        |nv AS (SELECT count(*) AS n,
        |         sum(CAST(floor(CAST(embedding[1] AS DOUBLE) * 1000000) AS BIGINT)) AS chk
        |       FROM embeddings),
        |prm AS (SELECT n, chk,
        |    greatest(1, CAST(least(4096, greatest(1, round(sqrt(CAST(n AS DOUBLE))))) AS BIGINT) // 2) AS nprobe
        |  FROM nv),
        |cen AS (SELECT c.cell, c.centroid
        |        FROM read_parquet('$fixturesDir/ivf_centroids/*.parquet') c, prm
        |        WHERE c.n_vecs = prm.n AND c.chk = prm.chk),
        |asg AS (
        |  SELECT vec_id, cell FROM (
        |    SELECT e.vec_id, cen.cell,
        |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |        list_sum(list_transform(range(1, 65), i -> cen.centroid[i] * e.vec[i])) DESC,
        |        cen.cell) AS rk
        |    FROM e, cen) WHERE rk = 1),
        |q AS (SELECT vec AS qvec FROM e WHERE vec_id = 0),
        |qn AS (SELECT list_transform(qvec,
        |         x -> x / sqrt(list_sum(list_transform(qvec, y -> y * y)))) AS nvec
        |       FROM q),
        |pc AS (
        |  SELECT cell FROM (
        |    SELECT cen.cell, row_number() OVER (ORDER BY
        |        list_sum(list_transform(range(1, 65), i -> cen.centroid[i] * qn.nvec[i])) DESC,
        |        cen.cell) AS rk
        |    FROM cen, qn), prm WHERE rk <= prm.nprobe),
        |sims AS (
        |  SELECT e.vec_id, e.label,
        |    list_sum(list_transform(range(1, len(e.vec) + 1), i -> e.vec[i] * q.qvec[i]))
        |      / (sqrt(list_sum(list_transform(e.vec, x -> x * x)))
        |         * sqrt(list_sum(list_transform(q.qvec, x -> x * x)))) AS cs
        |  FROM e, q WHERE e.vec_id <> 0),
        |exact AS (
        |  SELECT vec_id FROM (
        |    SELECT vec_id, row_number() OVER (ORDER BY cs DESC, vec_id) AS rk
        |    FROM sims) WHERE rk <= 10),
        |ann AS (
        |  SELECT s.vec_id, s.label, s.cs,
        |    row_number() OVER (ORDER BY s.cs DESC, s.vec_id) AS rk
        |  FROM sims s JOIN asg USING (vec_id)
        |  WHERE asg.cell IN (SELECT cell FROM pc))
        |SELECT vec_id, label, round(cs, 6) AS cos_sim,
        |  vec_id IN (SELECT vec_id FROM exact) AS in_exact_topk
        |FROM ann WHERE rk <= 10 ORDER BY cos_sim DESC, vec_id""".stripMargin,
      eager = true), // probe-vector lookup + k-means codebook collect at construction
    // IVF recall gate: exact and pruned sides BOTH replay in SQL (probe
    // batch, per-probe brute-force top-10, fixture-codebook cell
    // assignment + nprobe choice, pruned per-probe top-10), so every
    // count and the recall value itself are oracle-checked.
    QueryDef("q_sim_ivf_recall", qSimIvfRecall,
      s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS vec
        |           FROM embeddings),
        |nv AS (SELECT count(*) AS n,
        |         sum(CAST(floor(CAST(embedding[1] AS DOUBLE) * 1000000) AS BIGINT)) AS chk
        |       FROM embeddings),
        |prm AS (SELECT n, chk,
        |    greatest(1, CAST(least(4096, greatest(1, round(sqrt(CAST(n AS DOUBLE))))) AS BIGINT) // 2) AS nprobe
        |  FROM nv),
        |cen AS (SELECT c.cell, c.centroid
        |        FROM read_parquet('$fixturesDir/ivf_centroids/*.parquet') c, prm
        |        WHERE c.n_vecs = prm.n AND c.chk = prm.chk),
        |probes AS (SELECT vec_id AS probe_id, vec AS qvec FROM e
        |           WHERE vec_id % 100 = 0 ORDER BY vec_id LIMIT 8),
        |sims AS (
        |  SELECT p.probe_id, e.vec_id,
        |    list_sum(list_transform(range(1, len(e.vec) + 1), i -> e.vec[i] * p.qvec[i]))
        |      / (sqrt(list_sum(list_transform(e.vec, x -> x * x)))
        |         * sqrt(list_sum(list_transform(p.qvec, x -> x * x)))) AS cs
        |  FROM e, probes p WHERE e.vec_id <> p.probe_id),
        |exact AS (
        |  SELECT probe_id, vec_id FROM (
        |    SELECT probe_id, vec_id,
        |      row_number() OVER (PARTITION BY probe_id ORDER BY cs DESC, vec_id) AS rk
        |    FROM sims) WHERE rk <= 10),
        |asg AS (
        |  SELECT vec_id, cell FROM (
        |    SELECT e.vec_id, cen.cell,
        |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |        list_sum(list_transform(range(1, 65), i -> cen.centroid[i] * e.vec[i])) DESC,
        |        cen.cell) AS rk
        |    FROM e, cen) WHERE rk = 1),
        |qn AS (SELECT probe_id, list_transform(qvec,
        |         x -> x / sqrt(list_sum(list_transform(qvec, y -> y * y)))) AS nvec
        |       FROM probes),
        |pcells AS (
        |  SELECT probe_id, cell FROM (
        |    SELECT qn.probe_id, cen.cell, row_number() OVER (PARTITION BY qn.probe_id
        |      ORDER BY list_sum(list_transform(range(1, 65), i -> cen.centroid[i] * qn.nvec[i])) DESC,
        |        cen.cell) AS rk
        |    FROM cen, qn), prm WHERE rk <= prm.nprobe),
        |ivf AS (
        |  SELECT probe_id, vec_id FROM (
        |    SELECT s.probe_id, s.vec_id,
        |      row_number() OVER (PARTITION BY s.probe_id ORDER BY s.cs DESC, s.vec_id) AS rk
        |    FROM sims s JOIN asg USING (vec_id)
        |      SEMI JOIN pcells ON pcells.probe_id = s.probe_id AND pcells.cell = asg.cell)
        |  WHERE rk <= 10),
        |cnt AS (
        |  SELECT (SELECT count(*) FROM exact) AS n_exact,
        |    (SELECT count(*) FROM ivf) AS n_ivf,
        |    (SELECT count(*) FROM exact SEMI JOIN ivf USING (probe_id, vec_id)) AS n_hits)
        |SELECT n_exact, n_ivf, n_hits,
        |  CASE WHEN n_exact = 0 THEN 1.0
        |       ELSE CAST(n_hits AS DOUBLE) / n_exact END AS recall,
        |  CASE WHEN n_exact = 0 THEN TRUE
        |       ELSE CAST(n_hits AS DOUBLE) / n_exact >= 0.6 END AS recall_ok
        |FROM cnt""".stripMargin,
      eager = true), // k-means codebook collect + recall counts at construction
    QueryDef("q_stream_sessionize", qStreamSessionize,
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS us,
        |    lag(epoch_us(ts), 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
        |  FROM events)
        |SELECT user_id,
        |  CAST(sum(CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
        |  count(*) AS n_events
        |FROM e GROUP BY user_id ORDER BY user_id""".stripMargin,
      eager = true), // stream drain at construction
    QueryDef("q_stream_dedup", qStreamDedup,
      """SELECT event_type, count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
      eager = true), // stream drain at construction
    // the full-history fold the O(1) streaming state replaces: the
    // list_reduce IS the e' = v/2 + e/2 recursion, element 1 seeding
    QueryDef("q_stream_pattern", qStreamPattern,
      """WITH j AS (
        |  SELECT user_id, count(*) AS n_events,
        |    string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id) AS journey
        |  FROM events GROUP BY user_id)
        |SELECT user_id, n_events,
        |  CAST(len(regexp_extract_all(journey, 'vc*p')) AS BIGINT) AS n_conv,
        |  CAST(len(regexp_extract_all(journey, 'ee+')) AS BIGINT) AS n_err_runs,
        |  len(regexp_extract_all(journey, 's[^p]*p')) > 0 AS signup_converted
        |FROM j ORDER BY user_id""".stripMargin, eager = true), // stream drain at construction
    QueryDef("q_stream_attribution", qStreamAttribution, EventQueries.attributionOracle,
      eager = true), // stream drain at construction
    QueryDef("q_stream_ewma", qStreamEwma,
      """SELECT user_id, count(*) AS n_events,
        |  round(list_reduce(list(value ORDER BY ts, event_id),
        |    (acc, x) -> acc / 2.0 + x / 2.0), 6) AS ewma
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
      eager = true), // stream drain at construction
    QueryDef("q_stream_incremental", qStreamIncremental,
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
        |WHERE doc_id = keeper ORDER BY doc_id""".stripMargin,
      eager = true), // stream drain at construction
    QueryDef("q_stream_hourly", qStreamHourly,
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour, event_type,
        |  count(*) AS n, CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin,
      eager = true), // stream drain at construction
    // Outer-interval-join contract: the batch LEFT join restricted to
    // the stable region (p_ts at least 2 h — range + 2·delay — behind
    // the final event), where every NULL emission has provably
    // happened; the exact expiry boundary above it is engine-internal
    // batch timing (see the registry wrapper's scaladoc).
    QueryDef("q_stream_range_outer", qStreamRangeOuter,
      """WITH cut AS (SELECT epoch_us(max(ts)) - 7200000000 AS cut_us FROM events),
        |p AS (SELECT event_id, user_id, epoch_us(ts) AS p_us
        |      FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, epoch_us(ts) AS c_us
        |      FROM events WHERE event_type = 'click')
        |SELECT p.event_id, p.user_id, p.p_us, c.c_us
        |FROM p LEFT JOIN c ON p.user_id = c.user_id
        |  AND c.c_us >= p.p_us - 3600000000 AND c.c_us <= p.p_us, cut
        |WHERE p.p_us <= cut_us
        |ORDER BY event_id, c_us""".stripMargin, eager = true), // append-mode drain at construction
    // Native-session emission law: a session window [start, last+gap)
    // is final iff the watermark (max event ms − 10 min) has passed
    // its END (last event + the 30-min gap). The gap boundary is
    // INCLUSIVE — an exactly-gap-spaced event MERGES (verified
    // empirically in SessionWindowSpec) — so the split rule is the
    // same strict > the custom sessionizers use.
    QueryDef("q_stream_session_native", qStreamSessionNative,
      """WITH wm AS (SELECT CAST(floor(epoch_us(max(ts)) / 1000) AS BIGINT) - 600000 AS wm_ms
        |           FROM events),
        |e AS (
        |  SELECT user_id, epoch_us(ts) AS us, event_id,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
        |  FROM events),
        |f AS (
        |  SELECT user_id, us, event_id,
        |    CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000 THEN 1 ELSE 0 END AS new_sess
        |  FROM e),
        |sids AS (
        |  SELECT user_id, us,
        |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id) AS sess_id
        |  FROM f),
        |sess AS (
        |  SELECT user_id, min(us) AS start_us, max(us) AS end_us,
        |         count(*) AS n_events
        |  FROM sids GROUP BY user_id, sess_id)
        |SELECT user_id, start_us, end_us, CAST(n_events AS BIGINT) AS n_events
        |FROM sess, wm
        |WHERE CAST(floor((end_us + 1800000000) / 1000) AS BIGINT) <= wm_ms
        |ORDER BY user_id, start_us""".stripMargin,
      eager = true), // append-mode drain at construction
    // Append-mode PSI: the batch PSI replay under the same
    // window-finality law (generated beside the q_evt_psi oracle).
    QueryDef("q_stream_psi", qStreamPsi, EventQueries.psiOracle(emissionLaw = true),
      eager = true), // append-mode drain at construction
    // Append-mode emission law: a window is final iff the watermark
    // (max event time in MILLISECONDS minus the 2 h delay — Spark
    // tracks watermarks at ms precision) has passed its END.
    QueryDef("q_stream_hourly_append", qStreamHourlyAppend,
      """WITH wm AS (SELECT CAST(floor(epoch_us(max(ts)) / 1000) AS BIGINT) - 7200000 AS wm_ms
        |           FROM events),
        |h AS (SELECT date_trunc('hour', ts) AS hr, event_type, count(*) AS n,
        |        CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |      FROM events GROUP BY 1, 2)
        |SELECT strftime(hr, '%Y-%m-%d %H:%M:%S') AS hour, event_type, n, sum_value
        |FROM h, wm WHERE CAST(floor(epoch_us(hr + INTERVAL 1 HOUR) / 1000) AS BIGINT) <= wm_ms
        |ORDER BY hour, event_type""".stripMargin,
      eager = true), // stream drain at construction
    // Append-session emission law: a session is final (and emitted)
    // iff a later session exists for its user, or the final watermark
    // (max event ms - 10 min delay) strictly passed its end + 30 min
    // gap (Spark fires event-time timeouts when wm > the set
    // timestamp, set at floor(end_us/1000) + gap_ms).
    QueryDef("q_stream_sessionize_append", qStreamSessionizeAppend,
      """WITH wm AS (SELECT CAST(floor(epoch_us(max(ts)) / 1000) AS BIGINT) - 600000 AS wm_ms
        |           FROM events),
        |e AS (
        |  SELECT user_id, epoch_us(ts) AS us, event_id,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
        |  FROM events),
        |f AS (
        |  SELECT user_id, us, event_id,
        |    CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000 THEN 1 ELSE 0 END AS new_sess
        |  FROM e),
        |sids AS (
        |  SELECT user_id, us,
        |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id) AS sess_id
        |  FROM f),
        |sess AS (
        |  SELECT user_id, sess_id, min(us) AS start_us, max(us) AS end_us,
        |         count(*) AS n_events
        |  FROM sids GROUP BY user_id, sess_id),
        |last AS (SELECT user_id, max(sess_id) AS last_id FROM sess GROUP BY user_id)
        |SELECT sess.user_id AS user_id, start_us, end_us, n_events
        |FROM sess JOIN last ON sess.user_id = last.user_id, wm
        |WHERE sess.sess_id < last.last_id
        |   OR CAST(floor(end_us / 1000) AS BIGINT) + 1800000 < wm_ms
        |ORDER BY sess.user_id, start_us""".stripMargin,
      eager = true), // stream drain at construction
    QueryDef("q_stream_incremental_append", qStreamIncrementalAppend,
      """WITH fp AS (
        |  SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |  FROM documents),
        |store AS (SELECT DISTINCT fp FROM fp WHERE doc_id % 10 <> 9)
        |SELECT DISTINCT fp FROM fp
        |WHERE doc_id % 10 = 9 AND fp NOT IN (SELECT fp FROM store)
        |ORDER BY fp""".stripMargin, eager = true), // stream drain at construction
  )
}
