package graft.queries

import graft.core.ImagePlane
import graft.ops.{ImageResize, Reconstruct, Relabel}
import graft.sources.{Npz, Tiff}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Q._

/** File-format IO queries — driver-checkable CORRECTNESS rows for the
  * TIFF source (S6/S7, reference `misc_utils.get_image` /
  * `data_loader.load_imagedata`, data_loader.py:396-445) and the NPZ
  * sink/source family (S10/S12, `utils/io_utils.py:37-239`). The
  * format decoders themselves are spec-gated against real reference
  * files; these queries expose the same decode paths as RELATIONAL
  * digests so the driver's DuckDB gate sees them every round:
  *
  *  - q_src_tiff_digest decodes the six committed reference TIFF
  *    fixtures (512x512 int16 MIBI planes, copied verbatim from the
  *    reference's `data/raw_data` tree into fixtures/tiff) and emits a
  *    per-plane census. The oracle pins values computed by an
  *    INDEPENDENT decoder (a raw little-endian IFD walk over the strip
  *    offsets — tools/tiff_digest.py), so engine and oracle share no
  *    code path: a JDK ImageIO regression (wrong sample type, row
  *    order, frame count) breaks nnz/sum/checksum and fails the hash.
  *  - q_npz_roundtrip drives the S10 sink (one NPZ per (fov, crop,
  *    slice) work unit, blank-label routing to `separate/`) into the
  *    S12 grid-completed source and verifies per-plane digest equality
  *    plus the two routing laws: the blank unit zero-fills in the main
  *    grid read (its file is NOT there) and round-trips bit-exactly
  *    from `separate/`.
  */
object IoQueries {

  /** Same fixture-root resolution as the ANN oracles: override with
    * `-Dgraft.fixtures.dir`, default `fixtures/` under the working
    * directory (the repo root for Verify and the oracle replay).
    */
  private def fixturesRoot: String =
    sys.props.getOrElse("graft.fixtures.dir",
      new java.io.File("fixtures").getAbsolutePath)

  /** Census of one decoded plane: nonzero count, integer pixel sum,
    * max, and a position-weighted checksum (sum of (i+1)*v mod
    * 1e9+7 — order-sensitive, so a row-major/column-major or
    * byte-order slip changes it even when the value multiset
    * doesn't). Pixels are integral (int16 TIFF samples / small-int
    * synthetic floats), so the Long cast is exact.
    */
  private def census(pixels: Array[Float]): (Long, Long, Long, Long) = {
    val P = 1000000007L
    var nnz = 0L; var sum = 0L; var mx = Long.MinValue; var chk = 0L
    var i = 0
    while (i < pixels.length) {
      val v = math.rint(pixels(i)).toLong
      if (v != 0) nnz += 1
      sum += v
      if (v > mx) mx = v
      chk = (chk + (((i + 1).toLong * v) % P + P) % P) % P
      i += 1
    }
    (nnz, sum, if (pixels.isEmpty) 0L else mx, chk)
  }

  /** S6/S7 digest: distributed binaryFile scan + ImageIO decode of the
    * committed reference TIFFs, one census row per (file, frame).
    */
  private def qSrcTiffDigest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tiff.readTiffDir(s, s"$fixturesRoot/tiff", glob = "*.tif")
      .map { p =>
        val (nnz, sum, mx, chk) = census(p.pixels)
        (p.fov, p.stack, p.nRows, p.nCols, nnz, sum, mx, chk)
      }
      .toDF("fov", "stack", "n_rows", "n_cols", "nnz", "px_sum", "px_max",
        "checksum")
      .orderBy("fov", "stack")
  }

  private val RtN = 20 // roundtrip plane edge

  /** Deterministic pixel law for the roundtrip fixture — small ints,
    * exact through the float32 NPY encode.
    */
  private def rtPixel(fi: Int, crop: Int, slc: Int, st: Int, i: Int): Float =
    ((i + st * 7 + crop * 13 + slc * 17 + fi * 19) % 101).toFloat

  private def rtLabel(crop: Int, slc: Int, st: Int, i: Int): Int =
    if ((i + st + crop + slc) % 3 == 0) 1 + (i % 5) else 0

  private def rtPlanes: Seq[ImagePlane] =
    for {
      (fov, fi) <- Seq("fovA", "fovB").zipWithIndex
      crop <- 0 until 2; slc <- 0 until 2; st <- 0 until 2
    } yield {
      val blank = fov == "fovB" && crop == 1 && slc == 1
      ImagePlane(fov, st, crop, slc, RtN, RtN, Seq("channel0"),
        Array.tabulate(RtN * RtN)(rtPixel(fi, crop, slc, st, _)),
        if (blank) new Array[Int](RtN * RtN)
        else Array.tabulate(RtN * RtN)(rtLabel(crop, slc, st, _)))
    }

  /** S10 -> S12 roundtrip: write the 8-unit fixture with
    * blankLabels="separate", grid-read ALL units back (the blank one
    * zero-fills), then read `separate/` and check it holds exactly the
    * blank unit's original planes. Verdict columns compare pixel AND
    * label censuses against the a-priori fixture law — computed here
    * from the SAME pure functions, never from the written files.
    */
  private def qNpzRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val planes = rtPlanes
    val tmp = graft.core.Scratch.dir(s, "npz_rt")
    Npz.saveNpzsForCaliban(ImagePlane.toDataset(s, planes), tmp,
      blankLabels = "separate")
    val expected: Map[(String, Int, Int, Int), (Long, Long)] = planes.map { p =>
      (p.fov, p.crop, p.slice, p.stack) ->
        (census(p.pixels)._4, census(p.labels.map(_.toFloat))._4)
    }.toMap
    val zeroChk = 0L
    def rows(ds: org.apache.spark.sql.Dataset[ImagePlane], mode: String,
             wantZero: Boolean): DataFrame =
      ds.map { p =>
        val pxChk = census(p.pixels)._4
        val lbChk = census(p.labels.map(_.toFloat))._4
        val (wantPx, wantLb) =
          if (wantZero) (zeroChk, zeroChk)
          else expected((p.fov, p.crop, p.slice, p.stack))
        (p.fov, p.crop, p.slice, p.stack, p.nRows, p.nCols, mode,
          pxChk == wantPx && lbChk == wantLb)
      }.toDF("fov", "crop", "slice", "stack", "n_rows", "n_cols", "mode",
        "digest_ok")
    val grid = for {
      fov <- Seq("fovA", "fovB"); crop <- 0 until 2; slc <- 0 until 2
    } yield (fov, crop, slc, 2)
    val all = Npz.loadNpzsWithGrid(s, tmp, grid, RtN, RtN)
    val isBlankUnit = (p: ImagePlane) =>
      p.fov == "fovB" && p.crop == 1 && p.slice == 1
    val main = rows(all.filter(p => !isBlankUnit(p)), "roundtrip",
        wantZero = false)
      .union(rows(all.filter(isBlankUnit), "zero_filled", wantZero = true))
    val sep = rows(Npz.loadNpzsWithGrid(s, s"$tmp/separate",
      Seq(("fovB", 1, 1, 2)), RtN, RtN), "separate", wantZero = false)
    main.union(sep).orderBy("mode", "fov", "crop", "slice", "stack")
  }

  // ===================================================================
  // EP2-composition digest (C9, reshape_data.py:194-234 composed with
  // C1-C8 and S10/S12): crop -> slice -> NPZ save (+ log_data.json
  // sidecar) -> grid read -> stitch slices -> stitch crops -> dense
  // relabel, verified per reconstructed plane against the A-PRIORI
  // fixture law (never against the written files):
  //   - pixels round-trip bit-exactly (overlapping crops agree on raw
  //     values; padding is trimmed), so the pixel census must equal
  //     the law's;
  //   - stitched labels are a BIJECTIVE renaming of the law's labels
  //     (majority-vote stitching reassigns ids but, for connected
  //     blobs, never merges distinct cells — overlap pixels carry the
  //     placed id to every later crop — and never splits one);
  //   - after W4 dense relabel the id set is exactly 1..n_labels.
  // The fixture law places 3x3 blobs on a 6-px grid offset so blobs
  // straddle BOTH crop boundaries (rows 10-12 cross the row-crop seam
  // at 12; cols 15-17 and 27-29 cross both col seams), exercising the
  // J3 vote, and slices overlap by 1 stack so C8's highest-slice-wins
  // path runs on every interior stack.
  // ===================================================================

  private val RcRows = 24; private val RcCols = 36; private val RcStacks = 4
  private val RcChans = Seq("ch0", "ch1")
  private val RcFovs = Seq("fovA", "fovB")

  /** Strictly positive small-int pixel law, exact through float32. */
  private def rcPixel(fi: Int, st: Int, ch: Int, r: Int, c: Int): Float =
    (((r * RcCols + c) + st * 7 + ch * 11 + fi * 19) % 101 + 1).toFloat

  /** 3x3 blobs on a 6-px grid, rows offset 4 / cols offset 9 — ids
    * 1..20, identical geometry on every plane (pixels vary per plane,
    * catching any unit mix-up the label check can't see).
    */
  private def rcLabel(r: Int, c: Int): Int =
    if (r >= 4 && (r - 4) % 6 < 3 && c >= 9 && (c - 9) % 6 < 3)
      ((r - 4) / 6) * 5 + ((c - 9) / 6) + 1
    else 0

  private def rcLawPlane(fov: String, fi: Int, st: Int): ImagePlane =
    ImagePlane(fov, st, 0, 0, RcRows, RcCols, RcChans,
      Array.tabulate(RcChans.length * RcRows * RcCols) { i =>
        val ch = i / (RcRows * RcCols); val rc = i % (RcRows * RcCols)
        rcPixel(fi, st, ch, rc / RcCols, rc % RcCols)
      },
      Array.tabulate(RcRows * RcCols)(i => rcLabel(i / RcCols, i % RcCols)))

  /** Bijection check: `got` is a renaming of `want` — identical zero
    * sets, and the id mapping is a function in both directions.
    */
  private def labelsBijective(want: Array[Int], got: Array[Int]): Boolean = {
    if (want.length != got.length) return false
    // boxed maps: putIfAbsent's null "was absent" sentinel must stay
    // distinguishable from a real id (an unboxed Int would turn null
    // into 0 and poison the comparison)
    val fwd = new java.util.HashMap[Integer, Integer]
    val bwd = new java.util.HashMap[Integer, Integer]
    var i = 0
    while (i < want.length) {
      val a = want(i); val b = got(i)
      if ((a == 0) != (b == 0)) return false
      if (a != 0) {
        val f = fwd.putIfAbsent(a, b)
        if (f != null && f.intValue != b) return false
        val g = bwd.putIfAbsent(b, a)
        if (g != null && g.intValue != a) return false
      }
      i += 1
    }
    true
  }

  private def qImgReconstructDigest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val planes = for {
      (fov, fi) <- RcFovs.zipWithIndex; st <- 0 until RcStacks
    } yield rcLawPlane(fov, fi, st)
    val tmp = graft.core.Scratch.dir(s, "ep2_digest")
    val (units, plan) = Reconstruct.cropAndSlice(
      ImagePlane.toDataset(s, planes), RcRows, RcCols, RcStacks,
      cropSize = Some((16, 16, 0.25)), sliceLen = Some((2, 1)),
      fovs = RcFovs, channels = RcChans)
    Npz.saveNpzsForCaliban(units, tmp)
    Reconstruct.savePlan(s, tmp, plan)
    // reconstruct in the sidecar-driven form — the plan travels through
    // log_data.json, as in the reference's multi-day annotation flow
    val recon = Relabel.allFrames(Reconstruct.reconstructFromNpzDir(s, tmp))
    val nBlobs = (0 until RcRows * RcCols)
      .map(i => rcLabel(i / RcCols, i % RcCols)).filter(_ != 0).distinct.size
    recon.map { p =>
      val fi = RcFovs.indexOf(p.fov)
      val law = rcLawPlane(p.fov, fi, p.stack)
      val pxOk = fi >= 0 && p.nRows == RcRows && p.nCols == RcCols &&
        census(p.pixels) == census(law.pixels)
      val labOk = labelsBijective(law.labels, p.labels)
      val ids = p.labels.filter(_ != 0).distinct.sorted
      val denseOk = ids.sameElements(1 to ids.length)
      (p.fov, p.stack, p.nRows, p.nCols, ids.length, pxOk, labOk, denseOk)
    }.toDF("fov", "stack", "n_rows", "n_cols", "n_labels", "px_ok",
      "labels_ok", "dense_ok")
      .orderBy("fov", "stack")
  }

  // ===================================================================
  // C10-C12 digest (pad_image_stack build.py:144-176, resize build.py:
  // 101-143, tile dataset_builder.py:292-395 via reshapeForTraining):
  // constant-per-(fov,stack,channel) pixels and a 2x2-blob-on-4-grid
  // label law make EVERY census integer-exact and SQL-expressible:
  //   - bilinear resize of a constant is exactly that constant (the 4
  //     dyadic weights sum to 1 in double arithmetic);
  //   - nearest-neighbor 2x upscale is index-halving: out(r,c) =
  //     law(r/2, c/2) — so the oracle REPLAYS the whole resize+pad+
  //     tile geometry in DuckDB from generate_series, pinning real
  //     numbers, not verdict booleans.
  // 25x31 planes force both the resize (ratio 2 > tolerance 1.5) and
  // a non-trivial pad (50x62 -> 64x64) before the 4x4 tiling.
  // ===================================================================

  private val RsRows = 25; private val RsCols = 31

  private def rsConst(fi: Int, st: Int, ch: Int): Float =
    (1 + fi * 4 + st * 2 + ch).toFloat

  private def rsLabel(r: Int, c: Int): Int =
    if (r % 4 < 2 && c % 4 < 2) (r / 4) * 8 + (c / 4) + 1 else 0

  private def qImgReshapeDigest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val planes = for {
      (fov, fi) <- RcFovs.zipWithIndex; st <- 0 until 2
    } yield ImagePlane(fov, st, 0, 0, RsRows, RsCols, RcChans,
      Array.tabulate(RcChans.length * RsRows * RsCols) { i =>
        rsConst(fi, st, i / (RsRows * RsCols))
      },
      Array.tabulate(RsRows * RsCols)(i => rsLabel(i / RsCols, i % RsCols)))
    val tiles = ImageResize.reshapeForTraining(
      ImagePlane.toDataset(s, planes), 16, 16, resizeRatio = 2.0)
    tiles.map { p =>
      val (labNnz, labSum, labMax, _) = census(p.labels.map(_.toFloat))
      val (pxNnz, pxSum, _, _) = census(p.pixels)
      (p.fov, p.stack, p.crop, p.nRows, p.nCols, labNnz, labSum, labMax,
        pxNnz, pxSum)
    }.toDF("fov", "stack", "crop", "n_rows", "n_cols", "lab_nnz",
      "lab_sum", "lab_max", "px_nnz", "px_sum")
      .orderBy("fov", "stack", "crop")
  }

  // ===================================================================
  // S13/S14 digest (save_stitched_npzs pipeline.py:54-67,
  // create_combined_npz pipeline.py:70-110): write BOTH single-file
  // sinks from the same law fixture, read each back through the NPZ
  // source, and emit full per-plane censuses. The law is pure
  // arithmetic, so the oracle replays every census (including the
  // position-weighted checksum — order-sensitive, catching channel-
  // last repack or row-order slips) in DuckDB from generate_series.
  // Combined rows are mapped back to (fov, stack) through the sink's
  // documented (fov, crop, slice, stack) sort order.
  // ===================================================================

  private val SkRows = 12; private val SkCols = 17; private val SkStacks = 3

  private def skPixel(fi: Int, st: Int, i: Int): Float =
    ((i + st * 7 + fi * 19) % 101).toFloat

  private def skLabel(fi: Int, st: Int, i: Int): Int =
    if ((i + st + fi) % 5 == 0) i % 7 + 1 else 0

  private def qNpzSinksDigest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val planes = for {
      (fov, fi) <- RcFovs.zipWithIndex; st <- 0 until SkStacks
    } yield ImagePlane(fov, st, 0, 0, SkRows, SkCols, Seq("channel0"),
      Array.tabulate(SkRows * SkCols)(skPixel(fi, st, _)),
      Array.tabulate(SkRows * SkCols)(skLabel(fi, st, _)))
    val ds = ImagePlane.toDataset(s, planes)
    val tmp = graft.core.Scratch.dir(s, "npz_sinks")
    graft.ops.Pipeline.saveStitchedNpzs(ds, s"$tmp/stitched")
    Npz.createCombinedNpz(ds, s"$tmp/combined/combined.npz")
    def rows(ds2: org.apache.spark.sql.Dataset[ImagePlane], mode: String,
             remap: ImagePlane => (String, Int)): DataFrame =
      ds2.map { p =>
        val (fov, stack) = remap(p)
        val (pxN, pxS, pxM, pxC) = census(p.pixels)
        val (lbN, lbS, lbM, lbC) = census(p.labels.map(_.toFloat))
        (mode, fov, stack, p.nRows, p.nCols, pxN, pxS, pxM, pxC,
          lbN, lbS, lbM, lbC)
      }.toDF("mode", "fov", "stack", "n_rows", "n_cols", "px_nnz",
        "px_sum", "px_max", "px_chk", "lab_nnz", "lab_sum", "lab_max",
        "lab_chk")
    val stitched = rows(Npz.readTrainingNpzDir(s, s"$tmp/stitched"),
      "stitched", p => (p.fov, p.stack))
    // combined row b -> (fov, stack) through the sink's sort order
    val combined = rows(Npz.readTrainingNpzDir(s, s"$tmp/combined"),
      "combined", p => (RcFovs(p.stack / SkStacks), p.stack % SkStacks))
    stitched.union(combined).orderBy("mode", "fov", "stack")
  }

  // ===================================================================
  // P4 digest (_clean_labels dataset_builder.py:397-439): connected-
  // components relabel + remove_small_objects + min-objects image
  // filter over a law fixture whose CC census DuckDB replays a priori.
  // Every plane's foreground shares ONE input label id, so the output
  // census is nonzero only if CC genuinely splits it; blobs are
  // U-shaped (two scan-order provisional labels merged at the base),
  // so the union-find path is load-bearing; dense output ids follow
  // scan order, so lab_sum/lab_max/lab_chk pin the id ASSIGNMENT, not
  // just the component count; 1-px speckles are dropped by the size
  // threshold and low-blob planes by the min-objects filter.
  // ===================================================================

  private val ClN = 16 // clean-digest plane edge

  /** Blobs on plane (fi, st): j-th blob is a 7-px "U" in the 3x3 cell
    * at rows 4*(j/2)+, cols 4*(j%2)+ — relative offsets below.
    */
  private val clBlobOffsets =
    Seq((0, 0), (0, 2), (1, 0), (1, 2), (2, 0), (2, 1), (2, 2))

  private def clPlanes: Seq[ImagePlane] =
    for {
      (fov, fi) <- Seq("fovA", "fovB", "fovC", "fovD").zipWithIndex
      st <- 0 until 3
    } yield {
      val nb = (fi + st) % 5
      val sp = (fi + st) % 3
      val labels = new Array[Int](ClN * ClN)
      for (j <- 0 until nb; (dr, dc) <- clBlobOffsets)
        labels((4 * (j / 2) + dr) * ClN + (4 * (j % 2) + dc)) = 1
      for (k <- 0 until sp) labels(14 * ClN + 2 + 4 * k) = 1
      ImagePlane(fov, st, 0, 0, ClN, ClN, Seq("channel0"),
        Array.fill(ClN * ClN)(1.0f), labels)
    }

  private def qImgCleanDigest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cleaned = graft.ops.LabelClean.cleanLabels(
      ImagePlane.toDataset(s, clPlanes),
      relabelCC = true, smallObjectThreshold = 4, minObjects = 2)
    cleaned.map { p =>
      val (nnz, sum, mx, chk) = census(p.labels.map(_.toFloat))
      val nCells = p.labels.filter(_ != 0).distinct.length.toLong
      (p.fov, p.stack, nCells, nnz, sum, mx, chk)
    }.toDF("fov", "stack", "n_cells", "lab_nnz", "lab_sum", "lab_max",
      "lab_chk")
      .orderBy("fov", "stack")
  }

  // ===================================================================
  // S1-S4/S9 digest: the ontology-tree source family (scanOntology's
  // DSv2 walk + loadMetadata's per-experiment JSON enrichment) over
  // the COMMITTED copy of the reference's raw_data tree
  // (fixtures/ontology, verbatim from data/raw_data of the upstream
  // vanvalenlab/deepcell-data-engineering repository, like the TIFF
  // fixtures). One row per experiment directory: the
  // file census (count / byte total / lexical-first name from the
  // scan) full-outer-joined to the metadata census (space-joined
  // ontology string, TYPE join, dims, channel-0 marker, facility).
  // The oracle pins VALUES derived independently from the committed
  // tree + raw JSON text (tif sizes from the directory listing, JSON
  // fields read straight from the files), so a walk regression
  // (missed level, wrong Compartment_Marker split, dropped
  // metadata-only dir) or an enrichment slip (space-join, unwrap,
  // per-file dropna) fails the hash. SF-independent, fixture-driven.
  // ===================================================================

  private def qSrcOntologyDigest(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val base = s"$fixturesRoot/ontology/raw_data"
    // paths come back scheme-qualified and machine-absolute; key on the
    // tree-relative dir so the digest is stable anywhere
    def relDir(p: org.apache.spark.sql.Column) =
      regexp_extract(p, "raw_data/(.*?)/?$", 1)
    val files = Tiff.scanOntology(s, base)
      .withColumn("d", regexp_extract(col("path"), "^(.*)/[^/]+$", 1))
      .groupBy(relDir(col("d")).as("rel_dir"))
      .agg(count(lit(1)).as("n_tifs"), sum("length").as("tif_bytes"),
        min("file_name").as("first_file"))
    val md = Tiff.loadMetadata(s, base)
      .select(relDir(col("image_path")).as("rel_dir"),
        col("EXP_ID").as("exp_id"), col("ONTOLOGY").as("ontology"),
        col("TYPE").as("type"),
        col("DIMENSIONS").getField("X").as("dim_x"),
        col("DIMENSIONS").getField("Y").as("dim_y"),
        col("CHANNEL_MARKER").getField("0").as("marker0"),
        col("RAW_DATA_ORIGIN").getField("FACILITY").as("facility"))
    files.join(md, Seq("rel_dir"), "full_outer")
      .select(col("rel_dir"),
        coalesce(col("n_tifs"), lit(0L)).as("n_tifs"),
        coalesce(col("tif_bytes"), lit(0L)).as("tif_bytes"),
        coalesce(col("first_file"), lit("")).as("first_file"),
        col("exp_id").isNotNull.as("has_metadata"),
        col("exp_id"), col("ontology"), col("type"),
        col("dim_x"), col("dim_y"), col("marker0"), col("facility"))
      .orderBy("rel_dir")
  }

  // ===================================================================
  // TAR-shard digest (beyond-reference: the WebDataset sharded-archive
  // layout multimodal training pipelines read): the distributed
  // binaryFile scan + pure-JVM ustar walk over the committed law
  // fixture (fixtures/tarshard, tools/gen_tarshards.py). Entry (s, i)
  // has length 64 + 16i + 8s and byte j = (7j + 13i + 19s) % 251 —
  // pure arithmetic, so DuckDB replays every census (length, nonzero
  // count, byte sum, position-weighted checksum) from generate_series,
  // sharing NO code with the engine's parser: a header-walk slip
  // (octal size, 512-padding, entry order) fails the hash.
  // ===================================================================

  private def qSrcTarDigest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.sources.TarShards
      .readTarDir(s, s"$fixturesRoot/tarshard")
      .as[(String, Int, String, Long, Array[Byte])]
      .map { case (shard, idx, entry, nBytes, content) =>
        val P = 1000000007L
        var nnz = 0L; var sum = 0L; var chk = 0L
        var j = 0
        while (j < content.length) {
          val v = content(j) & 0xff
          if (v != 0) nnz += 1
          sum += v
          chk = (chk + (j + 1).toLong * v % P) % P
          j += 1
        }
        (shard, idx, entry, nBytes, nnz, sum, chk)
      }
      .toDF("shard", "idx", "entry", "n_bytes", "nnz", "byte_sum", "chk")
      .orderBy("shard", "idx")
  }

  /** Sample-assembly digest over the multi-entry fixture shards
    * (fixtures/tarshard/samples, tools/gen_tarshards.py): one row per
    * WebDataset SAMPLE — adjacent same-key entries folded map-side by
    * [[graft.sources.TarShards.readSamples]]. The fixture's m == 5
    * keys are 116 chars, so shard 0 (PAX format) exercises the 'x'
    * path/size records and shard 1 (GNU format) the 'L' long-name
    * header INSIDE the oracle gate — a parser that drops or truncates
    * long names loses two samples and fails the hash. The checksum is
    * ext-salted ((ei*1000003 + j + 1)·v) so entry identity within the
    * sample is pinned, not just the byte multiset.
    */
  /** The sample-law census, shared by the batch scan and its
    * streaming-ingest twin so both gates replay the same law.
    */
  private def tarSampleCensus(samples: DataFrame): DataFrame = {
    import samples.sparkSession.implicits._
    val eiOf = Map("img" -> 0, "json" -> 1, "txt" -> 2)
    samples
      .as[(String, Int, String, Seq[String], Map[String, Array[Byte]])]
      .map { case (shard, sidx, key, exts, entries) =>
        val P = 1000000007L
        var nBytes = 0L; var chk = 0L
        exts.foreach { ext =>
          val ei = eiOf(ext)
          val content = entries(ext)
          nBytes += content.length
          var j = 0
          while (j < content.length) {
            val v = content(j) & 0xff
            chk = (chk + (ei.toLong * 1000003L + j + 1) * v % P) % P
            j += 1
          }
        }
        (shard, sidx, key, exts.length, exts.mkString(","), nBytes, chk)
      }
      .toDF("shard", "sidx", "key", "n_entries", "exts", "n_bytes", "chk")
      .orderBy("shard", "sidx")
  }

  private def qSrcTarSamples(s: SparkSession, dir: String): DataFrame =
    tarSampleCensus(
      graft.sources.TarShards.readSamples(s, s"$fixturesRoot/tarshard/samples"))

  /** Streaming twin of [[qSrcTarSamples]]: the same shards ingested
    * one per micro-batch through the file stream source
    * ([[graft.streaming.StreamOps.tarSampleIngest]]) and censused by
    * the SAME law — plus `multi_batch` pinned TRUE by the oracle, so
    * the gate also proves ingest was incremental (2 shards → ≥2
    * micro-batches), not a single gulp.
    */
  private def qStreamTarIngest(s: SparkSession, dir: String): DataFrame = {
    val ingest = graft.streaming.StreamOps
      .tarSampleIngest(s, s"$fixturesRoot/tarshard/samples")
    tarSampleCensus(ingest.result)
      .withColumn("multi_batch", lit(ingest.numBatches >= 2))
  }

  /** Write→read round trip through the TAR-shard SINK: the documents
    * table becomes WebDataset samples (key doc_########, a .txt entry
    * with the text bytes and a .meta entry with lang|source), sharded
    * doc_id % 16, written once as real archives via
    * [[graft.sources.TarShards.writeShards]] (Scratch-routed dir,
    * executor-side Hadoop-FS writes), then read back through the
    * independent [[graft.sources.TarShards.readSamples]] scan. The
    * census is computed ONLY from the read-back rows while the oracle
    * computes it DIRECTLY from the documents table — per-entry md5
    * prefixes (ext-weighted) pin byte-exact payloads, so any
    * encoder/parser asymmetry (header arithmetic, padding, sample
    * grouping, entry order) fails the hash. This is the NPZ
    * round-trip convention applied to the WebDataset layout.
    */
  /** Documents-as-WebDataset-samples frame shared by the tar sink
    * gates: key doc_########, a .txt entry with the text bytes and a
    * .meta entry with lang|source. `shardCol` picks the routing.
    */
  private def docSamples(s: SparkSession, dir: String,
      shardCol: org.apache.spark.sql.Column,
      shardName: String = "shard"): DataFrame =
    Q.t(s, dir, "documents").select(
      shardCol.as(shardName),
      concat(lit("doc_"),
        lpad(col("doc_id").cast("string"), 8, "0")).as("key"),
      array(lit("txt"), lit("meta")).as("exts"),
      map(
        lit("txt"), encode(col("text"), "UTF-8"),
        lit("meta"),
        encode(concat_ws("|", col("lang"), col("source")), "UTF-8")
      ).as("entries"))

  /** Per-shard payload census via the independent [[graft.sources
    * .TarShards.readSamples]] scan — per-entry md5 prefixes
    * (ext-weighted) pin byte-exact payloads. Shared by the roundtrip /
    * gzip / reshard gates, whose oracles compute the same census
    * DIRECTLY from the documents table.
    */
  private def tarReadbackCensus(s: SparkSession, out: String,
      glob: String): DataFrame = {
    val P = 1000000007L
    graft.sources.TarShards.readSamples(s, out, glob)
      .select(col("shard"), col("key"),
        posexplode(col("exts")).as(Seq("ei", "ext")), col("entries"))
      .select(col("shard"), col("key"), col("ei"),
        element_at(col("entries"), col("ext")).as("payload"))
      .select(col("shard"), col("key"),
        length(col("payload")).cast("long").as("n_bytes"),
        ((col("ei") + 1) *
          conv(substring(md5(col("payload")), 1, 8), 16, 10).cast("long")
          % P).as("term"))
      .groupBy("shard")
      .agg(countDistinct(col("key")).as("n_samples"),
        count(lit(1)).as("n_entries"),
        sum(col("n_bytes")).as("n_bytes"),
        (sum(col("term")) % P).as("chk"))
      .orderBy("shard")
  }

  private def qSrcTarRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val out = graft.core.Scratch.dir(s, "tar-roundtrip")
    val samples = docSamples(s, dir,
      concat(lit("shard-"),
        lpad((col("doc_id") % 16).cast("string"), 3, "0"),
        lit(".tar")))
    graft.sources.TarShards.writeShards(samples, out)
    tarReadbackCensus(s, out, "*.tar")
  }

  /** The COMPRESSED-shard round trip: same law as [[qSrcTarRoundtrip]]
    * but the sink writes `*.tar.gz` (deterministic JDK gzip, MTIME=0)
    * and the read-back scan inflates by magic byte — so a compression
    * asymmetry, a header-time nondeterminism, or a reader that chokes
    * on compressed shards fails the hash. 8 shards instead of 16 so
    * the two gates also differ structurally, not just in codec. The
    * oracle never sees the compression: it censuses the documents
    * table directly, which is the point — gzip must be a transparent
    * transport layer.
    */
  private def qSrcTarGzip(s: SparkSession, dir: String): DataFrame = {
    val out = graft.core.Scratch.dir(s, "tar-gzip")
    val samples = docSamples(s, dir,
      concat(lit("shard-"),
        lpad((col("doc_id") % 8).cast("string"), 3, "0"),
        lit(".tar.gz")))
    graft.sources.TarShards.writeShards(samples, out)
    tarReadbackCensus(s, out, "*.tar.gz")
  }

  /** Size-targeted WebDataset RESHARD gate ([[graft.sources.TarShards
    * .reshardBySize]]): documents become samples grouped by `source`,
    * packed into ~16 KiB output shards by the boundary-by-start-offset
    * law (cumulative archive footprint — 512-byte header + 512-padded
    * payload per entry — in key order within the source), written as
    * real archives and read back through the independent sample scan.
    * The oracle replays the ASSIGNMENT LAW ITSELF from the documents
    * table (the cumsum, the floor-division binning, the shard naming)
    * plus the byte-exact payload census — so a wrong footprint
    * formula, a mis-ordered cumsum, or an off-by-one bin boundary
    * moves a sample to a different shard and fails the hash, not just
    * a row count. 16 KiB targets ~3-4 bins per source at sf0.01
    * (real boundary crossings at the smallest gate scale) and stays
    * linear to sf1; production targeting (~1 GB) is pure parameter.
    */
  private def qSrcTarReshard(s: SparkSession, dir: String): DataFrame = {
    val out = graft.core.Scratch.dir(s, "tar-reshard")
    val samples = docSamples(s, dir, col("source"), shardName = "group")
    val sharded = graft.sources.TarShards.reshardBySize(samples, 16384L)
    graft.sources.TarShards.writeShards(sharded, out)
    tarReadbackCensus(s, out, "*.tar")
  }

  /** Gzipped-JSONL corpus round trip with corrupt-record routing —
    * the OTHER standard LLM-corpus interchange format beside the
    * WebDataset tar family: documents write as 8 hash-routed
    * `.json.gz` shards (Spark's native JSON sink; gzip is the
    * dominant wild format even though it is NOT splittable — at
    * 100 TB parallelism is per-shard, thousands of ~file-sized
    * shards, exactly how The Pile / C4 / RedPajama ship, with zstd
    * the drop-in when re-encoding is allowed). Read-back enforces an
    * EXPLICIT schema in PERMISSIVE mode with a `_corrupt_record`
    * column, and the law plants three malformed lines (truncated
    * JSON, non-JSON, bare brace-garbage) in the read path: a real
    * web-scale corpus ALWAYS carries broken lines, and the routing
    * contract — parse what parses, quarantine the rest with the raw
    * line preserved, never crash the job — is what this gate pins:
    * the per-lang census (count, char mass, md5-prefix checksum)
    * must match the source table byte-exactly (codec and JSON
    * escaping are transparent transport), and the `_CORRUPT` row
    * must count exactly the planted lines.
    */
  private def qSrcJsonl(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val out = graft.core.Scratch.dir(s, "jsonl")
    t(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("source"), col("text"))
      .repartition(8, col("doc_id"))
      .write.mode("overwrite").option("compression", "gzip")
      .json(s"$out/clean")
    val bad = Seq(
      """{"doc_id": 999999901, "lang": "xx", "source": "bad", "text": "trunc""",
      "this line is not json",
      "{bad}")
    s.createDataFrame(
      s.sparkContext.parallelize(bad.map(org.apache.spark.sql.Row(_)), 1),
      StructType(Seq(StructField("value", StringType))))
      .write.mode("overwrite").text(s"$out/bad")
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("lang", StringType),
      StructField("source", StringType), StructField("text", StringType),
      StructField("_corrupt_record", StringType)))
    val back = s.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(s"$out/clean", s"$out/bad")
    val P = 1000000007L
    // ONE aggregation over a quarantine-or-language key: Spark bans
    // plans whose referenced columns are ONLY the corrupt-record
    // column (QUERY_ONLY_CORRUPT_RECORD_COLUMN), so the corrupt rows
    // are censused in the same pass as the clean ones, which is also
    // the single-scan shape you want over thousands of gzip shards.
    val isBad = col("_corrupt_record").isNotNull
    back
      .withColumn("k", when(isBad, lit("_CORRUPT")).otherwise(col("lang")))
      .groupBy("k")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(isBad, 0L)
          .otherwise(length(col("text")).cast("long"))).as("sum_chars"),
        (sum(when(isBad, 0L)
          .otherwise(conv(substring(md5(col("text")), 1, 8), 16, 10)
            .cast("long") % P)) % P).as("chk"))
      .select(col("k").as("lang"), col("n_docs"), col("sum_chars"),
        col("chk"))
      .orderBy("lang")
  }

  /** Gzipped-CSV corpus round trip with quarantine — the jsonl law's
    * sibling for the other interchange format bulk exports still
    * arrive in: headerless 8-shard gzip CSV out of the native sink
    * (the writer QUOTES fields carrying separators/quotes/escapes, so
    * arbitrary text survives — the spec plants a comma-and-quote-
    * heavy document to pin it), read back under an explicit schema in
    * PERMISSIVE mode. The quarantine law differs from JSON by
    * NECESSITY, measured not assumed: Spark's CSV parser coerces
    * token-count/type mismatches and even unclosed quotes to nulls
    * without setting `_corrupt_record`, so the CSV gate quarantines
    * on parser flag OR the NOT-NULL schema contract on (doc_id,
    * text) — the post-parse contract check every production CSV
    * ingest pairs with the parser. Census identical to the jsonl
    * gate: per-lang counts + char mass + md5-prefix checksum must
    * equal the source table byte-exactly, `_CORRUPT` counts exactly
    * the three planted violations, one aggregation pass for both.
    */
  private def qSrcCsv(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val out = graft.core.Scratch.dir(s, "csvshards")
    t(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("source"), col("text"))
      .repartition(8, col("doc_id"))
      .write.mode("overwrite").option("compression", "gzip")
      .option("header", "false").csv(s"$out/clean")
    // PERMISSIVE CSV is far more lenient than JSON: token-count and
    // type mismatches — even unclosed quotes — coerce to nulls or
    // absorbed text WITHOUT setting _corrupt_record (all measured).
    // So the CSV quarantine is a SCHEMA CONTRACT, not a parser flag:
    // rows violating the NOT-NULL contract on (doc_id, text) route to
    // quarantine post-parse — which is how production CSV ingests
    // actually work (the parser can't refuse, the contract must).
    // Three planted violations: missing text, unparseable key, short
    // row.
    val bad = Seq(
      "90000001,xx,bad,",
      "notanumber,xx,bad,some text here",
      "90000003,xx")
    s.createDataFrame(
      s.sparkContext.parallelize(bad.map(org.apache.spark.sql.Row(_)), 1),
      StructType(Seq(StructField("value", StringType))))
      .write.mode("overwrite").text(s"$out/bad")
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("lang", StringType),
      StructField("source", StringType), StructField("text", StringType),
      StructField("_corrupt_record", StringType)))
    val back = s.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .option("header", "false")
      .csv(s"$out/clean", s"$out/bad")
    val P = 1000000007L
    // quarantine = parser flag (rare for CSV) OR contract violation
    val isBad = col("_corrupt_record").isNotNull ||
      col("doc_id").isNull || col("text").isNull
    back
      .withColumn("k", when(isBad, lit("_CORRUPT")).otherwise(col("lang")))
      .groupBy("k")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(isBad, 0L)
          .otherwise(length(col("text")).cast("long"))).as("sum_chars"),
        (sum(when(isBad, 0L)
          .otherwise(conv(substring(md5(col("text")), 1, 8), 16, 10)
            .cast("long") % P)) % P).as("chk"))
      .select(col("k").as("lang"), col("n_docs"), col("sum_chars"),
        col("chk"))
      .orderBy("lang")
  }

  /** The TIFF oracle rows are INDEPENDENTLY derived: a raw IFD walk
    * (byte-order header, strip offsets/counts, int16 samples) over the
    * committed fixtures, sharing zero code with the JDK ImageIO path
    * the engine uses — see tools/tiff_digest.py for the derivation.
    * The NPZ oracle pins the a-priori roundtrip relation: every census
    * verdict TRUE, 16 grid rows (14 roundtrip + 2 zero-filled for the
    * routed-away blank unit) + 2 separate/ rows.
    */
  val registry: Seq[QueryDef] = Seq(
    // Full generate_series replay of the tar-shard law — engine parser
    // and oracle share no code path.
    QueryDef("q_src_tar_digest", qSrcTarDigest,
      """WITH e AS (
        |  SELECT s.s, i.i, 64 + 16 * i.i + 8 * s.s AS n
        |  FROM generate_series(0, 1) s(s), generate_series(0, 9) i(i)),
        |b AS (
        |  SELECT s, i, n, j.j,
        |         (7 * j.j + 13 * i + 19 * s) % 251 AS v
        |  FROM e, unnest(range(0, n)) AS j(j))
        |SELECT 'shard-00' || s || '.tar' AS shard, CAST(i AS INT) AS idx,
        |       'doc_' || s || '_' || lpad(CAST(i AS VARCHAR), 3, '0')
        |         || '.txt' AS entry,
        |       CAST(n AS BIGINT) AS n_bytes,
        |       CAST(sum(CASE WHEN v != 0 THEN 1 ELSE 0 END) AS BIGINT) AS nnz,
        |       CAST(sum(v) AS BIGINT) AS byte_sum,
        |       CAST(sum((j + 1) * v % 1000000007) % 1000000007 AS BIGINT)
        |         AS chk
        |FROM b GROUP BY s, i, n
        |ORDER BY shard, idx""".stripMargin),
    // Sample-assembly law replay — key (incl. the 116-char long-name
    // cases), entry count/order, byte totals and the ext-salted
    // checksum all from generate_series; no parser code shared.
    QueryDef("q_src_tar_samples", qSrcTarSamples,
      """WITH sm AS (
        |  SELECT s.s, m.m,
        |         CASE WHEN m.m = 5
        |              THEN 'k' || s.s || '_05_' || repeat('x', 110)
        |              ELSE 'k' || s.s || '_0' || m.m END AS key,
        |         CASE WHEN m.m % 2 = 0 THEN 3 ELSE 2 END AS ne
        |  FROM generate_series(0, 1) s(s), generate_series(0, 5) m(m)),
        |en AS (
        |  SELECT s, m, key, ne, e.ei, 48 + 8 * m + 4 * e.ei + 2 * s AS n
        |  FROM sm, generate_series(0, 2) e(ei) WHERE e.ei < ne),
        |ec AS (
        |  SELECT s, m, key, ne, ei, n,
        |         (SELECT sum((ei * 1000003 + j.j + 1)
        |                     * ((5 * j.j + 11 * m + 23 * s + 31 * ei) % 251)
        |                     % 1000000007)
        |          FROM unnest(range(0, n)) AS j(j)) AS chk_e
        |  FROM en)
        |SELECT 'sample-00' || s || '.tar' AS shard, CAST(m AS INT) AS sidx,
        |       key, CAST(ne AS INT) AS n_entries,
        |       CASE WHEN ne = 3 THEN 'img,json,txt'
        |            ELSE 'img,json' END AS exts,
        |       CAST(sum(n) AS BIGINT) AS n_bytes,
        |       CAST(sum(chk_e) % 1000000007 AS BIGINT) AS chk
        |FROM ec GROUP BY s, m, key, ne
        |ORDER BY shard, sidx""".stripMargin),
    // The streaming-ingest twin shares the batch sample law verbatim
    // (stateless assembly: append emission is total), plus the
    // incrementality verdict pinned TRUE.
    QueryDef("q_stream_tar_ingest", qStreamTarIngest,
      """WITH sm AS (
        |  SELECT s.s, m.m,
        |         CASE WHEN m.m = 5
        |              THEN 'k' || s.s || '_05_' || repeat('x', 110)
        |              ELSE 'k' || s.s || '_0' || m.m END AS key,
        |         CASE WHEN m.m % 2 = 0 THEN 3 ELSE 2 END AS ne
        |  FROM generate_series(0, 1) s(s), generate_series(0, 5) m(m)),
        |en AS (
        |  SELECT s, m, key, ne, e.ei, 48 + 8 * m + 4 * e.ei + 2 * s AS n
        |  FROM sm, generate_series(0, 2) e(ei) WHERE e.ei < ne),
        |ec AS (
        |  SELECT s, m, key, ne, ei, n,
        |         (SELECT sum((ei * 1000003 + j.j + 1)
        |                     * ((5 * j.j + 11 * m + 23 * s + 31 * ei) % 251)
        |                     % 1000000007)
        |          FROM unnest(range(0, n)) AS j(j)) AS chk_e
        |  FROM en)
        |SELECT 'sample-00' || s || '.tar' AS shard, CAST(m AS INT) AS sidx,
        |       key, CAST(ne AS INT) AS n_entries,
        |       CASE WHEN ne = 3 THEN 'img,json,txt'
        |            ELSE 'img,json' END AS exts,
        |       CAST(sum(n) AS BIGINT) AS n_bytes,
        |       CAST(sum(chk_e) % 1000000007 AS BIGINT) AS chk,
        |       TRUE AS multi_batch
        |FROM ec GROUP BY s, m, key, ne
        |ORDER BY shard, sidx""".stripMargin, eager = true), // stream drain at construction
    // CSV round-trip law: identical to the jsonl gate — codec and CSV
    // quoting are transparent transport; three planted malformed
    // lines quarantine.
    QueryDef("q_src_csv", qSrcCsv,
      """WITH c AS (
        |  SELECT lang, count(*) AS n_docs,
        |    CAST(sum(length(text)) AS BIGINT) AS sum_chars,
        |    CAST(sum(('0x' || substr(md5(text), 1, 8))::BIGINT
        |             % 1000000007) % 1000000007 AS BIGINT) AS chk
        |  FROM documents GROUP BY 1)
        |SELECT lang, n_docs, sum_chars, chk FROM c
        |UNION ALL
        |SELECT '_CORRUPT', CAST(3 AS BIGINT), CAST(0 AS BIGINT),
        |       CAST(0 AS BIGINT)
        |ORDER BY lang""".stripMargin, eager = true), // gzip CSV sink write at construction
    // JSONL round-trip law: the read-back census must equal this
    // DIRECT census of the source table (codec + JSON escaping are
    // transparent transport), plus exactly the three planted corrupt
    // lines in quarantine.
    QueryDef("q_src_jsonl", qSrcJsonl,
      """WITH c AS (
        |  SELECT lang, count(*) AS n_docs,
        |    CAST(sum(length(text)) AS BIGINT) AS sum_chars,
        |    CAST(sum(('0x' || substr(md5(text), 1, 8))::BIGINT
        |             % 1000000007) % 1000000007 AS BIGINT) AS chk
        |  FROM documents GROUP BY 1)
        |SELECT lang, n_docs, sum_chars, chk FROM c
        |UNION ALL
        |SELECT '_CORRUPT', CAST(3 AS BIGINT), CAST(0 AS BIGINT),
        |       CAST(0 AS BIGINT)
        |ORDER BY lang""".stripMargin, eager = true), // gzip JSONL sink write at construction
    // Gzip round-trip law: identical to the raw round trip (the codec
    // must be a transparent transport layer — the oracle censuses the
    // source table directly and never sees the compression), with the
    // 8-way routing and the .tar.gz naming.
    QueryDef("q_src_tar_gzip", qSrcTarGzip,
      """WITH s AS (
        |  SELECT doc_id,
        |    'shard-' || lpad(CAST(doc_id % 8 AS VARCHAR), 3, '0')
        |      || '.tar.gz' AS shard,
        |    'doc_' || lpad(CAST(doc_id AS VARCHAR), 8, '0') AS key,
        |    text, lang || '|' || source AS meta
        |  FROM documents),
        |e AS (SELECT shard, key, 0 AS ei, text AS payload FROM s
        |      UNION ALL SELECT shard, key, 1, meta FROM s)
        |SELECT shard, CAST(count(DISTINCT key) AS BIGINT) AS n_samples,
        |  CAST(count(*) AS BIGINT) AS n_entries,
        |  CAST(sum(strlen(payload)) AS BIGINT) AS n_bytes,
        |  CAST(sum((ei + 1) * (('0x' || substr(md5(payload), 1, 8))::BIGINT)
        |           % 1000000007) % 1000000007 AS BIGINT) AS chk
        |FROM e GROUP BY shard ORDER BY shard""".stripMargin,
      eager = true), // gzip shard-sink write at construction
    // Reshard law: the bin-boundary ASSIGNMENT is replayed from the
    // documents table — archive footprint per sample (512-byte header
    // + 512-padded payload per entry), per-source cumsum in key order,
    // floor-division binning at 16384, shard naming — then the same
    // byte-exact md5 census per OUTPUT shard.
    QueryDef("q_src_tar_reshard", qSrcTarReshard,
      """WITH s AS (
        |  SELECT doc_id, source,
        |    'doc_' || lpad(CAST(doc_id AS VARCHAR), 8, '0') AS key,
        |    text, lang || '|' || source AS meta,
        |    512 + ((strlen(text) + 511) // 512) * 512
        |      + 512 + ((strlen(lang || '|' || source) + 511) // 512) * 512
        |      AS tb
        |  FROM documents),
        |a AS (
        |  SELECT s.*, coalesce(sum(tb) OVER (PARTITION BY source
        |    ORDER BY key ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |    0) AS start_off
        |  FROM s),
        |sh AS (
        |  SELECT source || '-'
        |           || lpad(CAST(start_off // 16384 AS VARCHAR), 5, '0')
        |           || '.tar' AS shard,
        |         key, text, meta FROM a),
        |e AS (SELECT shard, key, 0 AS ei, text AS payload FROM sh
        |      UNION ALL SELECT shard, key, 1, meta FROM sh)
        |SELECT shard, CAST(count(DISTINCT key) AS BIGINT) AS n_samples,
        |  CAST(count(*) AS BIGINT) AS n_entries,
        |  CAST(sum(strlen(payload)) AS BIGINT) AS n_bytes,
        |  CAST(sum((ei + 1) * (('0x' || substr(md5(payload), 1, 8))::BIGINT)
        |           % 1000000007) % 1000000007 AS BIGINT) AS chk
        |FROM e GROUP BY shard ORDER BY shard""".stripMargin,
      eager = true), // size-targeted reshard + sink write at construction
    // Round-trip law: the read-back census must equal this DIRECT
    // census of the source table — byte-exactness via md5 prefixes.
    QueryDef("q_src_tar_roundtrip", qSrcTarRoundtrip,
      """WITH s AS (
        |  SELECT doc_id,
        |    'shard-' || lpad(CAST(doc_id % 16 AS VARCHAR), 3, '0')
        |      || '.tar' AS shard,
        |    'doc_' || lpad(CAST(doc_id AS VARCHAR), 8, '0') AS key,
        |    text, lang || '|' || source AS meta
        |  FROM documents),
        |e AS (SELECT shard, key, 0 AS ei, text AS payload FROM s
        |      UNION ALL SELECT shard, key, 1, meta FROM s)
        |SELECT shard, CAST(count(DISTINCT key) AS BIGINT) AS n_samples,
        |  CAST(count(*) AS BIGINT) AS n_entries,
        |  CAST(sum(strlen(payload)) AS BIGINT) AS n_bytes,
        |  CAST(sum((ei + 1) * (('0x' || substr(md5(payload), 1, 8))::BIGINT)
        |           % 1000000007) % 1000000007 AS BIGINT) AS chk
        |FROM e GROUP BY shard ORDER BY shard""".stripMargin,
      eager = true), // shard-sink write at construction
    // Full DuckDB replay of the clean-labels law: blob j of plane
    // (fi, st) gets dense CC id j+1 (scan order), 7 px each at known
    // positions; speckles (area 1 < 4) vanish; planes with nb < 2
    // blobs are dropped by the min-objects filter. The checksum pins
    // exact (position, id) assignment.
    QueryDef("q_img_clean_digest", qImgCleanDigest,
      """WITH plane AS (
        |  SELECT f.fi, f.fov, st.stack, (f.fi + st.stack) % 5 AS nb
        |  FROM (VALUES (0, 'fovA'), (1, 'fovB'), (2, 'fovC'),
        |               (3, 'fovD')) f(fi, fov),
        |       generate_series(0, 2) st(stack)),
        |px AS (
        |  SELECT p.fov, p.stack, p.nb, j.j + 1 AS lab,
        |         (4 * (j.j // 2) + o.dr) * 16 + 4 * (j.j % 2) + o.dc AS i
        |  FROM plane p, generate_series(0, 4) j(j),
        |       (VALUES (0, 0), (0, 2), (1, 0), (1, 2), (2, 0), (2, 1),
        |               (2, 2)) o(dr, dc)
        |  WHERE j.j < p.nb AND p.nb >= 2)
        |SELECT fov, stack, CAST(nb AS BIGINT) AS n_cells,
        |       CAST(count(*) AS BIGINT) AS lab_nnz,
        |       CAST(sum(lab) AS BIGINT) AS lab_sum,
        |       CAST(max(lab) AS BIGINT) AS lab_max,
        |       CAST(sum(((i + 1) * lab) % 1000000007) % 1000000007
        |         AS BIGINT) AS lab_chk
        |FROM px GROUP BY fov, stack, nb
        |ORDER BY fov, stack""".stripMargin),
    // VALUES derived from the committed fixtures/ontology tree itself:
    // 3 tifs x 524,556 bytes per DCIS marker dir (directory listing),
    // metadata fields read from the raw JSON text (TYPE/ONTOLOGY
    // space-joined verbatim, single-element wrappers unwrapped) —
    // independent of the engine's walk and JSON paths.
    QueryDef("q_src_ontology_digest", qSrcOntologyDigest,
      """SELECT * FROM (VALUES
        |  ('dynamic/2d/fluo/HEK293/Nuclear_H2B-mClover/journal_pcbi_1005177',
        |   CAST(0 AS BIGINT), CAST(0 AS BIGINT), '', TRUE,
        |   'journal_pcbi_1005177', 'dynamic 2d fluorescence nuclear',
        |   'cell HEK293', '1280', '1080', 'H2B-mClover', 'stanford'),
        |  ('static/2d/fluo/A549/Nuclear_Hoescht33342/20190514_EP01',
        |   CAST(0 AS BIGINT), CAST(0 AS BIGINT), '', TRUE,
        |   '20190514_EP01', 'static 2d fluorescence nuclear',
        |   'cell A549', '1608', '1608', 'Hoescht33342', 'Caltech'),
        |  ('static/2d/mibi/DCIS/Nuclear_DNA/20200116_DCIS',
        |   CAST(3 AS BIGINT), CAST(1573668 AS BIGINT),
        |   '20200116_DCIS_Point2304_crop_0.tif', TRUE,
        |   '20200116_DCIS', 'static 2d mibi nuclear',
        |   'cell DCIS', '512', '512', 'H2B-mClover', 'stanford'),
        |  ('static/2d/mibi/DCIS/WholeCell_NaKATPase/20200116_DCIS',
        |   CAST(3 AS BIGINT), CAST(1573668 AS BIGINT),
        |   'Point2304_crop_0.tif', TRUE,
        |   '20200116_DCIS', 'static 2d mibi nuclear',
        |   'cell DCIS', '512', '512', 'H2B-mClover', 'stanford'),
        |  ('static/3d/Phase/A549/20190514_EP01',
        |   CAST(0 AS BIGINT), CAST(0 AS BIGINT), '', TRUE,
        |   '20190514_EP01', 'static 2d Phase',
        |   'cell A549', '1608', '1608', 'Phase', 'Caltech')
        |) AS t(rel_dir, n_tifs, tif_bytes, first_file, has_metadata,
        |       exp_id, ontology, type, dim_x, dim_y, marker0, facility)
        |ORDER BY rel_dir""".stripMargin,
      eager = true), // metadata JSON schema inference at construction
    QueryDef("q_src_tiff_digest", qSrcTiffDigest,
      """SELECT * FROM (VALUES
        |  ('20200116_DCIS_Point2304_crop_0', 0, 512, 512, 79868, 335851, 42, 394077718),
        |  ('20200116_DCIS_Point2304_crop_1', 0, 512, 512, 67827, 263656, 37, 201889072),
        |  ('20200116_DCIS_Point2304_crop_2', 0, 512, 512, 76208, 274331, 35, 320600289),
        |  ('Point2304_crop_0', 0, 512, 512, 74850, 176083, 29, 507033224),
        |  ('Point2304_crop_1', 0, 512, 512, 26425, 48332, 25, 106918797),
        |  ('Point2304_crop_2', 0, 512, 512, 49899, 93409, 42, 395140953)
        |) AS t(fov, stack, n_rows, n_cols, nnz, px_sum, px_max, checksum)
        |ORDER BY fov, stack""".stripMargin),
    QueryDef("q_npz_roundtrip", qNpzRoundtrip,
      """WITH grid AS (
        |  SELECT fov, crop, slc AS slice, stack,
        |    CASE WHEN fov = 'fovB' AND crop = 1 AND slc = 1
        |         THEN 'zero_filled' ELSE 'roundtrip' END AS mode
        |  FROM (VALUES ('fovA'), ('fovB')) f(fov),
        |       generate_series(0, 1) c(crop),
        |       generate_series(0, 1) sl(slc),
        |       generate_series(0, 1) st(stack)),
        |sep AS (
        |  SELECT 'fovB' AS fov, 1 AS crop, 1 AS slice, stack,
        |         'separate' AS mode
        |  FROM generate_series(0, 1) st(stack)),
        |rows_all AS (SELECT * FROM grid UNION ALL SELECT * FROM sep)
        |SELECT fov, crop, slice, stack, 20 AS n_rows, 20 AS n_cols,
        |       mode, TRUE AS digest_ok
        |FROM rows_all
        |ORDER BY mode, fov, crop, slice, stack""".stripMargin,
      eager = true), // writes the NPZ fixture at construction (S10 sink)
    // The reconstruct digest's oracle pins the a-priori inversion
    // grid: 8 reconstructed planes, every verdict TRUE, exactly the
    // law's 20 blob ids after dense relabel. The verdicts themselves
    // compare against the pure fixture law (never the written files).
    QueryDef("q_img_reconstruct_digest", qImgReconstructDigest,
      """SELECT fov, stack, 24 AS n_rows, 36 AS n_cols, 20 AS n_labels,
        |       TRUE AS px_ok, TRUE AS labels_ok, TRUE AS dense_ok
        |FROM (VALUES ('fovA'), ('fovB')) f(fov),
        |     generate_series(0, 3) s(stack)
        |ORDER BY fov, stack""".stripMargin,
      eager = true), // writes+reconstructs the NPZ law fixture
    // Full DuckDB replay of the resize+pad+tile geometry: constant
    // pixels survive bilinear resize exactly, nearest 2x upscale is
    // index halving (out(r,c) = law(r//2, c//2)), pad is zeros, tiles
    // are 16x16 windows of the 64x64 padded canvas.
    QueryDef("q_img_reshape_digest", qImgReshapeDigest,
      """WITH cell AS (
        |  SELECT f.fi, f.fov, st.stack, t.ti * 4 + t.tj AS crop,
        |         t.ti * 16 + r.r AS gr, t.tj * 16 + c.c AS gc
        |  FROM (VALUES (0, 'fovA'), (1, 'fovB')) f(fi, fov),
        |       generate_series(0, 1) st(stack),
        |       (SELECT a.ti, b.tj FROM generate_series(0, 3) a(ti),
        |                               generate_series(0, 3) b(tj)) t,
        |       generate_series(0, 15) r(r), generate_series(0, 15) c(c)),
        |px AS (
        |  SELECT fi, fov, stack, crop,
        |    CASE WHEN gr < 50 AND gc < 62 THEN 1 ELSE 0 END AS inside,
        |    CASE WHEN gr < 50 AND gc < 62
        |           AND (gr // 2) % 4 < 2 AND (gc // 2) % 4 < 2
        |         THEN ((gr // 2) // 4) * 8 + ((gc // 2) // 4) + 1
        |         ELSE 0 END AS lab
        |  FROM cell)
        |SELECT fov, stack, crop, 16 AS n_rows, 16 AS n_cols,
        |       CAST(sum(CASE WHEN lab != 0 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS lab_nnz,
        |       CAST(sum(lab) AS BIGINT) AS lab_sum,
        |       CAST(max(lab) AS BIGINT) AS lab_max,
        |       CAST(2 * sum(inside) AS BIGINT) AS px_nnz,
        |       CAST(sum(inside) * (2 * (1 + fi * 4 + stack * 2) + 1)
        |         AS BIGINT) AS px_sum
        |FROM px
        |GROUP BY fi, fov, stack, crop
        |ORDER BY fov, stack, crop""".stripMargin),
    // Full DuckDB replay of both single-file sinks' censuses from the
    // arithmetic law (12x17 planes, i = r*17+c), including the
    // position-weighted checksum — order-sensitive, so a channel-last
    // repack or row-order slip in encode/decode fails the hash.
    QueryDef("q_npz_sinks_digest", qNpzSinksDigest,
      """WITH grid AS (
        |  SELECT f.fi, f.fov, st.stack, i.i,
        |         (i.i + st.stack * 7 + f.fi * 19) % 101 AS px,
        |         CASE WHEN (i.i + st.stack + f.fi) % 5 = 0
        |              THEN i.i % 7 + 1 ELSE 0 END AS lab
        |  FROM (VALUES (0, 'fovA'), (1, 'fovB')) f(fi, fov),
        |       generate_series(0, 2) st(stack),
        |       generate_series(0, 203) i(i)),
        |cens AS (
        |  SELECT fov, stack,
        |    CAST(sum(CASE WHEN px != 0 THEN 1 ELSE 0 END) AS BIGINT) AS px_nnz,
        |    CAST(sum(px) AS BIGINT) AS px_sum,
        |    CAST(max(px) AS BIGINT) AS px_max,
        |    CAST(sum(((i + 1) * px) % 1000000007) % 1000000007 AS BIGINT)
        |      AS px_chk,
        |    CAST(sum(CASE WHEN lab != 0 THEN 1 ELSE 0 END) AS BIGINT) AS lab_nnz,
        |    CAST(sum(lab) AS BIGINT) AS lab_sum,
        |    CAST(max(lab) AS BIGINT) AS lab_max,
        |    CAST(sum(((i + 1) * lab) % 1000000007) % 1000000007 AS BIGINT)
        |      AS lab_chk
        |  FROM grid GROUP BY fov, stack)
        |SELECT m.mode, c.fov, c.stack, 12 AS n_rows, 17 AS n_cols,
        |       px_nnz, px_sum, px_max, px_chk,
        |       lab_nnz, lab_sum, lab_max, lab_chk
        |FROM cens c, (VALUES ('stitched'), ('combined')) m(mode)
        |ORDER BY mode, fov, stack""".stripMargin,
      eager = true), // writes the stitched/combined NPZ sinks (S13/S14)
  )
}
