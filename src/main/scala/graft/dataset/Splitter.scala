package graft.dataset

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Seeded, deterministic dataset splitting.
  *
  * Re-expresses the reference's split family (SURVEY.md §2.7):
  *   - `trainValTestSplit` — build.py:179-263 semantics: ratio
  *     validation, and the exact small-N degradation rules (n==1 all
  *     train; n==2 train+val; <1 expected val -> counts (n-2,1,1);
  *     <1 expected test -> steal one row from train).
  *   - `nestedSplit` — dataset_splitter.py:94-153: ONE seeded
  *     permutation, each split a prefix of it (so smaller splits are
  *     subsets of larger — the reference's own test invariant,
  *     dataset_splitter_test.py:135-140), with cyclic duplication up
  *     to `minSize` (dataset_splitter.py:77-92).
  *
  * RNG parity: `nestedSplit` offers BYTE-PARITY with the reference's
  * `np.random.RandomState(seed).permutation` stream via
  * [[withNumpyShuffleIndex]] ([[NumpyRandom]], MT19937) — same seed,
  * same split membership as dataset_splitter.py. The sklearn
  * `train_test_split` CHAIN of build.py:213-256 remains contract-parity
  * only (seed-stable, exact counts, small-N rules): sklearn's internal
  * slicing composition is not replicated, and is unverifiable in this
  * environment (no sklearn to generate fixtures).
  *
  * Scale note: the permutation is a distributed range-partitioned sort
  * on rand(seed) plus a per-partition-offset index (zipWithIndex) —
  * no single-partition window, so it holds at 100 TB.
  */
object Splitter {

  val IdxCol = "__split_idx"

  /** Attach a deterministic 0-based shuffle index (the seeded
    * permutation). rand(seed) is seeded per partition, so determinism
    * requires a stable input partitioning (true for file sources).
    */
  def withShuffleIndex(df: DataFrame, seed: Long): DataFrame = {
    val sorted = df.withColumn("__r", rand(seed)).orderBy(col("__r")).drop("__r")
    val schema = sorted.schema.add(IdxCol, LongType, nullable = false)
    val indexed = sorted.rdd.zipWithIndex().map { case (row, i) =>
      Row.fromSeq(row.toSeq :+ i)
    }
    df.sparkSession.createDataFrame(indexed, schema)
  }

  /** Numpy-parity shuffle index: `IdxCol` = the row's position in
    * `np.random.RandomState(seed).permutation(n)` — byte-parity with
    * dataset_splitter.py:139 in both membership and order (prefix
    * splits and cyclic tiling positions line up with `np.tile`).
    * Requires an explicit 0..n-1 batch-index column, because the
    * reference permutes ARRAY POSITIONS. The permutation is
    * driver-computed (O(n) ints, n = the reference's in-memory batch
    * count) and broadcast; corpus-scale splits use the distributed
    * [[withShuffleIndex]] instead.
    */
  def withNumpyShuffleIndex(df: DataFrame, batchIdxCol: String, seed: Long): DataFrame = {
    val n = df.count()
    require(n <= Int.MaxValue,
      "numpy-parity shuffle is for in-memory-scale batch counts")
    val perm = new NumpyRandom(seed).permutation(n.toInt)
    val inv = new Array[Int](n.toInt)
    var p = 0
    while (p < perm.length) { inv(perm(p)) = p; p += 1 }
    val bc = df.sparkSession.sparkContext.broadcast(inv)
    // the documented contract is a complete 0..n-1 index column; fail
    // loudly on null/out-of-range instead of an opaque deep-task NPE
    // (a duplicated index would silently double-assign positions)
    val posOf = udf((i: java.lang.Integer) => {
      require(i != null, s"$batchIdxCol must not be null for numpy-parity shuffle")
      val v = i.intValue()
      require(v >= 0 && v < bc.value.length,
        s"$batchIdxCol value $v outside 0..${bc.value.length - 1}")
      bc.value(v).toLong
    })
    df.withColumn(IdxCol, posOf(col(batchIdxCol).cast("int")))
  }

  /** build.py's ratio checks: the ratios sum to 1 and none is 0. */
  private[dataset] def checkRatios(ratios: (Double, Double, Double)): Unit = {
    val (tr, va, te) = ratios
    val total = math.round((tr + va + te) * 100) / 100.0
    require(total == 1.0, s"Data splits must sum to 1, supplied splits sum to $total")
    require(tr != 0 && va != 0 && te != 0, "All splits must be non-zero")
  }

  /** Split counts per build.py:213-256 (sklearn ceil semantics for
    * fractional test sizes). Returns (train, val, test) counts; val or
    * test may be 0 when n is too small for all splits.
    */
  private[dataset] def splitCounts(n: Long, ratios: (Double, Double, Double)): (Long, Long, Long) = {
    checkRatios(ratios)
    val (tr, va, te) = ratios
    if (n == 1) (1L, 0L, 0L)
    else if (n == 2) (1L, 1L, 0L)
    else {
      val valRemainderRatio = math.round((1 - tr) * 100) / 100.0
      if (n * valRemainderRatio < 1) (n - 2, 1L, 1L)
      else {
        val remainder = math.ceil(n * valRemainderRatio).toLong
        val testRemainderRatio = math.round(te / (va + te) * 100) / 100.0
        if (remainder * testRemainderRatio < 1) (n - remainder - 1, remainder, 1L)
        else {
          val test = math.ceil(remainder * testRemainderRatio).toLong
          (n - remainder, remainder - test, test)
        }
      }
    }
  }

  /** R2: add a `split` column ('train'/'val'/'test') with exact
    * seed-stable counts.
    */
  def trainValTestSplit(df: DataFrame,
                        ratios: (Double, Double, Double) = (0.8, 0.1, 0.1),
                        seed: Long = 0L): DataFrame = {
    val n = df.count()
    val (trN, vaN, _) = splitCounts(n, ratios)
    withShuffleIndex(df, seed)
      .withColumn("split",
        when(col(IdxCol) < trN, "train")
          .when(col(IdxCol) < trN + vaN, "val")
          .otherwise("test"))
      .drop(IdxCol)
  }

  /** R3/R4: nested prefix splits over one permutation, tiled up to
    * minSize. Keys are the stringified counts/proportions, as in the
    * reference.
    */
  def nestedSplit(df: DataFrame,
                  splitCounts: Seq[Long] = Seq.empty,
                  splitProportions: Seq[Double] = Seq.empty,
                  minSize: Long = 1L,
                  seed: Long = 0L,
                  numpyBatchIdxCol: Option[String] = None): Map[String, DataFrame] = {
    require(splitCounts.nonEmpty ^ splitProportions.nonEmpty,
      "Either split_counts or split_proportions must be supplied, not both")
    val n = df.count()
    val counts: Seq[(String, Long)] =
      if (splitCounts.nonEmpty) splitCounts.map(c => c.toString -> c)
      else splitProportions.map(p => p.toString -> math.max((n * p).toLong, 1L))
    val indexed = numpyBatchIdxCol
      .map(c => withNumpyShuffleIndex(df, c, seed))
      .getOrElse(withShuffleIndex(df, seed))
      .cache()
    counts.map { case (key, c) =>
      val prefix = indexed.filter(col(IdxCol) < c)
      val out =
        if (c >= minSize) prefix
        else {
          // cyclic tiling: copy k of row idx lands at position k*c + idx
          val copies = math.ceil(minSize.toDouble / c).toLong
          prefix
            .withColumn("__copy", explode(sequence(lit(0L), lit(copies - 1))))
            .withColumn("__pos", col("__copy") * c + col(IdxCol))
            .filter(col("__pos") < minSize)
            .drop("__copy", "__pos")
        }
      key -> out.drop(IdxCol)
    }.toMap
  }
}
