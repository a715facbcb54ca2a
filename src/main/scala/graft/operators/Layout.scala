package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Z-order (Morton-curve) data layout: files clustered so that BOTH of
  * two filter columns get tight per-file min/max statistics — the
  * multi-dimensional generalization of sort-by-one-column, and at
  * 100 TB the difference between pruning on one predicate or on either.
  * A table sorted by `a` answers `a = ?` from a few files but scans
  * everything for `b = ?`; the z-ordered table prunes on both.
  *
  * The z-value interleaves the bits of the two columns' 16-bit uniform
  * bucket ids. Bit spreading is the classic mask-shift cascade — five
  * bitwise ops per column, all built-in codegen'd functions (no UDF,
  * no custom expression needed: `shiftleft`/`bitwise AND/OR` compile
  * into the row loop).
  */
object Layout {

  /** Spread the low 16 bits of `x` to even bit positions 0,2,…,30. */
  def spread16(x: Column): Column = {
    val m0 = x.bitwiseAND(lit(0xFFFFL))
    val m1 = (m0.bitwiseOR(shiftleft(m0, 8))).bitwiseAND(lit(0x00FF00FFL))
    val m2 = (m1.bitwiseOR(shiftleft(m1, 4))).bitwiseAND(lit(0x0F0F0F0FL))
    val m3 = (m2.bitwiseOR(shiftleft(m2, 2))).bitwiseAND(lit(0x33333333L))
    (m3.bitwiseOR(shiftleft(m3, 1))).bitwiseAND(lit(0x55555555L))
  }

  /** Spread the low `nBits` bits of `x` to every `n`-th bit position
    * (0, n, 2n, …) — the N-dimensional generalization of [[spread16]].
    * n = 2 takes the 5-op mask-shift cascade; other strides fold the
    * per-bit shift chain (nBits × 3 built-in bitwise ops, still one
    * codegen'd expression tree — no UDF, no loop at run time). */
  def spreadEvery(x: Column, n: Int, nBits: Int): Column = {
    val masked = x.bitwiseAND(lit((1L << nBits) - 1))
    if (n == 1) masked
    else if (n == 2 && nBits == 16) spread16(x)
    else (0 until nBits).map { i =>
      shiftleft(shiftright(masked, i).bitwiseAND(lit(1L)), i * n)
    }.reduce(_ bitwiseOR _)
  }

  /** Morton z-value of two 16-bit bucket ids (a in even bits, b in odd). */
  def mortonZ(aBucket: Column, bBucket: Column): Column =
    spread16(aBucket).bitwiseOR(shiftleft(spread16(bBucket), 1))

  /** Morton z-value of N bucket ids of `nBits` bits each: column j's
    * bits land at positions j, j+N, j+2N, … — bit-interleaved across
    * ALL N dimensions, so a range of z-values is a locality-preserving
    * cell in N-space. */
  def mortonZN(buckets: Seq[Column], nBits: Int): Column = {
    val n = buckets.size
    // highest bit position is n*nBits − 1; past 61 the interleave
    // spills into the sign bit and z-ordering silently inverts
    require(n >= 1 && n * nBits <= 62,
      s"mortonZN: $n dims x $nBits bits exceeds the 62-bit budget")
    buckets.zipWithIndex.map { case (b, j) =>
      shiftleft(spreadEvery(b, n, nBits), j)
    }.reduce(_ bitwiseOR _)
  }

  /** Uniform `nBits`-bit bucket of a numeric column over [lo, hi]. */
  def bucketN(x: Column, lo: Double, hi: Double, nBits: Int): Column = {
    require(hi > lo, "bucketN needs hi > lo")
    val k = 1L << nBits
    least(greatest(
      floor((x.cast("double") - lit(lo)) / lit(hi - lo) * k.toDouble),
      lit(0.0)), lit((k - 1).toDouble)).cast("long")
  }

  /** Write `df` z-ordered on (colA, colB) — see the Seq overload. */
  def zorderWrite(df: DataFrame, path: String, colA: String, colB: String,
      numFiles: Int): Unit =
    zorderWrite(df, path, Seq(colA, colB), numFiles)

  /** Write `df` z-ordered on N columns (2-4 is the practical layout-
    * tuning range; up to 8 supported): range-partition by the N-dim
    * Morton value into `numFiles` files, sorted within each, so EVERY
    * listed column gets tight per-file min/max statistics. Per-column
    * bits shrink as N grows (⌊62/N⌋ capped at 16) — total z stays in
    * one signed long, and resolution beyond numFiles^(1/N) buckets per
    * dimension is wasted anyway. Column bounds come from ONE tiny
    * min/max aggregate (2N scalars to the driver). Rows with NULL/NaN
    * in any listed column get z = −1 and cluster together in the
    * first file (their stats are useless anyway). */
  def zorderWrite(df: DataFrame, path: String, cols: Seq[String],
      numFiles: Int): Unit = {
    require(cols.nonEmpty && cols.size <= 8,
      s"zorderWrite takes 1-8 columns, got ${cols.size}")
    val nBits = math.min(16, 62 / cols.size)
    // NaN sorts above every double in Spark's min/max — exclude it from
    // the bounds probe or one bad row poisons the hi and the relayout
    def cleanD(c: String) =
      when(!isnan(col(c).cast("double")), col(c).cast("double"))
    val b = df.agg(
      cols.flatMap(c => Seq(min(cleanD(c)), max(cleanD(c)))).head,
      cols.flatMap(c => Seq(min(cleanD(c)), max(cleanD(c)))).tail: _*)
      .collect().head
    if (cols.indices.exists(j => b.isNullAt(2 * j))) {
      // empty input or a layout column with no usable values: there is
      // nothing to cluster — write the data unclustered rather than NPE
      df.repartition(math.max(1, numFiles)).write.mode("overwrite").parquet(path)
      return
    }
    val unusable = cols.map(c =>
      col(c).isNull || isnan(col(c).cast("double"))).reduce(_ || _)
    val buckets = cols.zipWithIndex.map { case (c, j) =>
      bucketN(col(c), b.getDouble(2 * j),
        math.nextUp(b.getDouble(2 * j + 1)), nBits)
    }
    df.withColumn("__z",
        when(unusable, lit(-1L)).otherwise(mortonZN(buckets, nBits)))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(path)
  }

  /** Per-file (min, max) spans of `c` in a parquet directory — the
    * pruning-quality probe used by tests and layout audits. */
  def fileSpans(spark: SparkSession, path: String,
      c: String): Array[(Double, Double)] =
    spark.read.parquet(path)
      .groupBy(input_file_name())
      .agg(min(col(c)).cast("double").as("lo"), max(col(c)).cast("double").as("hi"))
      .collect()
      // a file of all-NULL values (the z = −1 cluster the writer itself
      // produces) has no span to report — skip it, don't NPE
      .filter(r => !r.isNullAt(1) && !r.isNullAt(2))
      .map(r => (r.getDouble(1), r.getDouble(2)))
}
