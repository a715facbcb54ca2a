package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** Training-shard export with an INTEGRITY MANIFEST.
  *
  * A trainer consuming exported shards needs to know, before burning
  * GPU-hours, that every shard arrived complete and unaltered — a
  * truncated copy, a re-run that double-wrote a shard, or a mutated
  * row should fail the job at load time, not surface as a loss
  * anomaly. The manifest is one tiny parquet beside the data: per
  * shard, the row count and an order-free content fingerprint.
  *
  * Fingerprint contract (the house oracle discipline): each row's
  * canonical hash is the md5-derived 60-bit integer of its columns
  * joined by U+001F ([[Sampling.hash60]] — engine-portable, unlike
  * xxhash64), and the shard fingerprint is the (sum mod 2³², xor)
  * pair of row hashes — both order-free, so any partitioning and any
  * reader computes the identical manifest, and DuckDB replays it for
  * the oracle row. Forging a collision needs a simultaneous sum+xor
  * coincidence (~2⁻⁹²) — this is an integrity check against
  * truncation/duplication/bit-rot, not a cryptographic seal.
  *
  * Scale: the manifest is ONE aggregate over the export (map-side
  * partials, shard-count rows out); verification re-runs the same
  * aggregate over what was read back — each is a single scan.
  */
object Export {

  /** Canonical per-row content hash over `cols` (nulls become the
    * empty string — U+001F separators keep adjacent columns from
    * aliasing). */
  def rowHash(cols: Seq[String]): org.apache.spark.sql.Column =
    Sampling.hash60(concat_ws("\u001F",
      cols.map(c => coalesce(col(c).cast(StringType), lit(""))): _*))

  /** The manifest frame of `df`: per `shardCol` value — row count,
    * fingerprint sum (per-row hash mod 2³², SUMMED AS DECIMAL so a
    * shard of any realistic size — up to ~10²⁰ rows before the
    * 30-digit accumulator saturates — cannot overflow under ANSI, then
    * reduced mod 2³² again so the stored value is canonical) and
    * fingerprint xor over [[rowHash]] of `cols`. The outer mod keeps
    * the streaming fold exact: sums of per-batch fingerprints reduce
    * to the same residue as the one-shot sum. */
  def manifest(df: DataFrame, shardCol: String,
      cols: Seq[String]): DataFrame = {
    require(!df.columns.contains("__graft_rowhash"))
    df.withColumn("__graft_rowhash", rowHash(cols))
      .groupBy(col(shardCol))
      .agg(count(lit(1)).as("n_rows"),
        coalesce(
          pmod(sum(pmod(col("__graft_rowhash"), lit(1L << 32))
              .cast(org.apache.spark.sql.types.DecimalType(20, 0))),
            lit(1L << 32)).cast("long"),
          lit(0L)).as("fp_sum"),
        coalesce(expr("bit_xor(__graft_rowhash)"), lit(0L)).as("fp_xor"))
  }

  /** Write `df` partitioned by `shardCol` with its manifest beside the
    * data (`path/data/<shard>=…`, `path/_manifest`). The manifest is
    * computed from the SOURCE frame; [[verifyManifest]] recomputes it
    * from the files — the pair brackets the write itself. */
  def writeWithManifest(df: DataFrame, path: String, shardCol: String,
      cols: Seq[String]): Unit = {
    df.write.mode("overwrite").partitionBy(shardCol)
      .parquet(s"$path/data")
    manifest(df, shardCol, cols)
      .write.mode("overwrite").parquet(s"$path/_manifest")
  }

  /** Recompute and OVERWRITE the manifest from the exported data files
    * — the upgrade path for manifests written before `fp_sum` was
    * canonicalized (format note below), and the repair path after a
    * deliberate in-place rewrite of a shard. This re-baselines
    * integrity to "whatever is on disk NOW": run [[verifyManifest]]
    * first if the export's current intactness is in question.
    *
    * FORMAT NOTE (graft-manifest v2): `fp_sum` is stored reduced
    * mod 2³². Manifests written by the pre-reduction format stored the
    * raw DECIMAL sum, which differs whenever a shard's summed residues
    * exceeded 2³² (≥ ~2 rows can); such legacy manifests fail
    * [[verifyManifest]] after upgrade BY DESIGN — the check cannot
    * distinguish a format delta from corruption, so rebuild them with
    * this method (legacy_sum mod 2³² == new fp_sum, i.e. the values
    * are modulo-equivalent; only the stored canonical form changed). */
  def rebuildManifest(spark: SparkSession, path: String,
      shardCol: String, cols: Seq[String]): Unit =
    manifest(spark.read.parquet(s"$path/data"), shardCol, cols)
      .write.mode("overwrite").parquet(s"$path/_manifest")

  /** Recompute the manifest from the exported files and diff it
    * against the stored one. Returns the mismatch frame — one row per
    * shard whose count or fingerprint differs (missing/extra shards
    * included via the full outer join); empty means intact. */
  def verifyManifest(spark: SparkSession, path: String,
      shardCol: String, cols: Seq[String]): DataFrame = {
    val stored = readFlat(spark, s"$path/_manifest")
      .withColumnRenamed("n_rows", "stored_rows")
      .withColumnRenamed("fp_sum", "stored_sum")
      .withColumnRenamed("fp_xor", "stored_xor")
    val actual = manifest(spark.read.parquet(s"$path/data"), shardCol, cols)
    stored.join(actual, Seq(shardCol), "full_outer")
      .filter(
        col("stored_rows").isNull || col("n_rows").isNull ||
          col("stored_rows") =!= col("n_rows") ||
          col("stored_sum") =!= col("fp_sum") ||
          col("stored_xor") =!= col("fp_xor"))
  }

  /** Read the flat parquet directory `dir` by its part files: Spark logs
    * a false `All paths were ignored` for a root named `_…` (`_manifest`,
    * its swap side path `_manifest__new`) though it reads it, and a glob
    * would log a failed metadata probe instead. A missing `dir` fails. */
  private[graft] def readFlat(spark: SparkSession, dir: String): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    spark.read.parquet(fs.listStatus(root).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).map(_.toString).toIndexedSeq: _*)
  }
}
