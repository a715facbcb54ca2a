package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The `batch=<id>` directory layout of the accumulate-by-batch sinks
  * (the contract stated on [[Streams]]): each micro-batch owns one
  * directory under a state or output path, written whole by overwrite.
  * Readers see `batch` as a partition column. */
private[graft] object BatchDirs {

  private def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Ids of the COMMITTED batch directories under `path`, ascending: a
    * `batch=<id>` counts once its write published `_SUCCESS`. A crash
    * that left only `_temporary` debris must look like a fresh start,
    * so the batch's overwrite heals it, not like readable state (schema
    * inference over an uncommitted directory would fail every replay). */
  def committed(spark: SparkSession, path: String): Seq[Long] =
    Option(fs(spark, path).globStatus(new Path(path, "batch=*/_SUCCESS")))
      .toSeq.flatten
      .flatMap(_.getPath.getParent.getName.stripPrefix("batch=").toLongOption)
      .sorted

  /** Checkpoint-loss guard. Batch ids restart at 0 when a stream's
    * checkpoint is lost, and overwriting `batch=0` would then replace
    * the oldest accumulated data and its dedup state with unrelated
    * rows, so batch 0 fails while any committed `batch=<id>` with
    * id > 0 exists. A genuine replay of batch 0 (a crash during the
    * very first batch) has no other committed batch and passes, and so
    * does an index base build stored as `batch=-1`. */
  def guardRestart(spark: SparkSession, sink: String, path: String,
      batchId: Long): Unit =
    if (batchId == 0 && committed(spark, path).exists(_ > 0))
      throw new IllegalStateException(
        s"$sink: batchId restarted at 0 but $path already holds " +
          "committed batches — the checkpoint was lost. Restore it, or " +
          "start from fresh state paths.")

  /** The committed state under `path` WITHOUT batch `batchId`'s own
    * earlier attempt, or None when no other batch is committed. A
    * replayed batch (crash after its writes, before the checkpoint
    * commit) must not see its own output as foreign state: it would
    * dedup against itself and its overwrite would erase its survivors.
    * Excluding it makes a replay equal a fresh run. */
  def read(spark: SparkSession, path: String,
      batchId: Long): Option[DataFrame] = {
    val others = committed(spark, path).filter(_ != batchId)
    if (others.isEmpty) None
    else Some(spark.read.parquet(path)
      .filter(col("batch").isin(others.map(Long.box): _*)))
  }

  /** Overwrite batch `batchId`'s directory under `path`: a replay
    * REPLACES its own output instead of appending duplicates. */
  def write(df: DataFrame, path: String, batchId: Long,
      partitionBy: String*): Unit = {
    val w = df.write.mode("overwrite")
    (if (partitionBy.isEmpty) w else w.partitionBy(partitionBy: _*))
      .parquet(s"$path/batch=$batchId")
  }
}
