package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Batch-mode watermark store (SURVEY §2.3 C1).
  *
  * Streaming pipelines get this for free from checkpoints; batch
  * incrementals need the reference's `MetadataStore`
  * (`change_detection.py:28-90`, JSON file per (source, table)) as a
  * TABLE: tiny keyed parquet, read fully to the driver (it has one row
  * per (source, table) — bytes, not data), merged + rewritten on update.
  * Rewrite-on-update goes through the same backup-rename swap as the
  * merge sinks (write new, move live aside, rename in, heal on read):
  * a crash mid-update must not lose EVERY watermark — at 100 TB that
  * silently re-extracts every source from scratch. Single-driver
  * control plane; a real multi-writer deployment would put this in a
  * transactional store, which is exactly what the reference's
  * file-per-key store also couldn't do.
  */
class WatermarkStore(spark: SparkSession, path: String) {
  import spark.implicits._
  import org.apache.hadoop.fs.Path

  private val target = new Path(path)
  private def fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def readAll(): DataFrame = {
    val empty = Seq.empty[(String, String, Timestamp)]
      .toDF("source_id", "table_name", "last_processed_timestamp")
    // heal OUTSIDE the read's defensive catch: a failed heal rename is
    // an FS error that must surface, not be masked as "no watermarks"
    graft.core.AtomicSwap.heal(fs, target)
    // probe BEFORE reading: a first-run store legitimately doesn't
    // exist, and an expected PATH_NOT_FOUND analysis failure would be
    // cached on the QueryExecution and rethrown later by Spark's own
    // session-lifetime ObservationManager listener — an ERROR stack in
    // the logs for a non-error. The catch below stays as the net for
    // racing writers/corrupt stores.
    if (!fs.exists(target)) empty
    else try {
      val df = spark.read.parquet(path)
      if (df.columns.length == 3) df else empty
    } catch { case _: Exception => empty }
  }

  /** Last processed timestamp for (source, table), if any
    * (`change_detection.py:36-55`). */
  def get(sourceId: String, tableName: String): Option[Timestamp] =
    readAll()
      .filter(col("source_id") === sourceId && col("table_name") === tableName)
      .select("last_processed_timestamp")
      .collect().headOption.map(_.getTimestamp(0))

  /** Upsert the watermark for (source, table)
    * (`change_detection.py:57-73`). */
  def update(sourceId: String, tableName: String, ts: Timestamp): Unit = {
    val others = readAll()
      .filter(!(col("source_id") === sourceId && col("table_name") === tableName))
      .collect().toSeq
      .map(r => (r.getString(0), r.getString(1), r.getTimestamp(2)))
    val merged = (others :+ ((sourceId, tableName, ts)))
      .toDF("source_id", "table_name", "last_processed_timestamp")
    // write-new + checked rename-rename swap: a plain Overwrite of the
    // live path deletes it before writing, so a crash mid-write would
    // drop the whole store (readAll's catch would mask it as "no
    // watermarks")
    graft.core.AtomicSwap.replace(fs, target) { side =>
      merged.coalesce(1).write.mode(SaveMode.Overwrite).parquet(side.toString)
    }
  }

  /** Earliest watermark across a source's tables — the consistent
    * restart point (`change_detection.py:200-216`). */
  def minWatermark(sourceId: String): Option[Timestamp] =
    readAll()
      .filter(col("source_id") === sourceId)
      .agg(min("last_processed_timestamp"))
      .collect().headOption.flatMap(r => Option(r.getTimestamp(0)))

  /** All watermarks as a (key, last_ts) frame for
    * [[ChangeDetection.detectChanges]] — broadcast-sized by construction. */
  def asWatermarkFrame(sourceId: String): DataFrame =
    readAll()
      .filter(col("source_id") === sourceId)
      .select(col("table_name").as("key"),
        col("last_processed_timestamp").as("last_ts"))
}
