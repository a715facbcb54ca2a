package graft.core

import java.sql.Timestamp

/** Core data model of the engine.
  *
  * Re-expresses the reference's fundamental abstractions
  * (`/root/reference/src/interfaces/base.py:12-130`) as Scala case classes
  * usable as Spark `Dataset[T]` element types (all fields are
  * Encoder-friendly primitives / Maps).
  */

/** Change operation carried by a CDC event.
  * Reference: `src/interfaces/base.py:12-17` (enum INSERT/UPDATE/DELETE/TRUNCATE). */
object ChangeType {
  val Insert = "INSERT"
  val Update = "UPDATE"
  val Delete = "DELETE"
  val Truncate = "TRUNCATE"
  val all: Set[String] = Set(Insert, Update, Delete, Truncate)
}

/** Unit of incremental work flowing through the pipeline.
  * Reference: `src/interfaces/base.py:30-38`.
  * In streaming paths this is the element type of a `Dataset[ChangeEvent]`. */
case class ChangeEvent(
    sourceId: String,
    tableName: String,
    changeType: String,
    timestamp: Timestamp,
    affectedRows: Long,
    metadata: Map[String, String] = Map.empty) {
  require(ChangeType.all.contains(changeType), s"bad changeType: $changeType")
}

/** Outcome of a sink load. Reference: `src/interfaces/base.py:62-69`. */
case class LoadResult(
    success: Boolean,
    rowsLoaded: Long,
    tableName: String,
    durationSeconds: Double,
    errorMessage: Option[String] = None)

object LoadResult {
  /** A successful load of `rows` into `table`, timed from the
    * `System.nanoTime` stamp `t0` to now. */
  def since(t0: Long, table: String, rows: Long,
      errorMessage: Option[String] = None): LoadResult =
    LoadResult(success = true, rowsLoaded = rows, tableName = table,
      durationSeconds = (System.nanoTime() - t0) / 1e9, errorMessage)
}

/** Severity levels for validation findings.
  * Reference: `src/ingestion/validators.py:17-21`. */
object Severity {
  val Error = "error"
  val Warning = "warning"
  val Info = "info"
  /** Quality-score weights per severity.
    * Reference: `src/ingestion/validators.py:398-403`. */
  val weight: Map[String, Double] =
    Map(Error -> 1.0, Warning -> 0.5, Info -> 0.1)
}

/** One validation finding (rule violation, constraint breach, ...).
  * Reference: `src/interfaces/base.py:41-48` + `validators.py:274-304`. */
case class ValidationIssue(
    rule: String,
    column: String,
    severity: String,
    affectedRows: Long,
    message: String)

/** Per-column profile statistics, computed in one fused aggregation pass
  * (the reference makes a separate pandas pass per stat —
  * `src/ingestion/validators.py:356-390`; we fuse, see Validator). */
case class ColumnProfile(
    column: String,
    nullCount: Long,
    nullPct: Double,
    distinctCount: Long,
    distinctPct: Double,
    // numeric-only (None for strings)
    mean: Option[Double] = None,
    median: Option[Double] = None,
    stddev: Option[Double] = None,
    min: Option[Double] = None,
    max: Option[Double] = None,
    zeroCount: Option[Long] = None,
    negativeCount: Option[Long] = None,
    // string-only (None for numerics)
    avgLength: Option[Double] = None,
    minLength: Option[Long] = None,
    maxLength: Option[Long] = None,
    emptyCount: Option[Long] = None)

/** Full validation report.
  * Reference: `src/ingestion/validators.py:59-70`. */
case class ValidationReport(
    table: String,
    rowCount: Long,
    errors: Seq[ValidationIssue],
    warnings: Seq[ValidationIssue],
    info: Seq[ValidationIssue],
    columnProfiles: Seq[ColumnProfile],
    qualityScore: Double) {
  def isValid: Boolean = errors.isEmpty
  def allIssues: Seq[ValidationIssue] = errors ++ warnings ++ info
}
