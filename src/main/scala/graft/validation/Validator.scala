package graft.validation

import graft.core._
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The engine's validator: schema/constraint checks (SURVEY §2.4 V9–V13),
  * the rule engine (V1–V8), per-column profiling (§2.5 P1–P5) and the
  * quality score (V15) — mirroring `src/ingestion/validators.py:118-412`
  * but with ALL counts fused into a single aggregation job per table.
  *
  * Scale note: the reference makes one pandas pass per rule and per stat;
  * here every rule/constraint/stat compiles to an aggregate `Column`, so a
  * full validation of an N-rule, C-column table is ONE scan + ONE
  * partial/final aggregate (no shuffle of raw rows — only the tiny partial
  * agg buffers move). At 100 TB this means validation cost ≈ one pass over
  * the data regardless of how many rules are declared. `countDistinct` over
  * multiple columns uses Spark's Expand-based rewrite (data duplicated
  * k+1 times pre-agg) — for very wide unique-constraint sets at extreme
  * scale, switch `exactDistinct=false` to use HLL `approx_count_distinct`.
  */
object Validator {

  /** V9 required-columns check — driver-side set difference
    * (reference `validators.py:158-166`). */
  def missingColumns(df: DataFrame, schema: TableSchema): Seq[String] =
    schema.requiredColumns.filterNot(df.columns.contains)

  /** V16 empty-dataset warning (`validators.py:128-135`). `isEmpty` is a
    * limit-1 probe, not a count. */
  def emptyCheck(df: DataFrame): Option[ValidationIssue] =
    if (df.isEmpty)
      Some(ValidationIssue("empty_dataset", "", Severity.Warning, 0,
        "dataset is empty"))
    else None

  /** V22 size guardrail (`extractors.py:267-270`): warn when the
    * optimizer's estimated input size exceeds `maxBytes` (default 1 GB,
    * the reference threshold). Estimate only — catches "you are about to
    * materialize a monster" before the job runs. */
  def sizeGuardrail(df: DataFrame, maxBytes: Long = 1L << 30): Option[ValidationIssue] = {
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (bytes > maxBytes)
      Some(ValidationIssue("size_guardrail", "", Severity.Warning, 0,
        s"estimated input $bytes bytes exceeds $maxBytes"))
    else None
  }

  /** Build the fused aggregate expressions for schema-constraint checks:
    * V10 type conformance, V11 nullability, V12 unique, V13 primary key. */
  def constraintAggs(df: DataFrame, schema: TableSchema,
      exactDistinct: Boolean = true): Seq[Column] = {
    val present = df.columns.toSet
    def cnt(pred: Column, as: String): Column =
      sum(when(pred, 1L).otherwise(0L)).as(as)
    def distinctOf(cols: Seq[Column]): Column =
      if (exactDistinct) countDistinct(cols.head, cols.tail: _*)
      else approx_count_distinct(struct(cols: _*))

    val typeChecks = schema.columns.collect {
      case (c, t) if present.contains(c) && t != GDataType.GString =>
        cnt(t.violates(col(c)), s"type_violations__$c")
    }
    val nullChecks = schema.notNullColumns.filter(present.contains).map { c =>
      cnt(col(c).isNull, s"null_violations__$c")
    }
    val uniqueChecks = schema.uniqueColumns.filter(present.contains).map { c =>
      // duplicates = non-null count − distinct count (validators.py:193-203)
      (count(col(c)) - distinctOf(Seq(col(c)))).as(s"duplicate_values__$c")
    }
    val pkCheck =
      if (schema.primaryKey.nonEmpty && schema.primaryKey.forall(present.contains)) {
        val pk = schema.primaryKey.map(col)
        Seq((count(lit(1)) - distinctOf(pk)).as("pk_duplicates"))
      } else Seq.empty

    (count(lit(1)).as("row_count") +: (typeChecks ++ nullChecks ++ uniqueChecks)) ++ pkCheck
  }

  /** One-row DataFrame with every constraint + rule count for `schema` —
    * the single fused job. */
  def countsFrame(df: DataFrame, schema: TableSchema,
      rules: Seq[Rules.Rule]): DataFrame = {
    val aggs = constraintAggs(df, schema) ++ rules.map(_.violationCount)
    df.agg(aggs.head, aggs.tail: _*)
  }

  /** P1–P5 profile aggregates for one column, all null-safe.
    * Numeric stats for numeric columns, length stats for strings —
    * mirrors `validators.py:356-390` but fused across ALL columns into one
    * aggregation (the reference iterates column-by-column in pandas).
    *
    * `approx=false` (exact) is for oracle-compared runs and
    * small/medium tables: exact `percentile` state is a value→count map
    * of every distinct value and exact `countDistinct` triggers the
    * Expand rewrite — both scale with cardinality, not with the sketch.
    * At 100 TB profile with `approx=true`: HLL distinct counts and
    * KLL-sketch medians, constant state per partition.
    *
    * NaN contract (ADVICE r14): the KLL sketch EXCLUDES NaN (KllSpec),
    * while the exact path's `percentile` ranks NaN as the greatest
    * double — on a NaN-bearing numeric column the approx median is the
    * median of the FINITE values and the exact median can be pulled
    * upward by the NaN mass. This is deliberate: a profile monitor
    * wants the location of the real data, and NaN presence is already
    * surfaced by its own signals (null/zero/negative counts; add a NaN
    * rule for columns where it matters). Documented rather than
    * "fixed" because filtering NaN inside the exact branch would
    * silently change the oracle-pinned exact rows. */
  def profileAggs(df: DataFrame, c: String, approx: Boolean = false): Seq[Column] = {
    val dt = df.schema(c).dataType
    val x = col(c)
    val base = Seq(
      (count(lit(1)) - count(x)).as(s"null_count__$c"),
      (if (approx) approx_count_distinct(x) else countDistinct(x))
        .as(s"distinct_count__$c"))
    val numeric = dt match {
      case _: NumericType => Seq(
          avg(x).as(s"mean__$c"),
          // approx median through the house KLL sketch (mergeable,
          // deterministic, rank-bounded — KllSpec) instead of Spark's
          // approx_percentile: same constant-state contract, plus the
          // partials re-merge across runs/streams
          (if (approx)
             element_at(graft.functions.NativeAgg.kllQuantiles(
               x.cast(DoubleType), 8192, Seq(0.5)), 1)
           else expr(s"percentile($c, 0.5)")).as(s"median__$c"),
          stddev(x).as(s"std__$c"),
          min(x).cast(DoubleType).as(s"min__$c"),
          max(x).cast(DoubleType).as(s"max__$c"),
          sum(when(x === 0, 1L).otherwise(0L)).as(s"zero_count__$c"),
          sum(when(x < 0, 1L).otherwise(0L)).as(s"negative_count__$c"))
      case StringType => Seq(
          avg(length(x)).as(s"avg_length__$c"),
          min(length(x)).cast(LongType).as(s"min_length__$c"),
          max(length(x)).cast(LongType).as(s"max_length__$c"),
          sum(when(x === "", 1L).otherwise(0L)).as(s"empty_count__$c"))
      case _ => Seq.empty
    }
    base ++ numeric
  }

  /** One-row DataFrame profiling every requested column in a single pass. */
  def profileFrame(df: DataFrame, cols: Seq[String],
      approx: Boolean = false): DataFrame = {
    val aggs = count(lit(1)).as("row_count") +:
      cols.flatMap(profileAggs(df, _, approx))
    df.agg(aggs.head, aggs.tail: _*)
  }

  /** V15 quality score: 1 − Σ(weight × affected_rows)/(rows × ncols),
    * clamped at 0, rounded to 3 — byte-for-byte the reference formula
    * (`validators.py:392-412`). */
  def qualityScore(rowCount: Long, nCols: Int,
      issues: Seq[ValidationIssue]): Double = {
    if (rowCount == 0) return 0.0
    val total = issues.map(i => i.affectedRows * Severity.weight(i.severity)).sum
    val maxPossible = if (nCols > 0) rowCount.toDouble * nCols else rowCount.toDouble
    val score = math.max(0.0, 1.0 - total / maxPossible)
    math.round(score * 1000).toDouble / 1000
  }

  /** Piggyback violation counters on an EXISTING pass via
    * `Dataset.observe`: zero extra scans — the counts materialize as a
    * side effect of whatever action consumes `df` (streaming-safe;
    * surface them with a QueryExecutionListener / StreamingQueryListener
    * reading `observedMetrics`). Complements [[countsFrame]], which is
    * the right tool when validation IS the job. */
  def observed(df: DataFrame, obs: org.apache.spark.sql.Observation,
      rules: Seq[Rules.Rule]): DataFrame = {
    val aggs = count(lit(1)).as("row_count") +: rules.map(_.violationCount)
    df.observe(obs, aggs.head, aggs.tail: _*)
  }

  /** Full validation: V9 driver-side, then ONE fused aggregation job for
    * V10–V13 + all rules, then report assembly + score. Profiling runs as a
    * second fused job only if `profile=true` (two scans total, matching the
    * reference's validate-then-profile split — `validators.py:118-152`). */
  def validate(df: DataFrame, schema: TableSchema, rules: Seq[Rules.Rule],
      profile: Boolean = false): ValidationReport = {
    val missing = missingColumns(df, schema)
    val missingIssues = missing.map(c =>
      ValidationIssue("required_columns", c, Severity.Error, 0,
        s"required column $c is missing"))

    val row: Row = countsFrame(df, schema, rules).collect()(0)
    val rowCount = row.getAs[Long]("row_count")

    def issueOf(field: String, n: Long): Option[ValidationIssue] = {
      val Array(kind, cname) = if (field.contains("__"))
        field.split("__", 2) else Array(field, "")
      if (n <= 0) None
      else {
        val sev = kind match {
          case "type_violations" | "null_violations" | "duplicate_values" |
               "pk_duplicates" => Severity.Error
          case _ => rules.find(r => s"${r.name}__${r.column}" == field)
              .map(_.severity).getOrElse(Severity.Error)
        }
        Some(ValidationIssue(kind, cname, sev, n, s"$kind on $cname: $n rows"))
      }
    }
    val counted = row.schema.fieldNames.filterNot(_ == "row_count").toSeq
      .flatMap(f => issueOf(f, row.getAs[Long](f)))
    val all = missingIssues ++ counted
    val profiles =
      if (profile) collectProfiles(df, df.columns.toSeq) else Seq.empty

    ValidationReport(
      table = schema.table,
      rowCount = rowCount,
      errors = all.filter(_.severity == Severity.Error),
      warnings = all.filter(_.severity == Severity.Warning),
      info = all.filter(_.severity == Severity.Info),
      columnProfiles = profiles,
      qualityScore = qualityScore(rowCount, df.columns.length, all))
  }

  /** Materialize ColumnProfile case classes from the fused profile job. */
  def collectProfiles(df: DataFrame, cols: Seq[String],
      approx: Boolean = false): Seq[ColumnProfile] = {
    val row = profileFrame(df, cols, approx).collect()(0)
    val n = row.getAs[Long]("row_count").toDouble
    def opt[T](f: String): Option[T] = {
      val names = row.schema.fieldNames
      if (!names.contains(f) || row.isNullAt(row.fieldIndex(f))) None
      else Some(row.getAs[T](f))
    }
    cols.map { c =>
      val nulls = row.getAs[Long](s"null_count__$c")
      val distinct = row.getAs[Long](s"distinct_count__$c")
      ColumnProfile(
        column = c,
        nullCount = nulls,
        nullPct = if (n == 0) 0 else nulls / n,
        distinctCount = distinct,
        distinctPct = if (n == 0) 0 else distinct / n,
        mean = opt[Double](s"mean__$c"),
        median = opt[Double](s"median__$c"),
        stddev = opt[Double](s"std__$c"),
        min = opt[Double](s"min__$c"),
        max = opt[Double](s"max__$c"),
        zeroCount = opt[Long](s"zero_count__$c"),
        negativeCount = opt[Long](s"negative_count__$c"),
        avgLength = opt[Double](s"avg_length__$c"),
        minLength = opt[Long](s"min_length__$c"),
        maxLength = opt[Long](s"max_length__$c"),
        emptyCount = opt[Long](s"empty_count__$c"))
    }
  }
}
