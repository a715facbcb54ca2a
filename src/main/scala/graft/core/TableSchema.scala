package graft.core

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's declared type system, re-expressed as Spark types plus
  * domain predicates.
  *
  * Reference enum: `src/ingestion/validators.py:24-34`; coercion semantics
  * per type: `validators.py:218-272`. A "domain type" (EMAIL/URL/JSON/
  * BOOLEAN-lexical) is a storage type plus a conformance predicate; the
  * conformance *check* counts values that fail coercion, exactly like the
  * reference's `pd.to_numeric(errors='coerce')` null-delta counting.
  */
sealed abstract class GDataType(val name: String) {
  /** Physical Spark storage type used when casting a conformant column. */
  def sparkType: DataType
  /** Predicate: value is NON-conformant (null-safe: nulls never count as
    * conformance failures — matches the reference, which only counts values
    * that became null *through* coercion, `validators.py:225-230`). */
  def violates(c: Column): Column
}

object GDataType {
  /** Accepted lexical boolean forms, case-insensitive.
    * Reference: `src/ingestion/validators.py:237-240`. */
  val BooleanLexicals: Seq[String] =
    Seq("true", "false", "1", "0", "yes", "no", "t", "f", "y", "n")
  /** Email regex — kept byte-identical to the reference
    * (`validators.py:253-256`) so violation counts match. */
  val EmailRegex = "^[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}$"
  /** URL regex — reference `validators.py:257-260`. */
  val UrlRegex = "^https?://[^\\s/$.?#].[^\\s]*$"

  case object GString extends GDataType("STRING") {
    def sparkType: DataType = StringType
    def violates(c: Column): Column = lit(false) // everything passes (validators.py:222-224)
  }
  // try_cast everywhere: Spark 4 runs ANSI mode by default, where a plain
  // cast THROWS on malformed input instead of yielding null — the coercion
  // null-delta count the reference does needs the non-throwing form.
  case object GInteger extends GDataType("INTEGER") {
    def sparkType: DataType = LongType
    def violates(c: Column): Column = c.isNotNull && c.try_cast(LongType).isNull
  }
  case object GFloat extends GDataType("FLOAT") {
    def sparkType: DataType = DoubleType
    def violates(c: Column): Column = c.isNotNull && c.try_cast(DoubleType).isNull
  }
  case object GBoolean extends GDataType("BOOLEAN") {
    def sparkType: DataType = BooleanType
    def violates(c: Column): Column =
      c.isNotNull && !lower(c.cast(StringType)).isin(BooleanLexicals: _*)
  }
  case object GDate extends GDataType("DATE") {
    def sparkType: DataType = DateType
    def violates(c: Column): Column = c.isNotNull && c.try_cast(DateType).isNull
  }
  case object GDateTime extends GDataType("DATETIME") {
    def sparkType: DataType = TimestampType
    def violates(c: Column): Column = c.isNotNull && c.try_cast(TimestampType).isNull
  }
  case object GJson extends GDataType("JSON") {
    def sparkType: DataType = StringType
    // parse success check (validators.py:261-267); try_parse_json → null on failure
    def violates(c: Column): Column = c.isNotNull && try_parse_json(c.cast(StringType)).isNull
  }
  case object GEmail extends GDataType("EMAIL") {
    def sparkType: DataType = StringType
    def violates(c: Column): Column = c.isNotNull && !c.cast(StringType).rlike(EmailRegex)
  }
  case object GUrl extends GDataType("URL") {
    def sparkType: DataType = StringType
    def violates(c: Column): Column = c.isNotNull && !c.cast(StringType).rlike(UrlRegex)
  }

  val byName: Map[String, GDataType] = Seq(
    GString, GInteger, GFloat, GBoolean, GDate, GDateTime, GJson, GEmail, GUrl
  ).map(t => t.name -> t).toMap
}

/** Declared schema + constraint sets for a table.
  * Mirrors `SchemaDefinition` — `src/ingestion/validators.py:49-57`. */
case class TableSchema(
    table: String,
    columns: Seq[(String, GDataType)],
    requiredColumns: Seq[String] = Seq.empty,
    nullableColumns: Seq[String] = Seq.empty,
    uniqueColumns: Seq[String] = Seq.empty,
    primaryKey: Seq[String] = Seq.empty) {
  /** Columns that must be present AND non-null: required − nullable.
    * Reference: `validators.py:180-191`. */
  def notNullColumns: Seq[String] = requiredColumns.filterNot(nullableColumns.contains)
}
