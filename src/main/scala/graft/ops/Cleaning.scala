package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Row-level cleaning expressions (SURVEY.md §2.2, T1–T10).
  *
  * All helpers return `Column` expressions built from
  * `org.apache.spark.sql.functions` so they stay inside whole-stage
  * codegen — no UDFs anywhere in the engine's hot path.
  *
  * Semantics are pinned to the reference (`/root/reference/app.py`):
  *  - T1 `_norm` (app.py:29-30): trim + lowercase.
  *  - T3 numeric coercion (app.py:95-97): `cast("double")` is null on
  *    unparseable input, same as `pd.to_numeric(errors="coerce")`.
  *  - T4 weights (app.py:101-105): missing/unparseable weight → 0.0;
  *    no weight column at all → constant 1.0.
  *  - T6 "selected" (app.py:401,412,427): a multi-select cell counts as
  *    selected iff non-null AND trim(str) != "" AND lower(str) != "0".
  *    NOTE the reference lowercases the UN-trimmed string, so " 0 "
  *    (with spaces) IS selected; we reproduce that exactly.
  *  - T8 stringify-for-grouping (app.py:110,521): pandas `astype(str)`
  *    turns null into the literal string "nan"; `strAsPandasTyped`
  *    reproduces it for oracle parity, `strClean` keeps SQL nulls.
  */
object Cleaning {

  /** Quote a USER-SUPPLIED column name: survey headers routinely contain
    * dots ("Q1. Gender"), which bare `col()` would parse as struct-field
    * access. Backticks inside the name are escaped by doubling.
    */
  def qcol(name: String): Column =
    col("`" + name.replace("`", "``") + "`")

  /** T1 — normalize: trim + lowercase (app.py:29-30). */
  def norm(c: Column): Column = lower(trim(c))

  /** T3 — numeric coercion with null-on-failure (app.py:95-97).
    * `try_cast`, not `cast`: under Spark 4's default ANSI mode a plain
    * cast THROWS on malformed strings; try_cast restores the pandas
    * `to_numeric(errors="coerce")` null-on-failure contract.
    */
  def toNumeric(c: Column): Column = c.try_cast("double")

  /** T4 — weight expression (app.py:101-105): the designated weight
    * column coerced to double with missing→0.0, or constant 1.0 when no
    * weight column is configured / present in the schema.
    */
  def weightExpr(df: DataFrame, weightCol: Option[String]): Column =
    weightCol.filter(df.columns.contains) match {
      case Some(w) => coalesce(qcol(w).try_cast("double"), lit(0.0))
      case None    => lit(1.0)
    }

  /** T6 — multi-select "selected" predicate (app.py:401,412,427).
    * Selected iff non-null, trimmed stringified value non-empty, and
    * lowercased (NOT trimmed) stringified value != "0".
    */
  def selected(c: Column): Column = {
    val s = c.cast("string")
    c.isNotNull && trim(s) =!= "" && lower(s) =!= "0"
  }

  /** T8 variant — stringify + trim but keep SQL null as null. */
  def strClean(c: Column): Column = trim(c.cast("string"))

  /** T8 — pandas `astype(str).str.strip()` on a column: null becomes the
    * literal string "nan" (app.py:110,521). Use where bit-exact pandas
    * parity is required (full tabulation, freq_table grouping).
    * Schema-aware: pandas `str(True)` is "True"/"False" (capitalized)
    * while Spark casts booleans to "true"/"false" — for boolean columns
    * the stringification is capitalized to keep the pandas-parity
    * contract.
    */
  def strAsPandasTyped(df: DataFrame, colName: String): Column = {
    import org.apache.spark.sql.types.{BooleanType, TimestampType}
    val c = qcol(colName)
    val base = df.schema(colName).dataType match {
      case BooleanType =>
        when(c, "True").when(!c, "False")
      case TimestampType =>
        // pandas str(Timestamp): fraction omitted when zero, else the
        // full 6 digits (Spark's cast trims trailing zeros instead)
        when(date_format(c, "SSSSSS") === "000000",
          date_format(c, "yyyy-MM-dd HH:mm:ss"))
          .otherwise(date_format(c, "yyyy-MM-dd HH:mm:ss.SSSSSS"))
      case _ => c.cast("string")
    }
    trim(coalesce(base, lit("nan")))
  }

  /** T9 — non-empty filter: non-null and trimmed-nonempty (app.py:87-88). */
  def nonEmpty(c: Column): Column =
    c.isNotNull && trim(c.cast("string")) =!= ""

  /** T5 — codebook recode for one column (app.py:225-227): look up the
    * *stringified* cell value in the map; unmapped values keep the
    * original value (normalized to string — a Spark column has a single
    * type, per SURVEY.md §2.2 T5 note).
    */
  def recode(c: Column, mapping: Map[String, String]): Column =
    if (mapping.isEmpty) c.cast("string")
    else coalesce(element_at(typedLit(mapping), c.cast("string")), c.cast("string"))

  /** T5 — apply a full codebook (column → value → label) to a DataFrame,
    * recoding every mapped column that exists in the schema (app.py:220-227).
    * Single `select` so Catalyst sees one projection, not N withColumns.
    */
  def applyCodebook(df: DataFrame, codebook: Map[String, Map[String, String]]): DataFrame = {
    val cols = df.columns.map { name =>
      codebook.get(name) match {
        case Some(m) if m.nonEmpty => recode(qcol(name), m).as(name)
        case _                     => qcol(name)
      }
    }
    df.select(cols.toIndexedSeq: _*)
  }
}
