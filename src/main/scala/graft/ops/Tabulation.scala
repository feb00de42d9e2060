package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Frequency / tabulation operators (SURVEY.md §2.3: A1, A2, A5, A6, A10).
  *
  * Scale notes (100 TB design):
  *  - Every operator here is a single hash-aggregate shuffle producing a
  *    summary-sized result; partial (map-side) aggregation applies
  *    automatically because all aggregates are algebraic (sum/count).
  *  - Percent-of-total denominators use a scalar cross-join of a 1-row
  *    aggregate rather than `Window.partitionBy()` (an empty-frame window
  *    funnels the whole table through ONE partition — fine on summaries,
  *    catastrophic on 100 TB inputs). The 1-row aggregate is itself the
  *    result of a distributed partial agg, and the cross-join broadcasts.
  *  - `fullTabulation` melts N columns via `stack` (one wide shuffle of
  *    (column,value) pairs with map-side combine) instead of N jobs.
  */
object Tabulation {

  /** Percent-of-grand-total via broadcasted scalar, not a single-partition
    * window (A10, app.py:112,141,170). `counts` must already be the
    * aggregated (summary-sized) frame.
    */
  private[ops] def withPctOfTotal(
      counts0: DataFrame, countCol: String, pctName: String, decimals: Int): DataFrame = {
    // counts is summary-sized and read twice (total + projection):
    // snapshot it so the full-data aggregation runs once. A
    // lazy localCheckpoint, not persist():
    // the blocks are released by the ContextCleaner when the frame goes
    // out of scope, where persist() would pin one summary frame in the
    // cache manager per call with no release path (accumulating across
    // a long-lived session). The aggregation runs at the first action
    // that consumes the tabulation, not while it is built. Tradeoff,
    // accepted for a SUMMARY-sized frame: checkpoint blocks carry no
    // lineage (an executor loss while they're referenced fails the
    // action — re-run the summary query).
    // Corpus-scale frames must use persist + an explicit release
    // (Transform.runReleasable), never this.
    val counts = counts0.localCheckpoint(eager = false)
    val total = counts.agg(sum(col(countCol)).as("__total__"))
    counts
      .crossJoin(broadcast(total))
      .withColumn(
        pctName,
        Rounding.halfUp(col(countCol) / when(col("__total__") =!= 0, col("__total__")) * 100, decimals))
      .drop("__total__")
  }

  /** A1 — `safe_value_counts` (app.py:84-92): drop nulls, stringify+trim,
    * drop empties, count per value, descending by count. Unweighted.
    * Output schema: (option, count).
    */
  def valueCounts(df: DataFrame, column: String): DataFrame = {
    val v = Cleaning.strClean(Cleaning.qcol(column))
    df.select(v.as("option"))
      .filter(col("option").isNotNull && col("option") =!= "")
      .groupBy("option")
      .agg(count(lit(1)).as("count"))
      .orderBy(desc("count"), asc("option"))
  }

  /** A2 — `freq_table` (app.py:108-115): group by the pandas-stringified
    * column (null → "nan"), sum weights as count, pct_total rounded,
    * constant `column` name prepended, sorted by count desc.
    * Output schema: (column, value, count, pct_total).
    */
  def freqTable(
      df: DataFrame,
      column: String,
      weightCol: Option[String] = None,
      decimals: Int = 1): DataFrame = {
    val w = Cleaning.weightExpr(df, weightCol)
    val counts = df
      .select(Cleaning.strAsPandasTyped(df, column).as("value"), w.as("__w__"))
      .groupBy("value")
      .agg(sum(col("__w__")).as("count"))
    withPctOfTotal(counts, "count", "pct_total", decimals)
      .select(lit(column).as("column"), col("value"), col("count"), col("pct_total"))
      .orderBy(desc("count"), asc("value"))
  }

  /** A5 — full tabulation (app.py:519-531): for every column, pandas
    * str/strip (null → "nan"), count per value, long format
    * (column, value, count). One melt + one groupBy = one shuffle for all
    * columns, instead of numCols separate jobs.
    */
  def fullTabulation(df: DataFrame, columns: Seq[String] = Nil): DataFrame = {
    val cols = if (columns.nonEmpty) columns else df.columns.toSeq
    val pairs = cols.map { c =>
      struct(lit(c).as("column"), Cleaning.strAsPandasTyped(df, c).as("value"))
    }
    df.select(explode(array(pairs: _*)).as("kv"))
      .select(col("kv.column").as("column"), col("kv.value").as("value"))
      .groupBy("column", "value")
      .agg(count(lit(1)).as("count"))
  }

  /** A table whose shape its arguments fix, never the data: named global
    * aggregates over the input, and `rows`, the array of row structs
    * built from them, where `ref` reads one aggregate by its name.
    * [[of]] is the standalone lazy frame; `Transform` evaluates several
    * of these in one fused aggregate and keeps the rows on the driver.
    */
  private[graft] final case class FixedTable(
      aggs: Seq[(String, Column)], rows: (String => Column) => Column, fields: Seq[String]) {

    /** One global aggregate (no shuffle beyond the 1-row final reduce),
      * melted to one row per struct of `rows`. No job runs here. */
    def of(df: DataFrame): DataFrame = {
      val named = aggs.map { case (n, a) => a.as(n) }
      df.agg(named.head, named.tail: _*)
        .select(explode(rows(Cleaning.qcol)).as("kv"))
        .select(fields.map(f => col(s"kv.$f").as(f)): _*)
    }
  }

  /** A6 — selected-count per multi-select column (app.py:396-415,422-430):
    * for each column, count rows satisfying the T6 "selected" predicate;
    * one row per column, schema (brand, count). UNweighted — the reference
    * never applies weights to the awareness/usage builders.
    *
    * Single pass: one conditional-sum aggregate per column in ONE job
    * (no shuffle at all — global agg with partial aggregation), then a
    * melt of the 1-row result.
    */
  def selectedCounts(df: DataFrame, columns: Seq[String]): DataFrame =
    selectedTable(df, columns).of(df)

  /** [[selectedCounts]] as a [[FixedTable]]: one row per present column. */
  private[graft] def selectedTable(df: DataFrame, columns: Seq[String]): FixedTable = {
    val present = columns.filter(df.columns.contains)
    require(present.nonEmpty, s"selectedCounts: none of $columns present")
    FixedTable(
      present.map(c => c -> sum(when(Cleaning.selected(Cleaning.qcol(c)), 1L).otherwise(0L))),
      ref => array(present.map(c => struct(lit(c).as("brand"), ref(c).as("count"))): _*),
      Seq("brand", "count"))
  }

  /** T10 — distinct trimmed non-empty values of a column, sorted
    * (brand-dictionary TOM path, app.py:465-468,471).
    * Output schema: (brand).
    */
  def distinctValues(df: DataFrame, column: String): DataFrame = {
    val v = Cleaning.strClean(Cleaning.qcol(column))
    df.select(v.as("brand"))
      .filter(col("brand").isNotNull && col("brand") =!= "")
      .distinct()
      .orderBy("brand")
  }
}
