package graft.bht

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.Cleaning

/** Survey KPI builders (SURVEY.md §2.3 A7/A8).
  *
  * Both emit the reference's long format `(metric: string, value: double)`.
  *
  * Scale: each is one (or for CSAT two) global aggregations with map-side
  * partials — no shuffle beyond the final 1-row reduce. The CSAT
  * top-2-box threshold is data-dependent (observed max − 1, app.py:443),
  * computed as a separate first pass rather than an empty-frame window so
  * nothing funnels through a single partition at 100 TB.
  */
object Kpis {

  /** A7 — `build_satisfaction_table` (app.py:437-444).
    * mean: null-skipping average of the numeric-coerced column.
    * top2_box: share of rows (ALL rows, nulls included, per pandas
    * bool-Series mean) with value >= max(value) - 1; null when the column
    * is entirely null.
    * n: non-null count.
    * The weighted core at weight 1.0: `sum(1.0·s)/sum(1.0)` is `avg(s)`.
    */
  def csatSummary(df: DataFrame, csatCol: String): DataFrame =
    melt(csatCore(df, csatCol, lit(1.0), Nil), array(Seq("mean", "top2_box", "n").map(kv): _*))

  /** A8 — `build_nps_table` (app.py:447-459).
    * Buckets over the numeric-coerced score: detractors 0–6, passives 7–8,
    * promoters 9–10; n = non-null count (out-of-range values count in n
    * but in no bucket); nps = (promoters/n - detractors/n) * 100.
    * n == 0 → only (nps=null, n=0) rows.
    * The weighted core at weight 1.0; one lazy aggregate, no job at
    * construction.
    */
  def npsSummary(df: DataFrame, npsCol: String): DataFrame = {
    val head = Seq("nps", "n").map(kv)
    val buckets = Seq("promoters", "passives", "detractors").map(kv)
    melt(npsCore(df, npsCol, lit(1.0), Nil),
      when(col("n") =!= 0, array(head ++ buckets: _*)).otherwise(array(head: _*)))
  }

  /** Weighted CSAT per group (beyond-reference, pairs with
    * npsSummaryWeighted): weighted mean, weighted top-2-box share (same
    * observed-max threshold and all-rows denominator as the reference's
    * unweighted A7), weighted n. Two-pass: global max first (scalar),
    * then one grouped aggregate.
    */
  def csatSummaryWeighted(
      df: DataFrame, csatCol: String, weightCol: String,
      groupCols: Seq[String] = Nil): DataFrame =
    csatCore(df, csatCol, Cleaning.weightExpr(df, Some(weightCol)), groupCols)

  /** Weighted NPS per group (beyond-reference: the reference's KPI
    * builders ignore weights — app.py:447-459 — but any raked wave needs
    * weighted KPIs). Buckets weighted by `weightCol`; integer-valued
    * weights keep every sum exact. One hash aggregate; nps null when the
    * weighted n is 0.
    */
  def npsSummaryWeighted(
      df: DataFrame, npsCol: String, weightCol: String,
      groupCols: Seq[String] = Nil): DataFrame =
    npsCore(df, npsCol, Cleaning.weightExpr(df, Some(weightCol)), groupCols)

  private def csatCore(df: DataFrame, csatCol: String, w: Column, groupCols: Seq[String]): DataFrame = {
    val s = Cleaning.toNumeric(Cleaning.qcol(csatCol))
    val maxRow = df.agg(max(s)).collect()(0)
    val top2 =
      if (maxRow.isNullAt(0)) lit(null).cast("double")
      else {
        val mx = maxRow.getDouble(0)
        coalesce(sum(when(s >= mx - 1, w)), lit(0.0)) / when(sum(w) =!= 0, sum(w))
      }
    df.groupBy(groupCols.map(Cleaning.qcol): _*).agg(
      (coalesce(sum(when(s.isNotNull, w * s)), lit(0.0)) /
        when(sum(when(s.isNotNull, w)) =!= 0, sum(when(s.isNotNull, w)))).as("mean"),
      top2.as("top2_box"),
      coalesce(sum(when(s.isNotNull, w)), lit(0.0)).as("n"))
  }

  private def npsCore(df: DataFrame, npsCol: String, w: Column, groupCols: Seq[String]): DataFrame = {
    val s = Cleaning.toNumeric(Cleaning.qcol(npsCol))
    df.groupBy(groupCols.map(Cleaning.qcol): _*).agg(
        coalesce(sum(when(s.between(0, 6), w)), lit(0.0)).as("detractors"),
        coalesce(sum(when(s.between(7, 8), w)), lit(0.0)).as("passives"),
        coalesce(sum(when(s.between(9, 10), w)), lit(0.0)).as("promoters"),
        coalesce(sum(when(s.isNotNull, w)), lit(0.0)).as("n"))
      .withColumn("nps",
        when(col("n") =!= 0,
          (col("promoters") / col("n") - col("detractors") / col("n")) * 100))
  }

  /** One long-format row: the metric's name and its value as a double. */
  private def kv(metric: String): Column =
    struct(lit(metric).as("metric"), col(metric).cast("double").as("value"))

  /** 1-row aggregate → long `(metric, value)` format, one row per
    * element of the `rows` array of [[kv]] structs. */
  private def melt(oneRow: DataFrame, rows: Column): DataFrame =
    oneRow
      .select(explode(rows).as("kv"))
      .select(col("kv.metric").as("metric"), col("kv.value").as("value"))
}
