package graft.bht

import org.apache.spark.sql.DataFrame
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
    */
  def csatSummary(df: DataFrame, csatCol: String): DataFrame = {
    val s = Cleaning.toNumeric(Cleaning.qcol(csatCol))
    val maxRow = df.agg(max(s).as("mx")).collect()(0)
    val agged =
      if (maxRow.isNullAt(0)) // all-null column: mean/top2 null, n=0 (app.py:443)
        df.agg(
          avg(s).as("mean"),
          lit(null).cast("double").as("top2_box"),
          count(s).cast("double").as("n"))
      else {
        val mx = maxRow.getDouble(0)
        df.agg(
          avg(s).as("mean"),
          (sum(when(s >= mx - 1, 1L).otherwise(0L)) / count(lit(1))).as("top2_box"),
          count(s).cast("double").as("n"))
      }
    melt(agged, Seq("mean", "top2_box", "n"))
  }

  /** A8 — `build_nps_table` (app.py:447-459).
    * Buckets over the numeric-coerced score: detractors 0–6, passives 7–8,
    * promoters 9–10; n = non-null count (out-of-range values count in n
    * but in no bucket); nps = (promoters/n - detractors/n) * 100.
    * n == 0 → only (nps=null, n=0) rows.
    */
  def npsSummary(df: DataFrame, npsCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val s = Cleaning.toNumeric(Cleaning.qcol(npsCol))
    val r = df.agg(
      coalesce(sum(when(s.between(0, 6), 1L)), lit(0L)).as("detractors"),
      coalesce(sum(when(s.between(7, 8), 1L)), lit(0L)).as("passives"),
      coalesce(sum(when(s.between(9, 10), 1L)), lit(0L)).as("promoters"),
      count(s).as("n")
    ).collect()(0)
    val (detr, pass, prom, n) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    if (n == 0L)
      Seq(("nps", Option.empty[Double]), ("n", Some(0.0)))
        .toDF("metric", "value")
    else {
      val nps = (prom.toDouble / n - detr.toDouble / n) * 100
      Seq(
        ("nps", nps), ("n", n.toDouble), ("promoters", prom.toDouble),
        ("passives", pass.toDouble), ("detractors", detr.toDouble)
      ).toDF("metric", "value")
    }
  }

  /** Weighted CSAT per group (beyond-reference, pairs with
    * npsSummaryWeighted): weighted mean, weighted top-2-box share (same
    * observed-max threshold and all-rows denominator as the reference's
    * unweighted A7), weighted n. Two-pass: global max first (scalar),
    * then one grouped aggregate.
    */
  def csatSummaryWeighted(
      df: DataFrame, csatCol: String, weightCol: String,
      groupCols: Seq[String] = Nil): DataFrame = {
    val s = Cleaning.toNumeric(Cleaning.qcol(csatCol))
    val w = Cleaning.weightExpr(df, Some(weightCol))
    val maxRow = df.agg(max(s)).collect()(0)
    val top2 =
      if (maxRow.isNullAt(0)) lit(null).cast("double")
      else {
        val mx = maxRow.getDouble(0)
        coalesce(sum(when(s >= mx - 1, w)), lit(0.0)) / when(sum(w) =!= 0, sum(w))
      }
    val aggs = Seq(
      (coalesce(sum(when(s.isNotNull, w * s)), lit(0.0)) /
        when(sum(when(s.isNotNull, w)) =!= 0, sum(when(s.isNotNull, w)))).as("mean"),
      top2.as("top2_box"),
      coalesce(sum(when(s.isNotNull, w)), lit(0.0)).as("n"))
    if (groupCols.isEmpty) df.agg(aggs.head, aggs.tail: _*)
    else df.groupBy(groupCols.map(Cleaning.qcol): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Weighted NPS per group (beyond-reference: the reference's KPI
    * builders ignore weights — app.py:447-459 — but any raked wave needs
    * weighted KPIs). Buckets weighted by `weightCol`; integer-valued
    * weights keep every sum exact. One hash aggregate; nps null when the
    * weighted n is 0.
    */
  def npsSummaryWeighted(
      df: DataFrame, npsCol: String, weightCol: String,
      groupCols: Seq[String] = Nil): DataFrame = {
    val s = Cleaning.toNumeric(Cleaning.qcol(npsCol))
    val w = Cleaning.weightExpr(df, Some(weightCol))
    val aggs = Seq(
      coalesce(sum(when(s.between(0, 6), w)), lit(0.0)).as("detractors"),
      coalesce(sum(when(s.between(7, 8), w)), lit(0.0)).as("passives"),
      coalesce(sum(when(s.between(9, 10), w)), lit(0.0)).as("promoters"),
      coalesce(sum(when(s.isNotNull, w)), lit(0.0)).as("n"))
    val g =
      if (groupCols.isEmpty) df.agg(aggs.head, aggs.tail: _*)
      else df.groupBy(groupCols.map(Cleaning.qcol): _*).agg(aggs.head, aggs.tail: _*)
    g.withColumn("nps",
      when(col("n") =!= 0,
        (col("promoters") / col("n") - col("detractors") / col("n")) * 100))
  }

  /** 1-row aggregate → long `(metric, value)` format. */
  private def melt(oneRow: DataFrame, metrics: Seq[String]): DataFrame = {
    val pairs = metrics.map(m =>
      struct(lit(m).as("metric"), col(m).cast("double").as("value")))
    oneRow
      .select(explode(array(pairs: _*)).as("kv"))
      .select(col("kv.metric").as("metric"), col("kv.value").as("value"))
  }
}
