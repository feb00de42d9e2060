package graft.bht

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.{Cleaning, Tabulation}

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
    csatTable(csatCol, csatMax(df, csatCol)).of(df)

  /** [[csatSummary]] as a [[Tabulation.FixedTable]] at the observed max
    * `mx` (see [[csatMax]]): rows mean, top2_box, n. */
  private[graft] def csatTable(csatCol: String, mx: Option[Double]): Tabulation.FixedTable =
    Tabulation.FixedTable(csatAggs(csatCol, lit(1.0), mx),
      ref => array(Seq("mean", "top2_box", "n").map(kv(ref)): _*), Seq("metric", "value"))

  /** A8 — `build_nps_table` (app.py:447-459).
    * Buckets over the numeric-coerced score: detractors 0–6, passives 7–8,
    * promoters 9–10; n = non-null count (out-of-range values count in n
    * but in no bucket); nps = (promoters/n - detractors/n) * 100.
    * n == 0 → only (nps=null, n=0) rows.
    * The weighted core at weight 1.0; one lazy aggregate, no job at
    * construction.
    */
  def npsSummary(df: DataFrame, npsCol: String): DataFrame = npsTable(npsCol).of(df)

  /** [[npsSummary]] as a [[Tabulation.FixedTable]]. */
  private[graft] def npsTable(npsCol: String): Tabulation.FixedTable =
    Tabulation.FixedTable(npsAggs(npsCol, lit(1.0)), { ref =>
      val at = (m: String) => if (m == "nps") nps(ref) else ref(m)
      val head = Seq("nps", "n").map(kv(at))
      val buckets = Seq("promoters", "passives", "detractors").map(kv(at))
      when(ref("n") =!= 0, array(head ++ buckets: _*)).otherwise(array(head: _*))
    }, Seq("metric", "value"))

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

  /** The observed max of the numeric-coerced CSAT column (None when it
    * is entirely null) — the top-2-box threshold's eager first pass. */
  private[graft] def csatMax(df: DataFrame, csatCol: String): Option[Double] = {
    val maxRow = df.agg(max(Cleaning.toNumeric(Cleaning.qcol(csatCol)))).collect()(0)
    if (maxRow.isNullAt(0)) None else Some(maxRow.getDouble(0))
  }

  /** CSAT's aggregate columns (mean, top2_box, n) at weight `w`. */
  private def csatAggs(csatCol: String, w: Column, mx: Option[Double]): Seq[(String, Column)] = {
    val s = Cleaning.toNumeric(Cleaning.qcol(csatCol))
    val top2 = mx.fold(lit(null).cast("double")) { m =>
      coalesce(sum(when(s >= m - 1, w)), lit(0.0)) / when(sum(w) =!= 0, sum(w))
    }
    Seq(
      "mean" -> (coalesce(sum(when(s.isNotNull, w * s)), lit(0.0)) /
        when(sum(when(s.isNotNull, w)) =!= 0, sum(when(s.isNotNull, w)))),
      "top2_box" -> top2,
      "n" -> coalesce(sum(when(s.isNotNull, w)), lit(0.0)))
  }

  private def csatCore(df: DataFrame, csatCol: String, w: Column, groupCols: Seq[String]): DataFrame =
    grouped(df, groupCols, csatAggs(csatCol, w, csatMax(df, csatCol)))

  /** NPS's bucket and n aggregate columns at weight `w`. */
  private def npsAggs(npsCol: String, w: Column): Seq[(String, Column)] = {
    val s = Cleaning.toNumeric(Cleaning.qcol(npsCol))
    Seq(
      "detractors" -> coalesce(sum(when(s.between(0, 6), w)), lit(0.0)),
      "passives" -> coalesce(sum(when(s.between(7, 8), w)), lit(0.0)),
      "promoters" -> coalesce(sum(when(s.between(9, 10), w)), lit(0.0)),
      "n" -> coalesce(sum(when(s.isNotNull, w)), lit(0.0)))
  }

  /** nps over the aggregate columns `ref` reads; null when n is 0. */
  private def nps(ref: String => Column): Column =
    when(ref("n") =!= 0, (ref("promoters") / ref("n") - ref("detractors") / ref("n")) * 100)

  private def npsCore(df: DataFrame, npsCol: String, w: Column, groupCols: Seq[String]): DataFrame =
    grouped(df, groupCols, npsAggs(npsCol, w)).withColumn("nps", nps(col))

  private def grouped(df: DataFrame, groupCols: Seq[String], aggs: Seq[(String, Column)]): DataFrame = {
    val named = aggs.map { case (n, a) => a.as(n) }
    df.groupBy(groupCols.map(Cleaning.qcol): _*).agg(named.head, named.tail: _*)
  }

  /** One long-format row: the metric's name and its value as a double. */
  private def kv(ref: String => Column)(metric: String): Column =
    struct(lit(metric).as("metric"), ref(metric).cast("double").as("value"))
}
