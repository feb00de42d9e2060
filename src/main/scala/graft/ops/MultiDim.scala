package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** A4 — multi-dimensional tabulation (`multi_dim_tabulation`,
  * app.py:159-178): group by 1–3 dims with NULL KEYS KEPT
  * (pandas `dropna=False`; Spark groupBy keeps null keys natively),
  * sum weights as count, percent of grand total or percent within one
  * dim's level; unknown percent_by → null pct.
  *
  * Scale: one hash-aggregate shuffle; the within-level percent is a
  * window over the AGGREGATED frame partitioned by a real key (the
  * level), so it distributes; the grand total is a broadcast 1-row agg.
  */
object MultiDim {

  def multiDimTabulation(
      df: DataFrame,
      dims: Seq[String],
      weightCol: Option[String] = None,
      percentBy: String = "total",
      decimals: Int = 1): DataFrame = {
    require(dims.nonEmpty && dims.size <= 3, s"dims must be 1..3, got $dims")
    val w = Cleaning.weightExpr(df, weightCol)
    val grp = df
      .groupBy(dims.map(Cleaning.qcol): _*)
      .agg(sum(w).as("count"))

    if (percentBy == "total") {
      Tabulation.withPctOfTotal(grp, "count", "pct", decimals)
    } else if (dims.contains(percentBy)) {
      val denom = sum(col("count")).over(Window.partitionBy(Cleaning.qcol(percentBy)))
      grp.withColumn("pct",
        Rounding.halfUp(col("count") / when(denom =!= 0, denom) * 100, decimals))
    } else {
      grp.withColumn("pct", lit(null).cast("double"))
    }
  }

  /** Rollup tabulation (beyond-reference): hierarchical subtotals over
    * 1..n dims in ONE aggregate — the generalization of the reference's
    * hand-built `Total` margin rows (A9) to arbitrary depth. Rolled-up
    * levels surface as the literal `"Total"` (survey-margin convention);
    * `grouping(dim)` flags disambiguate a data value that is itself the
    * string "Total".
    *
    * Scale: Spark expands rollup into grouping sets inside a single
    * hash aggregate (partial aggregation applies) — one shuffle, vs. the
    * reference's N separate margin passes.
    */
  def rollupTabulation(
      df: DataFrame,
      dims: Seq[String],
      weightCol: Option[String] = None): DataFrame = {
    require(dims.nonEmpty, "dims must be non-empty")
    val w = Cleaning.weightExpr(df, weightCol)
    // pre-project: grouping() must reference the exact rollup columns
    val pre = df.filter(dims.map(d => Cleaning.qcol(d).isNotNull).reduce(_ && _))
      .select(dims.map(d => Cleaning.qcol(d).cast("string").as(d)) :+ w.as("__w"): _*)
    val gflags = dims.map(d => grouping(Cleaning.qcol(d)).cast("int").as(s"g_$d"))
    pre
      .rollup(dims.map(Cleaning.qcol): _*)
      .agg(gflags.head, gflags.tail :+ sum(col("__w")).as("count"): _*)
      .select(
        dims.map(d => coalesce(Cleaning.qcol(d), lit("Total")).as(d)) ++
          dims.map(d => Cleaning.qcol(s"g_$d")) :+
          col("count"): _*)
  }
}
