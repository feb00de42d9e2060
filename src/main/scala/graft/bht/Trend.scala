package graft.bht

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.ops.{Cleaning, Rounding}

/** Wave-over-wave trend tracking — the "tracking" in Brand Health
  * Tracking. The reference processes one survey wave at a time (one
  * uploaded file, app.py:197-204); a tracker compares waves: metric per
  * wave, delta vs the previous wave, percent change.
  *
  * Scale: one hash aggregate over (wave, group) + a lag window over the
  * AGGREGATED frame partitioned by group — the window input is
  * summary-sized (waves × categories), so the sort inside each group
  * partition is trivial at any corpus size.
  */
object Trend {

  /** Per (group, wave): weighted metric, previous wave's value, absolute
    * delta and half-up-rounded percent change (null on first wave /
    * zero base).
    *
    * @param waveCol   ordering column identifying the wave (date, wave
    *                  number — anything orderable)
    * @param groupCols the tracked breaks (brand, segment, ...)
    */
  def waveOverWave(
      df: DataFrame,
      waveCol: String,
      groupCols: Seq[String],
      weightCol: Option[String] = None,
      decimals: Int = 1): DataFrame = {
    val w = Cleaning.weightExpr(df, weightCol)
    val agged = df
      .groupBy((Cleaning.qcol(waveCol) +: groupCols.map(Cleaning.qcol)): _*)
      .agg(sum(w).as("metric"))
    val byGroup = Window.partitionBy(groupCols.map(Cleaning.qcol): _*)
      .orderBy(Cleaning.qcol(waveCol))
    agged
      .withColumn("prev", lag(col("metric"), 1).over(byGroup))
      .withColumn("delta", col("metric") - col("prev"))
      .withColumn("pct_change",
        Rounding.halfUp(
          (col("metric") - col("prev")) / when(col("prev") =!= 0, col("prev")) * 100,
          decimals))
  }
}
