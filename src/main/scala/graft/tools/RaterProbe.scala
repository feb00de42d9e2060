package graft.tools

import org.apache.spark.sql.functions._

/** Panel-width probe for
  * [[graft.scale.Preferences.raterAgreementMatrix]] — the one
  * documented panel²-by-design operator: per co-rated item the
  * self-join emits panel² pair rows, fine at human-panel widths
  * (dozens) and quadratic if an item-key bug makes "one item" carry
  * thousands of raters. The probe times 200 fully co-rated items at
  * widening panels so the curve (and the default maxPanel guard's
  * placement) is pinned by measurement, not intuition.
  * Usage: runMain graft.tools.RaterProbe [items [panels...]]
  */
object RaterProbe {
  def main(args: Array[String]): Unit = {
    val items = args.headOption.map(_.toInt).getOrElse(200)
    val panels =
      if (args.length > 1) args.tail.map(_.toInt).toSeq
      else Seq(5, 100, 1000)
    val spark = graft.GraftSession(32)
    def run(panel: Int): (Long, Double) = {
      val ratings = spark.range(items.toLong * panel)
        .select((col("id") % items).as("item"),
          (col("id") / items).cast("long").as("rater"),
          pmod(col("id") * 2654435761L, lit(3L)).cast("string").as("label"))
      val t0 = System.nanoTime()
      val n = graft.scale.Preferences.raterAgreementMatrix(
        ratings, "item", "rater", "label", maxPanel = 0).count()
      (n, (System.nanoTime() - t0) / 1e9)
    }
    run(panels.head) // warmup
    panels.foreach { p =>
      val (pairs, dt) = run(p)
      println(f"[rater-probe] items=$items%5d panel=$p%5d pair_rows=${items.toLong * p * (p - 1) / 2}%12d out_pairs=$pairs%9d time=$dt%6.2f s")
    }
    spark.stop()
  }
}
