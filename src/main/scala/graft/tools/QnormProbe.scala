package graft.tools

import org.apache.spark.sql.functions._

/** Many-slice probe for [[graft.ops.Stats.quantileNormalize]] — the
  * round-12 verdict's remaining scale edge: the old GLOBAL as-of
  * window funneled |slices| x |values| rows through one partition, so
  * a per-domain normalization over 10^5 slices would bottleneck on a
  * single task. After the slice-partitioned rewrite, the probe pins
  * that wall time grows sublinearly as slices scale 100x at fixed
  * per-slice size (the pooled lattice stays <= cap throughout).
  * Usage: runMain graft.tools.QnormProbe [nValues [slices...]]
  */
object QnormProbe {
  def main(args: Array[String]): Unit = {
    val nValues = args.headOption.map(_.toInt).getOrElse(512)
    val sliceCounts =
      if (args.length > 1) args.tail.map(_.toInt).toSeq
      else Seq(1000, 10000, 100000)
    val spark = graft.GraftSession(32)
    def run(slices: Int): (Long, Double) = {
      // `slices` slices x 16 rows each over a shared nValues-point
      // value domain (distinct pooled values stay under the cap)
      val df = spark.range(slices.toLong * 16)
        .select((col("id") % slices).as("s"),
          pmod(col("id") * 2654435761L, lit(nValues.toLong)).as("v"))
      val t0 = System.nanoTime()
      val n = graft.ops.Stats.quantileNormalize(df, "s", "v").count()
      (n, (System.nanoTime() - t0) / 1e9)
    }
    run(sliceCounts.head) // warmup: codegen/broadcast one-shot costs
    sliceCounts.foreach { k =>
      val (rows, dt) = run(k)
      println(f"[qnorm-probe] slices=$k%7d lattice_rows=$rows%9d time=$dt%6.2f s")
    }
    spark.stop()
  }
}
