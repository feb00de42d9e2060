package graft.tools

import org.apache.spark.sql.functions._

/** Wide-cardinality probe for [[graft.ops.Stats.spearmanCorr]] — the
  * round-13 verdict's remaining stats scale edge: the two rank
  * lattices are tie-group-sized, so a CONTINUOUS metric (~no ties)
  * makes each lattice row-count-sized — the worst case the
  * MaxSpearmanValues guard exists to bound. The probe measures the
  * ties-heavy shape (1k-value lattice, the x_stats_spearman class)
  * beside the near-continuous shape (lattice ~ row count, cap raised
  * for measurement) over the same corpus, so SCALE.md can pin the
  * cost of the documented worst case rather than assume it.
  * Usage: SPARK_GRAFT_SF_DIR=<dir> runMain graft.tools.SpearmanProbe
  */
object SpearmanProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession(32)
    val o = graft.io.Sources.table(spark, sfDir, "orders")
      .select(floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"),
        col("o_orderkey").cast("long").as("k"))
    val rows = o.count()
    val wide = o.select(countDistinct(col("cents"))).first().getLong(0)
    def time(label: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime()
      f
      println(f"[spearman-probe] $label%-34s rows=$rows%9d time=${(System.nanoTime() - t0) / 1e9}%6.2f s")
    }
    def run(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column,
        cap: Long): Unit = {
      val df = o.select(x.as("x"), y.as("y"))
      graft.ops.Stats.spearmanCorr(df, "x", "y", maxDistinctValues = cap).collect()
    }
    // warmup (codegen, parquet footer reads)
    run(col("cents") % 1000, col("k") % 1000, 100000L)
    time(s"banded (1k x 1k lattice)") {
      run(col("cents") % 1000, col("k") % 1000, 100000L)
    }
    time(s"continuous ($wide-value lattice)") {
      // cap raised FOR THE PROBE: the point is to price the shape the
      // production guard would reject, not to bless it
      run(col("cents"), col("k") % 100000, math.max(wide, rows) + 1)
    }
    spark.stop()
  }
}
