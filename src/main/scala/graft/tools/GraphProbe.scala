package graft.tools

import org.apache.spark.sql.functions._

/** PageRank scale probe: the oracle graph is 64 nodes (cost there is
  * iteration count, not data mass), so this probe measures the
  * operator at REAL graph sizes — synthetic power-law-ish edge tables
  * at 1M/5M/20M edges over 100k/500k/2M nodes — and reports seconds
  * per iteration, the number that extrapolates to a domain graph
  * (~1e8 nodes / 1e10 edges shuffles the same plan shape per
  * iteration). Measurement tooling only.
  *
  * Usage: runMain graft.tools.GraphProbe [maxMillionsEdges]
  */
object GraphProbe {
  def main(args: Array[String]): Unit = {
    val maxM = args.headOption.map(_.toInt).getOrElse(20)
    val spark = graft.GraftSession(16)

    for (millions <- Seq(1, 5, 20).filter(_ <= maxM)) {
      val edges = millions.toLong * 1000000L
      val nodes = edges / 10L
      // skewed dst (quadratic hash mod) so hubs exist, like real link
      // graphs; src uniform
      val e = spark.range(edges).select(
        pmod(col("id") * 2654435761L, lit(nodes)).as("src"),
        pmod((col("id") % 100000L) * (col("id") % 100000L) + col("id") % 977L,
          lit(nodes)).as("dst"))
      for (iters <- Seq(1, 5)) {
        val t0 = System.nanoTime()
        val n = graft.scale.Graph.pageRank(e, "src", "dst", iterations = iters).count()
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"[graphprobe] edges=${millions}M nodes=${nodes / 1000}k " +
          f"iters=$iters wall=$dt%.1fs ranked_nodes=$n")
      }
      // HITS pays 2 gathers + 2 one-row MAX passes + 2 |nodes|-row
      // checkpoints per iteration vs pageRank's single gather — the
      // probe pins the measured multiple
      val t1 = System.nanoTime()
      val h = graft.scale.Graph.hits(e, "src", "dst", iterations = 4).count()
      val dh = (System.nanoTime() - t1) / 1e9
      println(f"[graphprobe] edges=${millions}M nodes=${nodes / 1000}k " +
        f"hits_iters=4 wall=$dh%.1fs scored_nodes=$h")
      val t2 = System.nanoTime()
      val s = graft.scale.Graph.seedDistance(e, "src", "dst",
        spark.range(0, nodes, 1000L).select(col("id").as("node")), maxHops = 4).count()
      val ds = (System.nanoTime() - t2) / 1e9
      println(f"[graphprobe] edges=${millions}M nodes=${nodes / 1000}k " +
        f"seeddist_hops=4 wall=$ds%.1fs nodes=$s")
      // LPA per round = one symmetric-edge join + vote agg + packed
      // argmin — the pageRank gather shape with the vote key doubling
      // the shuffle width; the probe pins the measured multiple
      val t3 = System.nanoTime()
      val l = graft.scale.Graph.labelPropagation(e, "src", "dst",
        iterations = 3).count()
      val dl = (System.nanoTime() - t3) / 1e9
      println(f"[graphprobe] edges=${millions}M nodes=${nodes / 1000}k " +
        f"lpa_rounds=3 wall=$dl%.1fs labeled_nodes=$l")
    }
    spark.stop()
  }
}
