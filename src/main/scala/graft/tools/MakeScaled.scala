package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Materialize an N× key-shifted copy of an sf directory (SCALE.md §6d):
  * every fact-side table is unioned with N-1 copies whose primary AND
  * foreign keys shift together by i×10⁷ — referential integrity holds
  * within each copy (orders.o_custkey+shift still hits
  * customer.c_custkey+shift), so joins keep their 1× semantics at N×
  * volume. The tiny dims (nation, region) stay 1×, as a real scale-up
  * would have them. Content columns are untouched, which makes the
  * result a DUP-HEAVY worst case for the dedup/ANN families (every
  * document N-way duplicated) — deliberately the hard direction, the
  * same convention as the §6a-6c probes.
  *
  * Usage: runMain graft.tools.MakeScaled <srcSfDir> <dstDir> [factor=10]
  */
object MakeScaled {
  private val Shift = 10000000L

  private val keyCols: Map[String, Seq[String]] = Map(
    "customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"),
    "nation" -> Nil, // dims stay 1×
    "region" -> Nil)

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val dst = args(1)
    val factor = if (args.length > 2) args(2).toInt else 10
    val spark = graft.GraftSession(32)
    keyCols.foreach { case (name, keys) =>
      val base = spark.read.parquet(s"$src/$name.parquet")
      // Copies must occupy disjoint key ranges — a source key >= Shift
      // (e.g. an already-scaled dir re-used as input) would collide with
      // copy i+1's range and silently break the per-copy integrity claim.
      // One combined agg per table; an empty/all-null key maxes to null,
      // which trivially satisfies the bound (nothing to collide).
      if (keys.nonEmpty) {
        val maxRow = base.agg(keys.map(k => max(col(k).cast("long")).as(k)).head,
          keys.map(k => max(col(k).cast("long")).as(k)).tail: _*).head()
        keys.zipWithIndex.foreach { case (k, i) =>
          if (!maxRow.isNullAt(i)) require(maxRow.getLong(i) < Shift,
            s"$name.$k max=${maxRow.getLong(i)} >= shift=$Shift; source too large or already scaled")
        }
      }
      val out: DataFrame =
        if (keys.isEmpty) base
        else (0 until factor).map { i =>
          keys.foldLeft(base)((df, k) => df.withColumn(k, col(k) + lit(i * Shift)))
        }.reduce(_.unionByName(_))
      out.write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"[mkscaled] $name: ${if (keys.isEmpty) "1x dim" else s"${factor}x"}")
    }
    spark.stop()
  }
}
