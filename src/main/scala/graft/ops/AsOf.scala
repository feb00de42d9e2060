package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** As-of (backward-looking) join — for every left row, the latest right
  * row with `right.ts <= left.ts` within the same partition key. The
  * reference has no two-table ops at all (SURVEY §2.4 J1); this is the
  * canonical event-enrichment operator a training-data / analytics
  * pipeline needs (DuckDB ships it natively as ASOF JOIN, which is the
  * oracle for it).
  *
  * Spark-first plan: NOT a per-row range join (quadratic) — union both
  * sides tagged, one shuffle+sort on (partitionKeys, ts, side), then a
  * running `last(struct, ignoreNulls)` window carries the most recent
  * right row forward to the left rows that follow it. One shuffle, fully
  * distributed, skew bounded by the partition key's own skew. All value
  * columns travel in ONE struct, so they always come from the same
  * right row. Equal timestamps: the right row sorts BEFORE the left row
  * (side ordering), so `ts_right == ts_left` matches — same as DuckDB's
  * `ON left.ts >= right.ts`.
  */
object AsOf {

  /** @param valueCols right-side columns carried to the matched left row
    *                  (null when no right row precedes the left row)
    */
  def asofJoin(
      left: DataFrame,
      right: DataFrame,
      partitionCols: Seq[String],
      leftTs: String,
      rightTs: String,
      valueCols: Seq[String]): DataFrame = {
    val leftCols = left.columns.toSeq
    require(!leftCols.exists(valueCols.contains),
      s"value columns ${valueCols.filter(leftCols.contains)} collide with left columns")

    val rv = struct(valueCols.map(Cleaning.qcol): _*)
    // a NULL right timestamp can never satisfy right.ts <= left.ts —
    // drop those rows (they would sort nulls-first and fabricate
    // matches); a NULL left timestamp sorts before every right row and
    // correctly yields no match, same as DuckDB ASOF
    val r = right
      .filter(Cleaning.qcol(rightTs).isNotNull)
      .select(
        (partitionCols.map(Cleaning.qcol) :+
          Cleaning.qcol(rightTs).as("__ts")) :+ rv.as("__rv"): _*)
      .withColumn("__side", lit(0))
    val l0 = left
      .withColumn("__ts", Cleaning.qcol(leftTs))
      .withColumn("__side", lit(1))
      .withColumn("__rv", lit(null))
    // align schemas: right side carries null left columns
    val rl = leftCols.filterNot(partitionCols.contains)
      .foldLeft(r)((d, c) => d.withColumn(c, lit(null)))

    val ordered = (leftCols ++ Seq("__ts", "__side", "__rv")).map(Cleaning.qcol)
    val unioned = l0.select(ordered: _*).unionByName(rl.select(ordered: _*))

    // __rv in the sort is the determinism tiebreak: when several right
    // rows share (key, ts), the greatest valueCols tuple carries — an
    // arbitrary-but-stable choice would differ across runs/engines.
    // (Requires orderable value column types, i.e. no maps.)
    val w = Window.partitionBy(partitionCols.map(Cleaning.qcol): _*)
      .orderBy(col("__ts"), col("__side"), col("__rv"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    unioned
      .withColumn("__rv", last(col("__rv"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
      .select(leftCols.map(Cleaning.qcol) ++
        valueCols.map(c => col("__rv").getField(c).as(c)): _*)
  }

  /** [[asofJoin]] with a staleness bound (pandas `merge_asof
    * tolerance=` semantics): the latest preceding right row matches
    * ONLY if `left.ts − right.ts ≤ toleranceMicros`; a nearest match
    * older than that yields NO match (older candidates are older
    * still, so none can qualify). Timestamp columns only. Same plan as
    * [[asofJoin]] — the matched timestamp rides the carried struct and
    * stale matches null out in a final narrow projection, so the
    * tolerance adds zero shuffles.
    */
  def asofJoinTolerance(
      left: DataFrame,
      right: DataFrame,
      partitionCols: Seq[String],
      leftTs: String,
      rightTs: String,
      valueCols: Seq[String],
      toleranceMicros: Long): DataFrame = {
    require(toleranceMicros >= 0, s"tolerance must be >= 0, got $toleranceMicros")
    val mcol = "__matched_ts"
    require(!left.columns.contains(mcol) && !valueCols.contains(mcol),
      s"column name $mcol is reserved here")
    val joined = asofJoin(left, right.withColumn(mcol, Cleaning.qcol(rightTs)),
      partitionCols, leftTs, rightTs, valueCols :+ mcol)
    // NULL matched ts -> stale is NULL -> otherwise-branch keeps the
    // (already null) values: no special-casing needed
    val stale = unix_micros(Cleaning.qcol(leftTs)) - unix_micros(col(mcol)) >
      toleranceMicros
    joined.select(left.columns.toSeq.map(Cleaning.qcol) ++
      valueCols.map(c =>
        when(stale, lit(null)).otherwise(Cleaning.qcol(c)).as(c)): _*)
  }
}
