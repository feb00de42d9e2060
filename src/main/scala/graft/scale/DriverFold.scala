package graft.scale

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

/** The one driver-collect policy behind every hybrid fold (Bradley–Terry
  * MM, pageRank/HITS/seed-distance/LPA/k-core, near-dup connected
  * components): a caller folds its loop on the DRIVER when its
  * summary-sized frames fit the budget, and runs its unchanged
  * distributed loop otherwise. Callers keep their own type gates.
  *
  * The budget is one session conf, `spark.graft.maxDriverRows` (default
  * 2M rows): a value that is not a whole number fails loudly; `<= 0`
  * always runs distributed; larger values clamp to `Int.MaxValue - 1`,
  * so the `budget + 1` row limit that detects an oversized frame can
  * always be honoured. Rows come back as boxed `Row`s (~100+ B for two
  * or three longs): a frame near the default budget holds a few hundred
  * MB of driver heap while the fold runs.
  */
private[graft] object DriverFold {

  val Conf = "spark.graft.maxDriverRows"
  val DefaultMaxRows = 2000000L

  /** The session's row budget after parsing and clamping; 0 = always
    * distributed. */
  def budget(spark: SparkSession): Int = {
    val rows = spark.conf.getOption(Conf) match {
      case None => BigInt(DefaultMaxRows)
      case Some(raw) =>
        val parsed = scala.util.Try(BigInt(raw.trim)).toOption
        require(parsed.isDefined, s"$Conf must be a whole number of rows, got '$raw'")
        parsed.get
    }
    if (rows <= 0) 0 else rows.min(BigInt(Int.MaxValue - 1)).toInt
  }

  /** `df`'s `cols` on the driver when it has at most [[budget]] rows;
    * None → the caller runs its distributed loop. One
    * `limit(budget + 1).collect()`: the frame is never scanned past
    * budget + 1 rows, and no separate sizing count runs. */
  def collect(df: DataFrame, cols: Column*): Option[Array[Row]] = {
    val b = budget(df.sparkSession)
    if (b == 0) None
    else {
      val rows = df.select(cols: _*).limit(b + 1).collect()
      if (rows.length > b) None else Some(rows)
    }
  }

  /** The folds' one duplicate-row policy for a caller-supplied side
    * frame (warm-start strengths or ranks, teleport mass): its
    * (`key`, `value`) rows as a per-key MAX map keyed by `r.get(0)`, the
    * groupBy(max) + left join the distributed prologues run, so a
    * duplicate key never fans out. Rows with a null key or value are
    * skipped: the join never matches a null key, and max ignores a null
    * value. Some(None) when the frame is absent; None when it is over
    * the budget (→ the caller runs distributed). */
  def maxByKey(df: Option[DataFrame], key: String, value: String)
      : Option[Option[java.util.HashMap[Any, java.lang.Long]]] =
    df.fold[Option[Option[java.util.HashMap[Any, java.lang.Long]]]](Some(None)) { d =>
      collect(d, col(key), col(value)).map { rows =>
        val m = new java.util.HashMap[Any, java.lang.Long]()
        rows.foreach { r =>
          if (!r.isNullAt(0) && !r.isNullAt(1)) {
            val k = r.get(0); val v = r.getLong(1)
            val cur = m.get(k)
            if (cur == null || v > cur) m.put(k, v)
          }
        }
        Some(m)
      }
    }
}
