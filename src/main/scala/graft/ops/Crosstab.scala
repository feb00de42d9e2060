package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** A3 — weighted crosstab with percent bases and margins
  * (`crosstab_table`, app.py:118-156), plus A9 margins / A10 grand total.
  *
  * Faithful to the reference's exact arithmetic order:
  *  1. pivot rows×cols summing weights, missing cells → 0 (app.py:131);
  *     null row/col keys are dropped (pandas pivot_table dropna).
  *  2. percent matrix from the UNrounded counts with base total|row|col;
  *     zero denominator → null (app.py:133-142); then ROUND (app.py:143).
  *  3. margins on the counts: Total row = column sums, then Total column =
  *     row sums (so the Total row's Total cell = grand total) (app.py:146-147).
  *  4. margins on the pct matrix are sums of the ALREADY-ROUNDED cells,
  *     except the axis that is the percent base, pinned to 100.0
  *     (app.py:148-149).
  *  5. counts and pct stacked vertically with a `__type__` discriminator
  *     ("count" / "%_total" | "%_row" | "%_col") (app.py:150-156).
  *
  * Scale design: the pivot's column values are collected to the driver
  * (bounded by `maxPivotValues` — pandas would OOM far earlier); the
  * grand-total / per-column denominators are 1-row aggregates broadcast
  * via crossJoin, never an empty-frame window, so nothing funnels the
  * full data through one partition. The only full-data shuffle is the
  * single groupBy+pivot hash aggregation (map-side partials apply).
  */
object Crosstab {

  val MaxPivotValues = 10000
  // Hard cap on the collected (row, col) cell grid — grid-sized driver
  // collects are the documented contract here (see scaladoc); beyond
  // this the input is not crosstab-shaped and we fail loudly.
  val MaxCells = 1000000
  // Parity caveat shared with the reference (app.py:146-149): a data value
  // literally named "Total" collides with the margin labels — pandas
  // overwrites that row/column in place; here it yields a duplicate label.
  // Neither engine errors; margins are only unambiguous when the data has
  // no "Total" category.

  def crosstab(
      df: DataFrame,
      rows: String,
      cols: String,
      weightCol: Option[String] = None,
      percent: String = "total", // total | row | col
      includeTotals: Boolean = true,
      decimals: Int = 1): DataFrame = {
    require(Seq("total", "row", "col").contains(percent), s"bad percent base: $percent")
    val w = Cleaning.weightExpr(df, weightCol)

    // pandas pivot_table drops null keys on both axes
    val base = df
      .filter(Cleaning.qcol(rows).isNotNull && Cleaning.qcol(cols).isNotNull)
      .select(Cleaning.qcol(rows).cast("string").as(rows), Cleaning.qcol(cols).cast("string").as(cols), w.as("__w__"))

    // ONE full-data pass: aggregate to (row, col, weight) cells, then
    // COLLECT the grid — it is summary-sized by definition (bounded by
    // category cardinalities, the same contract as Stats.cellGrid and
    // the reference's own margin handling). Everything downstream —
    // pivot, margins, percent denominators — is computed LOCALLY over
    // the collected grid and emitted as one local relation: the r5
    // shape ran pivot/margins/percent as distributed plans over the
    // tiny local frame, billing ~8 scheduler round-trips of fixed
    // overhead per call (the a3 r4→r5 bench regression); the math is
    // identical (halfUp is pure IEEE ops, weights are summed once
    // distributed, locally only summary cells are added).
    val cellRows = base
      .groupBy(Cleaning.qcol(rows), Cleaning.qcol(cols))
      .agg(sum(col("__w__")).as("__w__"))
      .limit(MaxCells + 1)
      .collect()
    require(cellRows.length <= MaxCells,
      s"crosstab: >$MaxCells distinct (row, col) cells — not crosstab-shaped columns")
    val cellSeq = cellRows.map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSeq

    // Deterministic, bounded pivot column set (sorted ascending like pandas)
    val rowVals: Seq[String] = cellSeq.map(_._1).distinct.sorted
    val colVals: Seq[String] = cellSeq.map(_._2).distinct.sorted
    require(colVals.size <= MaxPivotValues,
      s"crosstab: >$MaxPivotValues distinct values in '$cols' — not a crosstab-shaped column")

    val pow = math.pow(10, decimals)
    def halfUp(x: Double): Double = math.floor(x * pow + 0.5) / pow

    // fill_value=0 densification (app.py:131)
    val cellMap = cellSeq.map { case (r, c, w) => (r, c) -> w }.toMap
    type Matrix = Seq[(String, IndexedSeq[Option[Double]])]
    val countsM: Matrix = rowVals.map(r =>
      r -> colVals.map(c => Option(cellMap.getOrElse((r, c), 0.0))).toIndexedSeq)

    // ---- percent matrix (null denominators, then round; app.py:133-143) ----
    val pctM: Matrix = percent match {
      case "row" =>
        countsM.map { case (r, cs) =>
          val denom = cs.map(_.get).sum
          r -> cs.map(v => if (denom != 0) Some(halfUp(v.get / denom * 100)) else None)
        }
      case "col" =>
        val colSums = colVals.indices.map(j => countsM.map(_._2(j).get).sum)
        countsM.map { case (r, cs) =>
          r -> cs.zipWithIndex.map { case (v, j) =>
            if (colSums(j) != 0) Some(halfUp(v.get / colSums(j) * 100)) else None }
        }
      case _ => // total
        val grand = countsM.map(_._2.map(_.get).sum).sum
        countsM.map { case (r, cs) =>
          r -> cs.map(v => if (grand != 0) Some(halfUp(v.get / grand * 100)) else None)
        }
    }

    // margins (app.py:146-149): Total row first, then Total column over
    // the matrix that already includes it (so Total×Total = grand total).
    // pandas .sum() skips NaN and yields 0.0 even when ALL cells are NaN
    // — hence getOrElse(0.0) in every margin sum.
    def withMargins(m: Matrix, pinRow: Boolean, pinCol: Boolean)
        : Seq[(String, IndexedSeq[Option[Double]], Option[Double])] = {
      val withTotalRow: Matrix =
        if (pinRow) {
          // percent=row: Total row is 100.0 in every column (app.py:148);
          // on an empty matrix there is no row to pin (r5 parity: limit(1))
          if (m.isEmpty) m
          else m :+ ("Total" -> colVals.map(_ => Option(100.0)).toIndexedSeq)
        } else m :+ ("Total" -> colVals.indices.map(j =>
          Option(m.iterator.map(_._2(j).getOrElse(0.0)).sum)).toIndexedSeq)
      withTotalRow.map { case (r, cs) =>
        (r, cs, if (pinCol) Option(100.0) else Option(cs.map(_.getOrElse(0.0)).sum))
      }
    }

    val (countsOut, pctOut) =
      if (includeTotals)
        (withMargins(countsM, pinRow = false, pinCol = false),
         withMargins(pctM, pinRow = percent == "row", pinCol = percent == "col"))
      else
        (countsM.map { case (r, cs) => (r, cs, None: Option[Double]) },
         pctM.map { case (r, cs) => (r, cs, None: Option[Double]) })

    // counts and pct stacked vertically with __type__ (app.py:150-156)
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}
    def mkRows(m: Seq[(String, IndexedSeq[Option[Double]], Option[Double])], tpe: String): Seq[Row] =
      m.map { case (r, cs, tot) =>
        Row.fromSeq((r +: cs.map(_.map(Double.box).orNull)) ++
          (if (includeTotals) Seq(tot.map(Double.box).orNull) else Nil) :+ tpe)
      }
    val schema = StructType(
      (StructField(rows, StringType) +: colVals.map(c => StructField(c, DoubleType))) ++
      (if (includeTotals) Seq(StructField("Total", DoubleType)) else Nil) :+
      StructField("__type__", StringType))
    df.sparkSession.createDataFrame(
      java.util.Arrays.asList((mkRows(countsOut, "count") ++ mkRows(pctOut, s"%_$percent")): _*),
      schema)
  }
}
