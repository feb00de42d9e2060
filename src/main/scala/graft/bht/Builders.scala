package graft.bht

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.config.MappingConfig
import graft.ops.Tabulation

/** BHT table builders (SURVEY.md §3.2): awareness, usage funnel, brand
  * dictionary. Thin domain layer over the generic tabulation operators.
  */
object Builders {

  /** TOM awareness of `build_awareness_tables` (app.py:385-395): value
    * counts (A1) renamed to (brand, count), when the column is present.
    */
  def awarenessTom(df: DataFrame, tom: Option[String]): Option[DataFrame] =
    tom.filter(df.columns.contains).map { c =>
      Tabulation.valueCounts(df, c).withColumnRenamed("option", "brand")
    }

  /** The selected-count tables (A6) of `build_awareness_tables` (unaided,
    * aided; app.py:396-415) and `build_usage_tables` (ever_used, bumo,
    * consider; app.py:420-434), under the names the reference exports. A
    * group with no column present in `df` gets no table — the
    * reference's presence rule.
    */
  private[graft] def selectedTables(df: DataFrame, cfg: MappingConfig): Seq[(String, Tabulation.FixedTable)] =
    Seq(
      "awareness_unaided" -> cfg.awareness.unaided,
      "awareness_aided" -> cfg.awareness.aided,
      "usage_ever_used" -> cfg.usage.ever_used,
      "usage_bumo" -> cfg.usage.bumo,
      "usage_consider" -> cfg.usage.consider
    ).collect { case (name, cols) if cols.exists(df.columns.contains) =>
      name -> Tabulation.selectedTable(df, cols)
    }

  /** Brand dictionary (app.py:462-476 + 495-503): TOM brands from data
    * values (T10), all other groups from column headers (T7). Long format
    * `(group, brand)` like the exported `brand_dictionary` table.
    */
  def brandDictionary(
      df: DataFrame,
      tom: Option[String],
      groups: Map[String, Seq[String]]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val headerRows: Seq[(String, String)] = groups.toSeq.sortBy(_._1).flatMap {
      case (g, cols) => graft.config.AutoDetect.brandsFromBinaryColumns(cols).map(g -> _)
    }
    val headerDf = headerRows.toDF("group", "brand")
    tom.filter(df.columns.contains) match {
      case Some(c) =>
        Tabulation.distinctValues(df, c)
          .select(lit("TOM").as("group"), col("brand"))
          .unionByName(headerDf)
      case None => headerDf
    }
  }
}
