package graft.pipeline

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel
import graft.config.MappingConfig
import graft.bht.{Builders, Kpis}
import graft.ops.{Cleaning, Tabulation}
import graft.ops.Tabulation.FixedTable

/** §3.2 orchestration — the reference's "🚀 Transform Data" path
  * (app.py:462-531): mapping config → named result tables
  * (awareness_*, usage_*, satisfaction_summary, nps_summary,
  * brand_dictionary, tabulation).
  *
  * Every builder rescans the input, so the input is cached once
  * (the reference's analogue: `raw_df` lives in memory, app.py:203).
  *
  * Two kinds of table come out:
  *  - Fixed-shape tables — awareness_unaided/aided, usage_*,
  *    satisfaction_summary, nps_summary — have one row per configured
  *    column or a fixed list of metric rows, so their size is bounded by
  *    the config, never by the data. They are computed while Transform
  *    runs, in ONE fused global aggregate over the cached input (after
  *    CSAT's eager max pass, which top-2-box needs), and come back as
  *    driver-resident frames (`LocalRelation`s) with the standalone
  *    operators' schemas. A sink writes them without another Spark job.
  *  - awareness_tom, brand_dictionary and tabulation grow with the
  *    data's distinct values; they stay lazy, distributed frames that
  *    the sinks trigger.
  */
object Transform {

  /** Session-lifetime form: the shared input cache stays persisted (the
    * reference keeps `raw_df` in memory for the whole app session). For
    * bounded-lifetime callers use [[runReleasable]] and invoke the
    * release handle after materializing the outputs.
    */
  def run(
      raw: DataFrame,
      cfg: MappingConfig,
      codebook: Map[String, Map[String, String]] = Map.empty): Map[String, DataFrame] =
    runReleasable(raw, cfg, codebook)._1

  /** As [[run]], plus a release handle that unpersists the shared input
    * cache — call it once every output table has been materialized
    * (sinks written / results collected). The output frames remain
    * valid afterwards; they just recompute from source if re-run.
    */
  def runReleasable(
      raw: DataFrame,
      cfg: MappingConfig,
      codebook: Map[String, Map[String, String]] = Map.empty): (Map[String, DataFrame], () => Unit) = {

    val df0 = if (codebook.nonEmpty) Cleaning.applyCodebook(raw, codebook) else raw
    val df = df0.persist(StorageLevel.MEMORY_AND_DISK)

    val csat = cfg.satisfaction.csat.filter(df.columns.contains)
      .map(c => "satisfaction_summary" -> Kpis.csatTable(c, Kpis.csatMax(df, c)))

    val nps = cfg.nps.score.filter(df.columns.contains)
      .map(c => "nps_summary" -> Kpis.npsTable(c))

    val fixed = onDriver(df, Builders.selectedTables(df, cfg) ++ csat ++ nps)

    val tom = Builders.awarenessTom(df, cfg.awareness.tom).map("awareness_tom" -> _)

    val groups = Map(
      "Unaided" -> cfg.awareness.unaided,
      "Aided" -> cfg.awareness.aided,
      "Ever Used" -> cfg.usage.ever_used,
      "BUMO" -> cfg.usage.bumo,
      "Consideration" -> cfg.usage.consider)
    val brandDict =
      Map("brand_dictionary" -> Builders.brandDictionary(df, cfg.awareness.tom, groups))

    val tab = "tabulation" -> Tabulation.fullTabulation(df)

    (fixed ++ tom ++ brandDict + tab, () => { df.unpersist(); () })
  }

  /** Every fixed-shape table from ONE global aggregate over `df`: each
    * table's aggregates under positional aliases, each table's row array
    * beside them, one row collected. The driver only unpacks each array
    * into the table's rows; Spark computes every value, with the same
    * expressions as the standalone operator, whose schema (names, types,
    * nullability) the driver-resident frame takes. No job for no table.
    */
  private def onDriver(df: DataFrame, tables: Seq[(String, FixedTable)]): Map[String, DataFrame] =
    if (tables.isEmpty) Map.empty
    else {
      def alias(i: Int, j: Int) = s"__t${i}_$j"
      val aggs = for {
        ((_, t), i) <- tables.zipWithIndex
        ((_, a), j) <- t.aggs.zipWithIndex
      } yield a.as(alias(i, j))
      val rows = tables.zipWithIndex.map { case ((_, t), i) =>
        t.rows(m => col(alias(i, t.aggs.indexWhere(_._1 == m))))
      }
      val row = df.agg(aggs.head, aggs.tail: _*).select(rows: _*).collect()(0)
      tables.zipWithIndex.map { case ((name, t), i) =>
        name -> df.sparkSession.createDataFrame(row.getSeq[Row](i).asJava, t.of(df).schema)
      }.toMap
    }
}
