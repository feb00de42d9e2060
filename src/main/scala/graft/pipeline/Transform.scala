package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel
import graft.config.MappingConfig
import graft.bht.{Builders, Kpis}
import graft.ops.{Cleaning, Tabulation}

/** §3.2 orchestration — the reference's "🚀 Transform Data" path
  * (app.py:462-531): mapping config → named result tables
  * (awareness_*, usage_*, satisfaction_summary, nps_summary,
  * brand_dictionary, tabulation).
  *
  * Every builder rescans the input, so the input is cached once
  * (the reference's analogue: `raw_df` lives in memory, app.py:203).
  * All outputs are lazy DataFrames; sinks trigger execution.
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

    val aware = Builders
      .awarenessTables(df, cfg.awareness.tom, cfg.awareness.unaided, cfg.awareness.aided)
      .map { case (k, v) => s"awareness_$k" -> v }

    val usage = Builders
      .usageTables(df, cfg.usage.ever_used, cfg.usage.bumo, cfg.usage.consider)
      .map { case (k, v) => s"usage_$k" -> v }

    val csat = cfg.satisfaction.csat.filter(df.columns.contains)
      .map(c => "satisfaction_summary" -> Kpis.csatSummary(df, c))

    val nps = cfg.nps.score.filter(df.columns.contains)
      .map(c => "nps_summary" -> Kpis.npsSummary(df, c))

    val groups = Map(
      "Unaided" -> cfg.awareness.unaided,
      "Aided" -> cfg.awareness.aided,
      "Ever Used" -> cfg.usage.ever_used,
      "BUMO" -> cfg.usage.bumo,
      "Consideration" -> cfg.usage.consider)
    val brandDict =
      Map("brand_dictionary" -> Builders.brandDictionary(df, cfg.awareness.tom, groups))

    val tab = "tabulation" -> Tabulation.fullTabulation(df)

    (aware ++ usage ++ csat ++ nps ++ brandDict + tab, () => { df.unpersist(); () })
  }
}
