package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.config.MappingConfig
import graft.io.Sources
import graft.pipeline.Transform

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2 (+ §7.4 extensions), with a DuckDB-equivalent oracle SQL
  * for every SQL-expressible one.
  *
  * Determinism rules shared by the Spark queries and their oracles:
  *  - all percent rounding uses `Rounding.halfUp` (floor(x*p+0.5)/p),
  *    identical IEEE arithmetic in both engines (see Rounding.scala);
  *  - weighted sums use integer-valued weights (l_quantity) or cent-
  *    scaled longs so float summation order can't change results;
  *  - every aggregate/computed column is aliased identically on both
  *    sides (the driver's compare sorts columns by name).
  */
object SparkEntry {


  /** Flagship: full BHT transform pipeline (§3.2) on sf0.001, treating
    * `customer` as the survey wave (TOM = market segment, CSAT = account
    * balance scale, NPS = nation key). Returns the awareness TOM table.
    */
  def entry(spark: SparkSession): DataFrame = {
    val df = Sources.table(spark, "/root/testdata/sf0.001", "customer")
    val cfg = MappingConfig.fromJson(
      """{"respondent_id":"c_custkey","demographics":["c_nationkey"],
         |"awareness":{"tom":"c_mktsegment","unaided":["c_name"],"aided":[]},
         |"usage":{"ever_used":["c_mktsegment"],"bumo":[],"consider":[]},
         |"satisfaction":{"csat":"c_acctbal"},"nps":{"score":"c_nationkey"}}""".stripMargin)
    Transform.run(df, cfg)("awareness_tom")
  }

  // ---------------------------------------------------------------------
  // Operator queries (name -> (spark, sfDir) => DataFrame) and their
  // DuckDB oracle mirrors — defined family-by-family in the Queries*
  // objects (QueriesCore, QueriesText, ...) and composed here. Key sets
  // are disjoint by construction (each family owns its key prefixes);
  // the require below keeps that invariant loud if a key ever lands in
  // two families.
  // ---------------------------------------------------------------------

  private val families: Seq[(Map[String, (SparkSession, String) => DataFrame], Map[String, String])] = Seq(
    (QueriesAudits.queries, QueriesAudits.oracleSql),
    (QueriesConversations.queries, QueriesConversations.oracleSql),
    (QueriesCore.queries, QueriesCore.oracleSql),
    (QueriesCorpus.queries, QueriesCorpus.oracleSql),
    (QueriesDedup.queries, QueriesDedup.oracleSql),
    (QueriesEvents.queries, QueriesEvents.oracleSql),
    (QueriesGraph.queries, QueriesGraph.oracleSql),
    (QueriesMmAgg.queries, QueriesMmAgg.oracleSql),
    (QueriesSimilarity.queries, QueriesSimilarity.oracleSql),
    (QueriesText.queries, QueriesText.oracleSql),
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = {
    val maps = families.map(_._1)
    require(maps.map(_.size).sum == maps.flatMap(_.keys).toSet.size,
      "duplicate query key across family objects")
    maps.reduce(_ ++ _)
  }

  val oracleSql: Map[String, String] = {
    val maps = families.map(_._2)
    require(maps.map(_.size).sum == maps.flatMap(_.keys).toSet.size,
      "duplicate oracle key across family objects")
    maps.reduce(_ ++ _)
  }
}
