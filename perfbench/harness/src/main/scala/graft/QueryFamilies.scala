package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The `Queries*` family objects are package-private; the benchmark
  * samples and reports keys by family, so it reads them from here. */
object QueryFamilies {
  /** Every family by its object name without the `Queries` prefix. */
  val all: Seq[(String, Map[String, (SparkSession, String) => DataFrame])] = Seq(
    "audits" -> QueriesAudits.queries,
    "conversations" -> QueriesConversations.queries,
    "core" -> QueriesCore.queries,
    "corpus" -> QueriesCorpus.queries,
    "dedup" -> QueriesDedup.queries,
    "events" -> QueriesEvents.queries,
    "graph" -> QueriesGraph.queries,
    "mmagg" -> QueriesMmAgg.queries,
    "similarity" -> QueriesSimilarity.queries,
    "text" -> QueriesText.queries)
}
