package graft

import graft.queries._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The declared queries — see SURVEY.md §7.
  *
  * `declared` is every implemented operator from SURVEY.md §2 (plus the
  * LLM-pipeline extensions) as one [[graft.queries.Declared]] entry: its
  * Spark plan and the DuckDB SQL that replays it, with column aliases
  * matching the Spark output exactly. Each family object is named here
  * once.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * the full medallion silver chain (join + split + clean) over the
    * brewery-mapped fixtures.
    */
  def entry(spark: SparkSession): DataFrame =
    pipeline.Breweries.silver(spark, "/root/testdata/sf0.001")

  /** Every declared query, in name order. */
  val declared: Seq[Declared] = Seq(
    ParityQueries.declared, AnalyticsQueries.declared, StatsQueries.declared,
    MiningQueries.declared, ErQueries.declared, DedupQueries.declared,
    SampleQueries.declared, TextQueries.declared, EventQueries.declared,
    SimilarityQueries.declared, VectorQueries.declared,
    MultimodalQueries.declared, CorpusQueries.declared
  ).flatten.sortBy(_.name)

  def queries: Map[String, Query] = declared.map(d => d.name -> d.plan).toMap

  def oracleSql: Map[String, String] =
    declared.map(d => d.name -> d.oracleSql).toMap
}
