package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Queries live in `graft.queries.*` tier objects; each carries its DuckDB
  * oracle SQL alongside the Spark implementation (see `queries.Q`).
  */
object SparkEntry {

  private lazy val registry: Map[String, Q] =
    CoreQueries.all ++ AnalyticsQueries.all ++ LlmQueries.all ++
      ExtendedQueries.all ++ MiningQueries.all ++ TemporalQueries.all ++
      LayoutQueries.all ++ SelectionQueries.all ++ MaintenanceQueries.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    registry("q_pipeline").fn(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.view.mapValues(_.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    */
  lazy val oracleSql: Map[String, String] =
    registry.collect { case (k, q) if q.sql.isDefined => k -> q.sql.get }
}
