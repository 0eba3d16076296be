package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.{Changegen, Pipeline, Query, Relational}

/** Driver contract — see SURVEY.md §7.
  *
  * Every registered query is one [[graft.queries.Query]] record in its
  * family file; `queries` and `oracleSql` are projections of the one
  * name-keyed index over all three families. Column names are aligned
  * between both sides — the driver sorts columns by name before
  * hashing.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q3_join_agg")(spark, "/root/testdata/sf0.001")

  private lazy val registry: Map[String, Query] =
    Query.index(Relational.queries ++ Changegen.queries ++ Pipeline.queries)

  /** One entry per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.view.mapValues(_.build).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  lazy val oracleSql: Map[String, String] = registry.view.mapValues(_.oracle).toMap
}
