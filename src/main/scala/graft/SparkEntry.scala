package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` aggregates every registered operator query (one per SURVEY §2
  * row plus the training-data-pipeline operators); `oracleSql` carries the
  * DuckDB-equivalent SQL for each SQL-expressible query.
  */
object SparkEntry {

  private[graft] def registry: Seq[Q] =
    graft.queries.RelationalQueries.all ++
      graft.queries.PipelineQueries.all ++
      graft.queries.IoQueries.all ++
      graft.queries.MlQueries.all ++
      graft.queries.AdvancedQueries.all ++
      graft.queries.GraphTemporalQueries.all ++
      graft.queries.StreamingQueries.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    registry.head.run(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(o => q.name -> o)).toMap
}
