package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * All queries live in graft.queries.* as [[QueryDef]]s (Spark impl +
  * DuckDB oracle SQL side by side, so the two can't drift apart).
  */
object SparkEntry {

  private[graft] def allDefs: Seq[QueryDef] =
    RelationalQueries.defs ++ FunctionQueries.defs ++ OptimadeQueries.defs ++
      SqlSurfaceQueries.defs ++ FederationQueries.defs ++ PipelineQueries.defs ++
      EventQueries.defs ++ MofScenarioQueries.defs ++ CorpusQueries.defs

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    RelationalQueries.defs.head.fn(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allDefs.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    * Aux-parquet references ([[Aux.Token]]) resolve to the given sf dir. */
  def oracleSqlFor(sfDir: String): Map[String, String] =
    allDefs.flatMap(q => q.oracle.map(o => q.name -> Aux.resolve(o, sfDir))).toMap

  def oracleSql: Map[String, String] = oracleSqlFor(Aux.DefaultSfDir)
}
