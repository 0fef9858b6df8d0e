package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.GraftSession
import graft.queries.{LlmQueries, RelationalQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the declared operator inventory (SURVEY §2 + the
  * LLM-pipeline extensions); every entry with an `oracleSql` twin is
  * hash-compared against DuckDB by the driver at sf0.01.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The mart-shaped join+aggregate (SURVEY §2.3 J2 / §2.4 A1).
    */
  def entry(spark: SparkSession): DataFrame = {
    GraftSession.configure(spark)
    RelationalQueries.queries("j2_join_agg_mart")(spark, "/root/testdata/sf0.001")
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    RelationalQueries.queries ++ LlmQueries.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys (hash-family-dependent ops)
    * get the driver's rows-only check.
    */
  def oracleSql: Map[String, String] =
    RelationalQueries.oracles ++ LlmQueries.oracles

  /** Bench-time oracle splits for staged-state gates (see
    * [[graft.queries.BenchOracles]]): setup trains the state into temp
    * tables (untimed, mirrors the Spark side's *Once staging), query is
    * the timed scoring pass. tools/duckdb_baseline.py verifies each
    * split reproduces the full correctness oracle before using it.
    */
  def oracleBenchSql: Map[String, graft.queries.BenchOracle] =
    graft.queries.BenchOracles.all
}
