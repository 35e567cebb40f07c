package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` maps every implemented operator from SURVEY.md §2 (plus the
  * training-data-pipeline extensions) to a DataFrame over the driver
  * testdata dir; `oracleSql` holds the DuckDB-equivalent SQL the driver
  * hash-compares against. Queries without an oracle entry are
  * non-SQL-expressible (custom Scala operators) and get a rows-only check.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    RelationalOps.queries("q01_agg_pricing")(spark, "/root/testdata/sf0.001")

  /** Every query module, each named once. */
  private val modules: Seq[QueryModule] = Seq(
    RelationalOps, TextOps, DedupOps, VectorOps, GraphOps, MultimodalOps,
    WikitextOps, AnalyticsOps, AuditOps, EvalOps, ExperimentOps, StatsOps,
    LayoutOps, graft.streaming.StreamingOps)

  /** Built once; fails at start-up if two modules register one name. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    QueryModule.registry(modules.map(_.queries))

  /** Rebuilt on every call: `WikitextOps.oracle` follows the staged-table
    * root, which `WikitextOps.staged` and `pointOracleAt` move at run time. */
  def oracleSql: Map[String, String] =
    QueryModule.registry(modules.map(_.oracle))
}
