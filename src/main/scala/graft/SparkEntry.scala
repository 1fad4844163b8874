package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Util.QFn

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator registers a query here; every oracle-
  * expressible one also registers matching DuckDB SQL (same column
  * names, same deterministic ORDER BY — see graft.Util for the
  * float/timestamp parity conventions).
  */
object SparkEntry {
  /** Flagship query (SURVEY §7.2 freshness slice) on sf0.001; driver
    * smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    ops.Validate.v1Freshness(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. Each
    * query is built after [[plans.Plans.install]], so a session built
    * outside [[Session.local]] and without `spark.sql.extensions`
    * (such as a benchmark client's) plans it with the custom optimizer
    * rules and planner strategies too. */
  def queries: Map[String, QFn] = registered.map { case (name, fn) =>
    name -> ((spark: SparkSession, sfDir: String) => {
      plans.Plans.install(spark)
      fn(spark, sfDir)
    })
  }

  private def registered: Map[String, QFn] =
    ops.Validate.queries ++
    ops.Relational.queries ++
    ops.Semi.queries ++
    ops.Config.queries ++
    ops.Acl.queries ++
    ops.Text.queries ++
    ops.Dedup.queries ++
    ops.Vector.queries ++
    ops.Multimodal.queries ++
    ops.Sinks.queries ++
    ops.Flow.queries ++
    streaming.EventsStream.queries ++
    plans.Plans.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    ops.Validate.oracles ++
    ops.Relational.oracles ++
    ops.Semi.oracles ++
    ops.Config.oracles ++
    ops.Acl.oracleSql ++
    ops.Text.oracles ++
    ops.Dedup.oracles ++
    ops.Vector.oracles ++
    ops.Multimodal.oracles ++
    ops.Sinks.oracles ++
    ops.Flow.oracles ++
    streaming.EventsStream.oracles ++
    plans.Plans.oracles
}
