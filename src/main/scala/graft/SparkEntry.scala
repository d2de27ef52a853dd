package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.Tables
import graft.queries.{CbPort, DsPort, DsShapes, FunctionQueries, Pipeline, PipelineOracles, Relational, Relational2, SourceQueries, TemporalQueries, TpchPort}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Revenue per region — exercises scan, broadcast dim joins, shuffle
    * joins, 2-phase agg and sort in one plan.
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val c = Tables.load(spark, dir, "customer")
    val o = Tables.load(spark, dir, "orders")
    val l = Tables.load(spark, dir, "lineitem")
    val n = broadcast(Tables.load(spark, dir, "nation"))
    val r = broadcast(Tables.load(spark, dir, "region"))
    c.join(o, col("c_custkey") === col("o_custkey"))
      .join(l, col("o_orderkey") === col("l_orderkey"))
      .join(n, col("c_nationkey") === col("n_nationkey"))
      .join(r, col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
           count(lit(1)).as("n_items"))
      .orderBy(col("r_name"))
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Relational.queries ++ Relational2.queries ++ SourceQueries.queries ++
      FunctionQueries.queries ++ TemporalQueries.queries ++
      DsShapes.queries ++ Pipeline.queries ++ TpchPort.queries ++ CbPort.queries ++
      DsPort.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    Relational.oracles ++ Relational2.oracles ++ SourceQueries.oracles ++
      FunctionQueries.oracles ++ TemporalQueries.oracles ++
      DsShapes.oracles ++ PipelineOracles.oracles ++ TpchPort.oracles ++ CbPort.oracles ++
      DsPort.oracles
}
