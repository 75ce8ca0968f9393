package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ops.Warehouse
import graft.queries.{Common, QueryRegistry}

/** Entry points: the flagship `entry`, plus `queries` and `oracleSql`,
  * name-keyed views of [[graft.queries.QueryRegistry]], where each row is
  * written once beside its DuckDB oracle. */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Warehouse.revenueBySegmentMonth(Common.fact(spark, "/root/testdata/sf0.001"))

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    QueryRegistry.all.specs.map(q => q.name -> q.run).toMap

  lazy val oracleSql: Map[String, String] =
    QueryRegistry.all.specs.map(q => q.name -> q.oracleSql).toMap
}
