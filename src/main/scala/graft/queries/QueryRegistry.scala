package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One query row: `run` builds the Spark result over a table directory, and
  * `oracleSql` is the DuckDB query that result must hash-equal (column names
  * and result types aligned on both sides; see SURVEY §7 "hard parts"). */
final case class QuerySpec(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracleSql: String)

/** A set of rows under unique names. */
final class QueryRegistry(val specs: Seq[QuerySpec]) {
  private val dups = specs.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
  require(dups.isEmpty, s"duplicate query names: ${dups.toSeq.sorted.mkString(", ")}")

  /** The rows `list` names, in name order. `list` is comma-separated; each
    * item is a row number (`q13` names `q13_top_customers`, never `q130_*`)
    * or a full name. An empty list names every row. */
  def select(list: String): Seq[QuerySpec] = {
    val items = list.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    specs.filter(q => items.isEmpty ||
      items.exists(i => q.name == i || q.name.startsWith(i + "_"))).sortBy(_.name)
  }
}

object QueryRegistry {
  /** Every row, family by family. */
  lazy val all: QueryRegistry = new QueryRegistry(
    WarehouseQueries.specs ++ TextQueries.specs ++ SimQueries.specs ++
      MediaQueries.specs ++ StreamQueries.specs ++ LakeQueries.specs)
}
