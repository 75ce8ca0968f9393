package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{QueryRegistry, QuerySpec}

/** The query-row registry, checked without a Spark session: the shape of
  * every row, and the name-keyed views and row selection built on it. */
class QueryRegistrySpec extends AnyFunSuite {

  private val rows = QueryRegistry.all.specs

  test("296 rows under unique qNN_ names and unique row numbers") {
    assert(rows.size === 296)
    val names = rows.map(_.name)
    assert(names.distinct.size === names.size)
    assert(names.filterNot(_.matches("q\\d+_[a-z0-9_]+")).isEmpty)
    val numbers = names.map(_.takeWhile(_ != '_'))
    assert(numbers.distinct.size === numbers.size)
  }

  test("every row carries a non-blank oracle") {
    assert(rows.filter(_.oracleSql.trim.isEmpty).map(_.name).isEmpty)
  }

  test("no oracle interpolates an unset fragment") {
    // an oracle fragment read before its val is set interpolates as "null";
    // the oracles spell SQL's NULL in upper case only
    val unset = "\\bnull\\b".r
    assert(rows.filter(r => unset.findFirstIn(r.oracleSql).isDefined).map(_.name).isEmpty)
  }

  test("queries and oracleSql views share one key set") {
    assert(SparkEntry.queries.keySet === SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.keySet === rows.map(_.name).toSet)
  }

  test("a registry with a duplicate name does not build") {
    val q = rows.head
    val e = intercept[IllegalArgumentException](
      new QueryRegistry(Seq(q, QuerySpec(q.name, q.run, "SELECT 1"))))
    assert(e.getMessage.contains(q.name))
  }

  test("a row number names its row only; full names keep working") {
    val all = QueryRegistry.all
    assert(all.select("q13").map(_.name) === Seq("q13_top_customers"))
    assert(all.select("q12, q22").map(_.name) ===
      Seq("q12_revenue_by_segment_month", "q22_lang_source_dist"))
    assert(all.select("q130_session_window").map(_.name) ===
      Seq("q130_session_window"))
    assert(all.select("").size === 296)
  }
}
