package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ops.Warehouse
import graft.tables.Tables

/** Helpers several query families share: the table loaders on the Spark
  * side, and on the oracle side the DuckDB spellings of the text
  * primitives, the cosine and the connected-component closure.
  */
private[graft] object Common {

  def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  def fact(s: SparkSession, d: String): DataFrame =
    Warehouse.factSales(
      t(s, d, "lineitem"), t(s, d, "orders"), t(s, d, "customer"),
      t(s, d, "part"), t(s, d, "supplier"), t(s, d, "nation"), t(s, d, "region"))

  // revenue reports touch only lineitem/orders/customer — skip the other
  // four star joins entirely (join elimination Catalyst can't do for us)
  def factSlim(s: SparkSession, d: String): DataFrame =
    Warehouse.factSalesSlim(
      t(s, d, "lineitem"), t(s, d, "orders"), t(s, d, "customer"))

  // DuckDB spellings of the text-pipeline primitives (kept in lockstep with
  // TextStats.normalize/tokens — DuckDB regexp_replace needs the 'g' flag).
  val normSql = """lower(trim(regexp_replace(text, '\s+', ' ', 'g')))"""
  // string_split('') yields [''] in DuckDB where Spark's tokens() yields []
  // — guard the empty/whitespace case so both engines agree on zero-token
  // documents (the current corpus has none; this pins the contract anyway)
  val toksSql =
    s"CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[]) ELSE string_split($normSql, ' ') END"

  /** DuckDB CTE fragment spelling [[graft.text.Dedup.shingleSets]] over a
    * (doc_id, text) source, exploded to (doc_id, shingle) rows plus per-doc
    * set sizes — the building block of the brute-force shingle-Jaccard
    * oracles (q24/q43/q44). The exploded equi-join form scores only pairs
    * that SHARE a shingle (pairs sharing none have Jaccard 0 and can never
    * pass a positive threshold). */
  def shingleCtes(src: String): String =
    s"t AS (SELECT doc_id, $toksSql AS toks FROM $src), " +
      "sgl AS (SELECT doc_id, CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')] " +
      "ELSE list_transform(range(len(toks) - 2), i -> array_to_string(toks[i+1:i+3], ' ')) END AS sh FROM t), " +
      "e AS (SELECT DISTINCT doc_id, unnest(sh) AS g FROM sgl), " +
      "sz AS (SELECT doc_id, count(*) AS n FROM e GROUP BY 1)"

  /** Undirected brute-force shingle-Jaccard pair CTEs (doc_a < doc_b) on top
    * of [[shingleCtes]]: `pair` (shared-shingle counts) and `sc` (i, u). */
  val shinglePairCtes: String =
    "pair AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, CAST(count(*) AS DOUBLE) AS i " +
      "FROM e x JOIN e y ON x.g = y.g AND x.doc_id < y.doc_id GROUP BY 1, 2), " +
      "sc AS (SELECT doc_a, doc_b, i, CAST(a.n + b.n AS DOUBLE) - i AS u " +
      "FROM pair JOIN sz a ON doc_a = a.doc_id JOIN sz b ON doc_b = b.doc_id)"

  /** The portable cosine of two DOUBLE[] columns (q28's spelling), which
    * the Spark side reproduces bit for bit. */
  def cosSql(a: String, b: String): String =
    s"list_inner_product($a, $b) / (sqrt(list_inner_product($a, $a)) * sqrt(list_inner_product($b, $b)))"

  /** Connected components as a recursive CTE: `r(n, m)` holds every node m
    * reachable from n over `bi(a, b)`, which the caller defines with each
    * edge in both directions; min(m) per n labels n's component. Needs
    * `WITH RECURSIVE`. */
  val closureCte: String =
    "r(n, m) AS (SELECT a, b FROM bi " +
      "UNION SELECT r.n, bi.b FROM r JOIN bi ON bi.a = r.m)"

  /** [[closureCte]] over an `edges(doc_a, doc_b)` pair set. */
  val docPairClosureCtes: String =
    "bi AS (SELECT doc_a AS a, doc_b AS b FROM edges " +
      "UNION ALL SELECT doc_b, doc_a FROM edges), " + closureCte

  /** `removed(n)`: every node of a [[closureCte]] component but its
    * min-id keeper. */
  val removedCte: String =
    "removed AS (SELECT n FROM (SELECT n, min(m) AS mn FROM r GROUP BY n) WHERE mn < n)"
}
