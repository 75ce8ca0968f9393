package graft
package queries

import org.apache.spark.sql.functions._

import graft.functions.money
import graft.ops.{Merge, Warehouse}
import graft.tables.Tables
import Common._

/** Lake rows (reference NB 01): merge / SCD2, the seeded data generator,
  * governed publishing, and the lake's materialized views and version drift. */
private[queries] object LakeQueries {

  def specs: Seq[QuerySpec] = Seq(
    // --- MERGE INTO / upsert (lakehouse write path; plan-level twin of
    // LakeTable.merge): updates + inserts + conditional deletes in one pass ---
    QuerySpec("q70_merge_upsert", { (s, d) =>
      val o = t(s, d, "orders")
      val upd = o.filter(col("o_orderkey") % 7 === 0)
        .withColumn("o_orderstatus", lit("U"))
        .withColumn("o_totalprice", money.r2(col("o_totalprice") * 1.1))
      val ins = o.filter(col("o_orderkey") % 1000 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + lit(100000000L))
      Merge.upsertPlan(o, upd.unionByName(ins), Seq("o_orderkey"),
        deleteWhen = Some(col("o_orderkey") % 49 === 0))
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    },
      ("WITH upd AS (" +
        s"SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus, ${money.r2Sql("o_totalprice * 1.1")} AS o_totalprice " +
        "FROM orders WHERE o_orderkey % 7 = 0 " +
        "UNION ALL SELECT o_orderkey + 100000000, o_custkey, o_orderstatus, o_totalprice " +
        "FROM orders WHERE o_orderkey % 1000 = 0) " +
        "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders " +
        "WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd) " +
        // Delta parity: the delete marker fires only WHEN MATCHED — a marked
        // row whose key is absent from the target is inserted, not dropped
        "UNION ALL SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM upd " +
        "WHERE NOT (o_orderkey % 49 = 0 " +
        "AND o_orderkey IN (SELECT o_orderkey FROM orders))")),
    // --- SCD Type-2 dimension build (collapse runs -> validity intervals) ---
    QuerySpec("q71_scd2_events", ((s, d) =>
      Merge.scd2(Tables.events(s, d).select("user_id", "event_type", "ts", "event_id"),
        "user_id", "event_type", "ts", "event_id")),
      ("WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, event_id FROM events), " +
        "c AS (SELECT *, lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM e), " +
        "f AS (SELECT user_id, event_type, ts AS valid_from, event_id FROM c " +
        "WHERE prev IS NULL OR prev <> event_type), " +
        "s AS (SELECT user_id, event_type, valid_from, " +
        "lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from, event_id) AS valid_to FROM f) " +
        "SELECT user_id, event_type, valid_from, valid_to, valid_to IS NULL AS is_current FROM s")),
    // --- composed reporting layer (reference NB 05): fact -> roll-up ->
    // top-customer -> share-of-parent, PUBLISHED through the ACID lake
    // write under CHECK constraints and read back — the returned rows have
    // survived the governed-artifact path, not just the query ---
    QuerySpec("q161_reporting_summary", { (s, d) =>
      val summary = Warehouse.reportingSummary(factSlim(s, d))
      val dir = graft.tables.TempLakes.create("graft_report_lake")
      val lake = new graft.tables.LakeTable(s, dir)
      lake.write(summary, "reporting_summary", "overwrite",
        constraints = Seq(
          ("revenue_nonneg", "revenue >= 0"),
          ("share_bounded", "share_of_total >= 0 AND share_of_total <= 1"),
          ("rank_positive", "revenue_rank >= 1"))): Unit
      lake.read("reporting_summary")
    },
      (s"WITH pc AS (SELECT c_mktsegment, c_custkey, " +
        s"CAST(sum(CAST(floor((${money.r2Sql("l_extendedprice * (1.0 - l_discount)")}) * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS cust_cents, " +
        "count(DISTINCT o_orderkey) AS cust_orders " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey GROUP BY 1, 2), " +
        "leaf AS (SELECT c_mktsegment, CAST(sum(cust_cents) AS BIGINT) AS seg_cents, " +
        "CAST(sum(cust_orders) AS BIGINT) AS n_orders, count(*) AS n_customers FROM pc GROUP BY 1), " +
        "tc AS (SELECT c_mktsegment, c_custkey, cust_cents, " +
        "row_number() OVER (PARTITION BY c_mktsegment ORDER BY cust_cents DESC, c_custkey) AS rn FROM pc) " +
        "SELECT leaf.c_mktsegment, CAST(seg_cents AS DOUBLE) / 100.0 AS revenue, " +
        "n_orders, n_customers, " +
        "round(CAST(seg_cents AS DOUBLE) / CAST(sum(seg_cents) OVER () AS DOUBLE), 6) AS share_of_total, " +
        "CAST(rank() OVER (ORDER BY seg_cents DESC, leaf.c_mktsegment) AS INTEGER) AS revenue_rank, " +
        "t.c_custkey AS top_custkey, CAST(t.cust_cents AS DOUBLE) / 100.0 AS top_cust_revenue " +
        "FROM leaf JOIN tc t ON leaf.c_mktsegment = t.c_mktsegment AND t.rn = 1")),
    // --- seeded data generator gate (reference src/generate_data.py): the
    // oracle pins the published scale and the integrity contracts the
    // reference's validator checks (FK closure, total reconciliation) ---
    QuerySpec("q162_datagen_gate", { (s, d) =>
      val cfg = graft.ingest.DataGen.Config()
      // shared-subtree persists (Caching contract, harness releaseAll
      // reclaims): the six 1-row aggregate branches below reference the
      // generated frames 2-3x each, and ReuseExchange does not merge the
      // re-planned generator subtrees — unpersisted, the whole generation
      // pipeline re-runs per branch (measured 5.1 -> ~2 s at sf0.1)
      val custs = graft.ingest.DataGen.customers(s, cfg).persist()
      val prods = graft.ingest.DataGen.products(s, cfg).persist()
      val (orders0, items0) = graft.ingest.DataGen.ordersAndItems(s, cfg)
      val orders = orders0.persist()
      val items = items0.persist()
      val nc = custs.agg(count(lit(1)).as("n_customers"))
      val np = prods.agg(count(lit(1)).as("n_products"))
      val no = orders.agg(count(lit(1)).as("n_orders"))
      val fkC = orders.join(custs.select("customer_id"),
          Seq("customer_id"), "left_anti")
        .agg((count(lit(1)) === 0).as("fk_customers_ok"))
      val fkP = items.join(prods.select("product_id"),
          Seq("product_id"), "left_anti")
        .agg((count(lit(1)) === 0).as("fk_products_ok"))
      val recon = orders.join(
          items.groupBy("order_id").agg(round(sum("line_total"), 2).as("s")),
          Seq("order_id"))
        .agg((sum(when(abs(col("total_amount") - col("s")) > 0.001, 1L)
          .otherwise(0L)) === 0).as("totals_ok"))
      nc.crossJoin(np).crossJoin(no).crossJoin(fkC).crossJoin(fkP)
        .crossJoin(recon)
    },
      // generator scale + integrity pinned to the reference's published
      // contract (seeded, so the counts are constants)
      ("SELECT CAST(10000 AS BIGINT) AS n_customers, CAST(2000 AS BIGINT) AS n_products, " +
        "CAST(100000 AS BIGINT) AS n_orders, TRUE AS fk_customers_ok, " +
        "TRUE AS fk_products_ok, TRUE AS totals_ok")),
    QuerySpec("q211_version_drift", { (s, d) =>
      val docs = t(s, d, "documents").select("doc_id", "text").persist()
      val dir = graft.tables.TempLakes.create("graft_drift_lake")
      val lake = new graft.tables.LakeTable(s, dir)
      lake.write(docs.filter(col("doc_id") % 2 === 0), "docs", "overwrite"): Unit
      lake.write(docs.filter(col("doc_id") % 2 === 1), "docs", "append"): Unit
      graft.tables.Materialize.versionDrift(lake, "docs", 0L, 1L)
    },
      // version-drift replay: v0 = even docs, v1 = whole corpus; q165's
      // micronat JS arithmetic over the two token streams
      (s"WITH tk AS (SELECT TRUE AS is_a, unnest($toksSql) AS tok FROM documents WHERE doc_id % 2 = 0 " +
        s"UNION ALL SELECT FALSE, unnest($toksSql) FROM documents), " +
        "g AS (SELECT tok, CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS ne, " +
        "CAST(sum(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT) AS nt FROM tk GROUP BY tok), " +
        "t AS (SELECT CAST(sum(ne) AS BIGINT) AS tne, CAST(sum(nt) AS BIGINT) AS tnt FROM g), " +
        "terms AS (SELECT ne, nt, tne, tnt, " +
        "CASE WHEN ne > 0 THEN ne * CAST(floor(ln(2.0 * (CAST(ne AS DOUBLE) * CAST(tnt AS DOUBLE)) / " +
        "(CAST(ne AS DOUBLE) * CAST(tnt AS DOUBLE) + CAST(nt AS DOUBLE) * CAST(tne AS DOUBLE))) * 1000000.0 + 0.5) AS BIGINT) ELSE 0 END AS se, " +
        "CASE WHEN nt > 0 THEN nt * CAST(floor(ln(2.0 * (CAST(nt AS DOUBLE) * CAST(tne AS DOUBLE)) / " +
        "(CAST(ne AS DOUBLE) * CAST(tnt AS DOUBLE) + CAST(nt AS DOUBLE) * CAST(tne AS DOUBLE))) * 1000000.0 + 0.5) AS BIGINT) ELSE 0 END AS st " +
        "FROM g CROSS JOIN t) " +
        "SELECT CAST(max(tne) AS BIGINT) AS n_a_tokens, CAST(max(tnt) AS BIGINT) AS n_b_tokens, " +
        "count(*) AS n_vocab, " +
        "round((CAST(sum(se) AS DOUBLE) / CAST(max(tne) AS DOUBLE) + " +
        "CAST(sum(st) AS DOUBLE) / CAST(max(tnt) AS DOUBLE)) / 2000000.0, 6) AS js_nats " +
        "FROM terms")),
    QuerySpec("q189_novelty_view", { (s, d) =>
      // shared-subtree persist (Caching contract): the slice feeds two base
      // writes, the rebuild aggregation, and the final join-back — four
      // scans of the same projection without it
      val docs = t(s, d, "documents").filter(col("doc_id") % 2 === 0)
        .select("doc_id", "text").persist()
      val dir = graft.tables.TempLakes.create("graft_novelty_view_lake")
      val lake = new graft.tables.LakeTable(s, dir)
      lake.write(docs.filter(col("doc_id") % 3 =!= 0), "docs", "overwrite"): Unit
      graft.tables.Materialize.refreshNovelty(lake, "docs", "docs_novelty"): Unit
      lake.write(docs.filter(col("doc_id") % 3 === 0), "docs", "append"): Unit
      graft.tables.Materialize.refreshNovelty(lake, "docs", "docs_novelty"): Unit
      graft.tables.Materialize.noveltyFromView(lake, "docs_novelty", docs)
    },
      // novelty-view replay: the O(delta) materialized path must equal the
      // full recompute — q183's SQL over the same half-corpus slice
      (s"WITH ${shingleCtes("(SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0)")}, " +
        "fst AS (SELECT g, min(doc_id) AS first_doc FROM e GROUP BY 1) " +
        "SELECT e.doc_id, count(*) AS n_grams, " +
        "CAST(sum(CASE WHEN fst.first_doc = e.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel, " +
        "round(CAST(sum(CASE WHEN fst.first_doc = e.doc_id THEN 1 ELSE 0 END) AS DOUBLE) / " +
        "CAST(count(*) AS DOUBLE), 6) AS novelty " +
        "FROM e JOIN fst USING (g) GROUP BY e.doc_id")))
}
