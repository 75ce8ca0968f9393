"""Workload definitions: which ops a pass runs, in which order, which module
each op exercises, and the expected results of the lake flow.

Two workloads are kept; see BENCHMARK.json for why each was chosen.
`warehouse` runs star-schema and event analytics rows of `SparkEntry.queries`
interleaved with the NB 01 lake flow (`harness/src/LakeFlow.scala`).
`curation` runs text, similarity and media curation rows.
"""
import random

from digest import of_sql

# Every 24th row, from the 13th, of the SparkEntry rows that read only the
# star-schema and events tables (no documents, embeddings, media or lake;
# q296 excluded). Rows that call graft.stream.Events are tagged "stream".
WAREHOUSE_ROWS = [
    ("q13", "ops"), ("q54", "stream"), ("q86", "ops"), ("q121", "ops"), ("q159", "ops"),
]

LAKE_STEPS = [
    ("ingest", "ingest"), ("lake.read_latest", "lake"), ("lake.append", "lake"),
    ("lake.append_items", "lake"), ("lake.read_changes", "lake"), ("lake.merge", "lake"),
    ("lake.time_travel", "lake"), ("lake.delete", "lake"), ("lake.replace_where", "lake"),
    ("lake.fact_join", "lake"), ("lake.compact", "lake"), ("lake.vacuum", "lake"),
    ("lake.read_final", "lake"),
]

# A quarter of the reference generator's published scale (generate_data.py).
LAKE_SCALE = {"lake_customers": 2500, "lake_products": 500, "lake_orders": 25000}
# The lake flow's raw CSVs are fixed, like the query rows' tables; the run's
# seed draws the mutation keys.
LAKE_SEED = 20240101
# Draws where the lake flow's steps fall among the warehouse query rows.
ORDER_SEED = 1

CURATION_ROWS = [
    ("q186", "text"), ("q168", "text"), ("q194", "sim"), ("q224", "media"),
    # decode rows: PNG, JPEG, WAV, AVI
    ("q217", "media"), ("q252", "media"), ("q218", "media"), ("q230", "media"),
]

WORKLOADS = ("warehouse", "curation")

LAKE_CALLS = {
    "lake.write_ms": ("lake.append", "lake.append_items", "lake.replace_where"),
    "lake.read_ms": ("lake.read_latest", "lake.read_changes", "lake.time_travel",
                     "lake.fact_join", "lake.read_final"),
    "lake.merge_ms": ("lake.merge",),
    "lake.delete_ms": ("lake.delete",),
    "lake.maintain_ms": ("lake.compact", "lake.vacuum"),
}


def plan(workload, seed):
    """(ops as [(name, module)], extra plan settings) for one run.

    The op order is fixed: a run times each op's first execution, which
    also pays for code the ops share and that runs for the first time, so
    an op's time depends on what ran before it. The seed draws the lake
    flow's mutation keys."""
    if workload == "curation":
        return list(CURATION_ROWS), {}
    order = random.Random(ORDER_SEED)
    total = len(WAREHOUSE_ROWS) + len(LAKE_STEPS)
    at = set(order.sample(range(total), len(LAKE_STEPS)))
    lake, rows = iter(LAKE_STEPS), iter(WAREHOUSE_ROWS)
    ops = [next(lake) if i in at else next(rows) for i in range(total)]
    rng = random.Random(seed)
    extra = dict(LAKE_SCALE, lake_seed=LAKE_SEED)
    extra.update({"param.r1": rng.randrange(50), "param.r2": rng.randrange(50),
                  "param.r3": rng.randrange(50), "param.r4": rng.randrange(97)})
    return ops, extra


def lake_expected(con, raw_dir, p):
    """Expected digests of the lake flow's read steps, replayed in DuckDB
    from the raw CSVs with the run's mutation keys."""
    def csv(name, cols):
        spec = ", ".join(f"'{c}': '{t}'" for c, t in cols)
        return f"read_csv('{raw_dir}/{name}.csv/*.csv', header=true, columns={{{spec}}})"
    con.execute("CREATE OR REPLACE VIEW customers AS SELECT * FROM " + csv("customers", [
        ("customer_id", "BIGINT"), ("first_name", "VARCHAR"), ("last_name", "VARCHAR"),
        ("email", "VARCHAR"), ("signup_date", "DATE"), ("city", "VARCHAR"), ("age", "INTEGER")]))
    con.execute("CREATE OR REPLACE VIEW products AS SELECT * FROM " + csv("products", [
        ("product_id", "BIGINT"), ("product_name", "VARCHAR"), ("product_type", "VARCHAR"),
        ("category", "VARCHAR"), ("price", "DOUBLE"), ("cost", "DOUBLE"),
        ("available_stock", "INTEGER")]))
    con.execute("CREATE OR REPLACE TABLE o0 AS SELECT * FROM " + csv("orders", [
        ("order_id", "BIGINT"), ("customer_id", "BIGINT"), ("order_date", "DATE"),
        ("total_amount", "DOUBLE"), ("payment_type", "VARCHAR"), ("status", "VARCHAR")]))
    con.execute("CREATE OR REPLACE TABLE i0 AS SELECT * FROM " + csv("order_items", [
        ("order_item_id", "BIGINT"), ("order_id", "BIGINT"), ("product_id", "BIGINT"),
        ("quantity", "INTEGER"), ("unit_price", "DOUBLE"), ("line_total", "DOUBLE")]))
    r1, r2, r3, r4 = p["param.r1"], p["param.r2"], p["param.r3"], p["param.r4"]
    con.execute(f"""CREATE OR REPLACE TABLE ia AS
        SELECT order_item_id + 100000000 AS order_item_id, order_id + 10000000 AS order_id,
               product_id, quantity, unit_price, line_total
        FROM i0 WHERE order_id % 50 = {r1}""")
    con.execute(f"""CREATE OR REPLACE TABLE o1 AS SELECT * FROM o0 UNION ALL
        SELECT order_id + 10000000 AS order_id, customer_id, order_date, total_amount,
               payment_type, status FROM o0 WHERE order_id % 50 = {r1}""")
    con.execute(f"""CREATE OR REPLACE TABLE u AS
        SELECT order_id, customer_id, order_date, total_amount, payment_type,
               'returned' AS status FROM o1 WHERE order_id % 50 = {r2}
        UNION ALL SELECT order_id + 20000000, customer_id, order_date, total_amount,
               payment_type, status FROM o1 WHERE order_id % 50 = {r3} AND order_id < 10000000""")
    con.execute("""CREATE OR REPLACE TABLE o2 AS
        SELECT * FROM o1 WHERE order_id NOT IN (SELECT order_id FROM u) UNION ALL SELECT * FROM u""")
    con.execute(f"""CREATE OR REPLACE TABLE o4 AS
        WITH o3 AS (SELECT * FROM o2 WHERE NOT coalesce(order_id % 97 = {r4}, false))
        SELECT * FROM o3 WHERE NOT coalesce(payment_type = 'swish', false)
        UNION ALL SELECT order_id, customer_id, order_date, total_amount, payment_type,
               'cancelled' AS status FROM o3 WHERE payment_type = 'swish'""")
    fact = """SELECT category, status, city, count(*) AS n_items, sum(quantity)::BIGINT AS units,
               sum(CAST(round(line_total * 100) AS BIGINT)) AS cents
        FROM (SELECT * FROM i0 UNION ALL SELECT * FROM ia) i
        JOIN o4 USING (order_id) JOIN products USING (product_id)
        JOIN customers USING (customer_id) GROUP BY category, status, city"""
    original = of_sql(con, "SELECT * FROM o0")
    return {
        "lake.read_latest": original,
        "lake.time_travel": original,
        "lake.read_changes": of_sql(con, "SELECT * FROM ia"),
        "lake.fact_join": of_sql(con, fact),
        "lake.read_final": of_sql(con, "SELECT * FROM o4"),
    }
