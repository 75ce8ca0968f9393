"""Seeded generator for the star-schema, events, documents and embeddings
tables that `SparkEntry.queries` rows read (one parquet file per table).

The shapes follow the tables the queries were written against: TPC-H-like
keys and value ranges, a 30-word document vocabulary with appended-"dup"
near-copies, and 64-dimensional unit-norm float32 embeddings. Same seed and
library versions give byte-identical files.
"""
import hashlib
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.44, 0.14, 0.14, 0.14]

# Row counts at scale factor 0.01 — the scale the oracle-parity gate runs.
SIZES = {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
         "lineitem": 60000, "events": 10000, "users": 150, "documents": 500,
         "embeddings": 500}
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, end, n):
    span = (pd.Timestamp(end) - pd.Timestamp(start)).days
    return pd.Timestamp(start) + pd.to_timedelta(rng.integers(0, span + 1, n), unit="D")


def tables(seed):
    """Return {table name: DataFrame} for one seed."""
    rng = np.random.default_rng(seed)
    n = SIZES
    t = {}
    t["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS})
    t["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    t["customer"] = pd.DataFrame({
        "c_custkey": np.arange(n["customer"], dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": rng.integers(0, 25, n["customer"]).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": rng.choice(SEGMENTS, n["customer"])})
    t["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": rng.integers(0, 25, n["supplier"]).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"])})
    parts = np.arange(n["part"], dtype=np.int64)
    t["part"] = pd.DataFrame({
        "p_partkey": parts,
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(ADJECTIVES, n["part"]),
                                              rng.choice(NOUNS, n["part"]))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n["part"])],
        "p_type": rng.choice(PART_TYPES, n["part"]),
        "p_size": rng.integers(1, 51, n["part"]).astype(np.int32),
        "p_retailprice": np.round(900.0 + (parts % 1000) / 10.0, 2)})
    t["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n["orders"], dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], n["orders"]).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n["orders"]),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n["orders"]),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n["orders"]),
        "o_orderpriority": rng.choice(PRIORITIES, n["orders"])})
    m = n["lineitem"]
    t["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, n["orders"], m).astype(np.int64),
        "l_partkey": rng.integers(0, n["part"], m).astype(np.int64),
        "l_suppkey": rng.integers(0, n["supplier"], m).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, m).astype(np.int32),
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, m),
        "l_discount": rng.integers(0, 11, m) / 100.0,
        "l_tax": rng.integers(0, 9, m) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], m),
        "l_linestatus": rng.choice(["F", "O"], m),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", m)})
    e = n["events"]
    gaps = rng.exponential(30 * 86400.0 / e, e)
    t["events"] = pd.DataFrame({
        "event_id": np.arange(e, dtype=np.int64),
        "ts": pd.Timestamp("2024-01-01") + pd.to_timedelta(
            np.floor(np.cumsum(gaps) * 1e6).astype(np.int64), unit="us"),
        "user_id": rng.integers(0, n["users"], e).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, e),
        "value": _money(rng, 0.01, 490.0, e),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]})
    texts = []
    for i in range(n["documents"]):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))))
    d = n["documents"]
    t["documents"] = pd.DataFrame({
        "doc_id": np.arange(d, dtype=np.int64), "text": texts,
        "lang": rng.choice(LANGS, d, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    v = rng.standard_normal((n["embeddings"], 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n["embeddings"], dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n["embeddings"]).astype(np.int32))})
    return t


def write(seed, out_dir):
    """Write every table as `<out_dir>/<name>.parquet` unless already there;
    return the SHA-256 of the files, which identifies the inputs."""
    done = os.path.join(out_dir, "_SUCCESS")
    if not os.path.exists(done):
        os.makedirs(out_dir, exist_ok=True)
        h = hashlib.sha256()
        for name, df in tables(seed).items():
            tab = df if isinstance(df, pa.Table) else pa.Table.from_pandas(df, preserve_index=False)
            path = os.path.join(out_dir, f"{name}.parquet")
            pq.write_table(tab, path, coerce_timestamps="us")
            h.update(open(path, "rb").read())
        with open(done, "w") as f:
            f.write(h.hexdigest())
    return open(done).read()
