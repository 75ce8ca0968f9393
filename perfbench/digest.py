"""Order-independent digest of a result table, computed the same way as
`harness/src/Digest.scala` computes it for a Spark result.

Columns are taken in name order. Each value is rendered as text: null and
NaN as "\\0N", integers and integral floats as "i<int>", other floats as
"f<IEEE-754 bits>", strings as "s<text>", dates and timestamps as
"t<microseconds since the epoch>", lists, structs (fields by name) and maps
(entries sorted) recursively. A row's hash is the first 8 bytes of the MD5
of its values joined by U+001F; the digest is (rows, sum of hashes mod
2^64, column names). Integer and float columns holding the same numbers
digest equally, as tools/check.py treats them.
"""
import datetime
import hashlib
import math
import struct

import pyarrow as pa

NULL = "\0N"
EPOCH = datetime.datetime(1970, 1, 1)
EPOCH_DATE = datetime.date(1970, 1, 1)
US = datetime.timedelta(microseconds=1)


def num(x):
    x = float(x)
    if x != x:
        return NULL
    if math.isfinite(x) and x == math.floor(x) and abs(x) < 9.0e18:
        return "i%d" % int(x)
    return "f%d" % struct.unpack("<Q", struct.pack("<d", x))[0]


def value(v, t):
    if v is None:
        return NULL
    if pa.types.is_boolean(t):
        return "b1" if v else "b0"
    if pa.types.is_integer(t):
        return "i%d" % v
    if pa.types.is_floating(t) or pa.types.is_decimal(t):
        return num(v)
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "s" + v
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "x" + bytes(v).hex()
    if pa.types.is_date(t):
        return "t%d" % ((v - EPOCH_DATE).days * 86400000000)
    if pa.types.is_timestamp(t):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return "t%d" % ((v - EPOCH) // US)
    if pa.types.is_map(t):
        items = sorted(value(k, t.key_type) + ":" + value(x, t.item_type) for k, x in v)
        return "m{" + ",".join(items) + "}"
    if pa.types.is_list(t) or pa.types.is_large_list(t) or pa.types.is_fixed_size_list(t):
        return "[" + ",".join(value(x, t.value_type) for x in v) + "]"
    if pa.types.is_struct(t):
        fields = sorted(((t.field(i).name, t.field(i).type) for i in range(t.num_fields)),
                        key=lambda f: f[0])
        return "{" + ",".join(f"{n}:{value(v.get(n), ft)}" for n, ft in fields) + "}"
    return "?" + str(v)


def column_text(col):
    """Canonical text of every value of one arrow column."""
    t = col.type
    if pa.types.is_timestamp(t):
        raw = col.cast(pa.int64()).to_pylist()
        if t.unit == "ns":
            return [NULL if x is None else "t%d" % (x // 1000) for x in raw]
        per_us = {"s": 1000000, "ms": 1000, "us": 1}[t.unit]
        return [NULL if x is None else "t%d" % (x * per_us) for x in raw]
    if pa.types.is_date32(t):
        return [NULL if x is None else "t%d" % (x * 86400000000)
                for x in col.cast(pa.int32()).to_pylist()]
    if pa.types.is_integer(t):
        return [NULL if x is None else "i%d" % x for x in col.to_pylist()]
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return [NULL if x is None else "s" + x for x in col.to_pylist()]
    return [value(x, t) for x in col.to_pylist()]


def of_table(table):
    """Digest of a pyarrow Table: {"rows", "sum", "cols"}."""
    names = table.column_names
    order = sorted(range(len(names)), key=lambda i: (names[i], i))
    cols = [column_text(table.column(i)) for i in order]
    total = 0
    md5 = hashlib.md5
    for row in zip(*cols):
        total += int.from_bytes(md5("\x1f".join(row).encode("utf-8")).digest()[:8], "big")
    return {"rows": table.num_rows, "sum": str(total % (1 << 64)),
            "cols": [names[i] for i in order]}


def of_sql(con, sql):
    return of_table(con.sql(sql).arrow())


def same(a, b):
    return (a is not None and b is not None and a["rows"] == b["rows"]
            and a["sum"] == b["sum"] and list(a["cols"]) == list(b["cols"]))
