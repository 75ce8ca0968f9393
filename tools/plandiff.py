#!/usr/bin/env python3
"""Compare two PlanDump output directories row by row.

    python3 tools/plandiff.py BEFORE_DIR AFTER_DIR

Each directory holds `<row>_<suffix>.txt` files written by
`graft.PlanDump` (formatted physical plans). Rows are paired by name with
the suffix dropped. Before comparing, every run-dependent token is masked:
expression ids (`#123`), operator numbers (`(12)`, which shift whenever a
node is added or dropped), codegen stage ids (`*(3)`, `[codegen id : 3]`),
exchange/subquery argument ids (`[plan_id=7]`, `Subquery:1`), AQE query
stage ids (a `*QueryStage` node's `Arguments: 9`), RDD ids
(`MapPartitionsRDD[12]`), lambda class names and object hashes
(`$Lambda$5458/0x...@6514666f`, and a short hash such as the
`@d9e1` of `MediaDedup$$$Lambda@d9e1`), temp paths (`/tmp/...`), and the
source line of an RDD's call site (`flattenLineage at Caching.scala:80`
keeps the file name, not the line, which moves with any edit above it).

The first line of each dump, `# build jobs: N`, is the number of Spark
jobs the row's `run` started while building its frame (PlanDump counts
them with a listener). It is not masked: a change in that count is
reported like any other differing line. It is the row's own count
whatever rows were dumped before it: `Tables.load` infers a table's
schema with one Spark job the first time the JVM reads that table, and
PlanDump loads every testdata table once before the first row, so no row
pays that job. Dumps of different row lists compare line for line.

A query with two or more DISTINCT aggregates over different columns (the
`countDistinct(frame_a)`, `countDistinct(frame_b)` pair in
`MediaDedup.videoContainment`, behind q231, q248 and q276; q64's
`countDistinct(l_partkey)` and `sum(DISTINCT l_quantity)`) is rewritten by
Spark's RewriteDistinctAggregates into an Expand with one projection per
distinct group and a `gid` column; regular aggregates beside them (q64's)
ride in group 0 as columns after `gid`. Spark numbers the groups, and
orders the distinct columns in every list downstream of the Expand, in
the iteration order of a hash map keyed by expression ids. So the same
commit can dump `[.., frame_a, null, 1], [.., null, frame_b, 2]` in one
run and `[.., frame_b, null, 1], [.., null, frame_a, 2]` in another,
depending on how many expression ids earlier rows used. Before comparing,
a dump with exactly one such Expand is put in one canonical order: the
distinct columns sorted by name and the groups renumbered to match, on
the Expand line; on every line that carries `gid`, the groups renumbered
and, in each bracketed or parenthesized list, the items that name one
distinct column each (`l_quantity#N`, or a key wrapped around it) put in
that column order. Only that permutation is undone; any other change to
those lines still shows. A dump with two or more such Expands is left as
it is.

Prints one line per row, `identical` or `differs`, and under each
differing row the masked lines that differ (unified diff, no context).
Rows present on one side only are listed as `only-before`/`only-after`.
Exit status is 0 when every paired row is identical, 1 otherwise.
"""
import difflib
import os
import re
import sys

MASKS = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"\((\d+)\)$"), "(N)"),
    (re.compile(r"^\(\d+\) "), "(N) "),
    (re.compile(r"operator id(:| =) \d+"), r"operator id\1 N"),
    (re.compile(r"\*\(\d+\)"), "*(N)"),
    (re.compile(r"codegen id : \d+"), "codegen id : N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"Subquery:\d+"), "Subquery:N"),
    (re.compile(r"(\w*RDD)\[\d+\]"), r"\1[N]"),
    (re.compile(r"\$Lambda[$\d]*/0x[0-9a-f]+"), "$Lambda"),
    (re.compile(r"(?<=[\w$])@[0-9a-f]{1,16}\b"), "@H"),
    (re.compile(r"/tmp/[^\s,\]]+"), "/tmp/T"),
    (re.compile(r"(\.scala):\d+"), r"\1:N"),
]


# a query stage's lone `Arguments: <id>` line is its AQE stage id, which
# follows the order stages ran in, not the plan
STAGE = re.compile(r"^\(\d+\) \w*QueryStage\b")
STAGE_ID = re.compile(r"^Arguments: \d+$")


def masked(path):
    out, in_stage = [], False
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            line = line.rstrip("\n")
            if STAGE.match(line):
                in_stage = True
            elif in_stage and STAGE_ID.match(line):
                line = "Arguments: N"
            elif not line:
                in_stage = False
            for pat, rep in MASKS:
                line = pat.sub(rep, line)
            out.append(line)
    return canonical_distinct_groups(out)


def split_top(s):
    """Split `s` on the ", " separators outside any brackets."""
    out, depth, start = [], 0, 0
    for i, ch in enumerate(s):
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        elif ch == "," and depth == 0:
            out.append(s[start:i].strip())
            start = i + 1
    out.append(s[start:].strip())
    return out


def unbracket(s):
    return split_top(s[1:-1]) if s.startswith("[") and s.endswith("]") else None


def distinct_expand(line):
    """(projections, output, gid index) of a RewriteDistinctAggregates
    Expand line. The output holds the group-by columns, the distinct
    columns, `gid`, then any regular-aggregate columns."""
    if not line.startswith("Arguments: ["):
        return None
    parts = split_top(line[len("Arguments: "):])
    if len(parts) != 2:
        return None
    projs, out = unbracket(parts[0]), unbracket(parts[1])
    if not projs or not out:
        return None
    gid = next((j for j, c in enumerate(out) if c.startswith("gid#")), None)
    if gid is None:
        return None
    projs = [unbracket(p) for p in projs]
    if any(p is None or len(p) != len(out) or not p[gid].isdigit() for p in projs):
        return None
    return projs, out, gid


GID_EQ = re.compile(r"(gid#N = )(\d+)")


def names(item, cols):
    """The columns of `cols` that `item` refers to."""
    return {c for c in cols if re.search(r"(?<![\w#])%s(?![\w#])" % re.escape(c), item)}


def sorted_lists(line, cols):
    """`line` with the items of every bracketed or parenthesized list that
    refer to one column of `cols` each, one item per column, put in the
    columns' name order. Every other item keeps its place."""
    def group(i):
        close = {"(": ")", "[": "]"}[line[i]]
        items, cur, j = [], [], i + 1
        while j < len(line) and line[j] != close:
            if line[j] in "([":
                text, j = group(j)
                cur.append(text)
            else:
                if line[j] == ",":
                    items.append("".join(cur))
                    cur = []
                else:
                    cur.append(line[j])
                j += 1
        if j == len(line):  # unclosed: leave the rest as it is
            return line[i:], j
        items.append("".join(cur))
        refs = [names(it, cols) for it in items]
        at = [k for k, r in enumerate(refs) if len(r) == 1]
        if sorted(next(iter(refs[k])) for k in at) == sorted(cols):
            moved = sorted((items[k].strip() for k in at),
                           key=lambda it: next(iter(names(it, cols))))
            for k, it in zip(at, moved):
                items[k] = items[k][:len(items[k]) - len(items[k].lstrip())] + it
        return line[i] + ",".join(items) + close, j + 1

    out, i = [], 0
    while i < len(line):
        if line[i] in "([":
            text, i = group(i)
            out.append(text)
        else:
            out.append(line[i])
            i += 1
    return "".join(out)


def canonical_distinct_groups(lines):
    hits = [(i, e) for i, e in ((i, distinct_expand(l)) for i, l in enumerate(lines)) if e]
    if len(hits) != 1:
        return lines
    at, (projs, out, gid) = hits[0]
    slots = [j for j in range(gid) if any(p[j] == "null" for p in projs)]
    order = sorted(slots, key=lambda j: out[j])
    if len({out[j] for j in slots}) != len(slots):
        return lines

    def reslot(row):
        row = list(row)
        vals = [row[j] for j in order]
        for j, v in zip(slots, vals):
            row[j] = v
        return row

    def key(p):
        return [v for j, v in enumerate(reslot(p)) if j != gid]

    groups = sorted((p for p in projs if p[gid] != "0"), key=key)
    renum = {p[gid]: str(k + 1) for k, p in enumerate(groups)}

    def renumbered(p):
        p = reslot(p)
        p[gid] = renum.get(p[gid], p[gid])
        return p

    new_projs = sorted((renumbered(p) for p in projs), key=lambda p: int(p[gid]))
    cols = [out[j] for j in slots]
    result = []
    for i, line in enumerate(lines):
        if i == at:
            line = "Arguments: [%s], [%s]" % (
                ", ".join("[%s]" % ", ".join(p) for p in new_projs),
                ", ".join(reslot(out)))
        elif "gid#N" in line:
            line = sorted_lists(line, cols)
            line = GID_EQ.sub(lambda m: m.group(1) + renum.get(m.group(2), m.group(2)), line)
        result.append(line)
    return result


def rows(d):
    out = {}
    for f in sorted(os.listdir(d)):
        if f.endswith(".txt"):
            stem = f[:-4]
            name = stem.rsplit("_", 1)[0] if "_" in stem else stem
            out[name] = os.path.join(d, f)
    return out


def row_key(name):
    m = re.match(r"q(\d+)", name)
    return (int(m.group(1)) if m else 1 << 30, name)


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip().splitlines()[2].strip(), file=sys.stderr)
        return 2
    before, after = rows(argv[1]), rows(argv[2])
    n_same = n_diff = 0
    for name in sorted(set(before) | set(after), key=row_key):
        if name not in after:
            print(f"only-before {name}")
            continue
        if name not in before:
            print(f"only-after  {name}")
            continue
        a, b = masked(before[name]), masked(after[name])
        if a == b:
            n_same += 1
            print(f"identical   {name}")
            continue
        n_diff += 1
        print(f"differs     {name}")
        for l in difflib.unified_diff(a, b, lineterm="", n=0):
            if not l.startswith(("---", "+++")):
                print(f"    {l}")
    print(f"== {n_same} identical, {n_diff} differ ==")
    return 0 if n_diff == 0 else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv))
