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
(`$Lambda$5458/0x...@6514666f`), and temp paths (`/tmp/...`).

The first line of each dump, `# build jobs: N`, is the number of Spark
jobs the row's `run` started while building its frame (PlanDump counts
them with a listener). It is not masked: a change in that count is
reported like any other differing line.

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
    (re.compile(r"@[0-9a-f]{5,16}\b"), "@H"),
    (re.compile(r"/tmp/[^\s,\]]+"), "/tmp/T"),
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
    return out


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
