"""Compare two sets of benchmark runs, or summarize one.

    python3 perfbench/compare.py BEFORE_DIR [AFTER_DIR]

Each directory holds run artifacts as run.py writes them to
`.bench_build/results/` (copy that directory aside after each set).

For every workload and end-to-end metric (runs with --trace 0) it prints
each side's median and quartiles and, given two sets, a verdict against the
metric's bound in BENCHMARK.json:
  worse       the median got worse by more than the bound
  improved    the median got better by more than the parent's quartile
              spread and the change wins at least 9 of 10 seed-paired runs
  unresolved  a side's quartile spread exceeds the bound and the runs of
              the two sides overlap
  unchanged   otherwise
From traced runs (--trace 1) it prints each per-layer metric's median and,
given two sets, its change, largest relative change first, so a regression
can be placed in a layer. It also prints each layer's self time and the
tracing overhead: traced pass time minus timed pass time.
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(d):
    runs = {}
    for p in sorted(glob.glob(os.path.join(d, "*.json"))):
        a = json.load(open(p))
        if "metrics" in a and "workload" in a:
            runs.setdefault((a["workload"], a["trace"]), []).append(a)
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def values(runs, name):
    return {r["seed"]: r["metrics"][name]["value"] for r in runs if name in r["metrics"]}


def verdict(before, after, bound, lower_better):
    b, a = list(before.values()), list(after.values())
    bq1, bm, bq3 = quartiles(b)
    aq1, am, aq3 = quartiles(a)
    sign = 1.0 if lower_better else -1.0
    change = sign * (am - bm) / bm if bm else 0.0
    if change > bound:
        return "worse", change
    spread = max((bq3 - bq1) / bm if bm else 0.0, (aq3 - aq1) / am if am else 0.0)
    all_better = all(sign * (x - y) < 0 for x in a for y in b)
    if spread > bound and not all_better:
        return "unresolved", change
    pairs = [(before[s], after[s]) for s in before if s in after]
    wins = sum(1 for x, y in pairs if sign * (y - x) < 0)
    if -change * bm > (bq3 - bq1) and (not pairs or wins >= 0.9 * len(pairs)):
        return "improved", change
    return "unchanged", change


def main(argv):
    if len(argv) not in (2, 3):
        sys.exit(__doc__)
    bench = json.load(open(os.path.join(HERE, "..", "BENCHMARK.json")))
    e2e = {m["name"]: m for m in bench["end_to_end"]}
    sets = [load(d) for d in argv[1:]]
    workloads = sorted({w for s in sets for (w, _) in s})
    for w in workloads:
        print(f"== {w}")
        timed = [s.get((w, 0), []) for s in sets]
        for name, m in e2e.items():
            vs = [values(r, name) for r in timed]
            if not all(vs):
                continue
            cols = []
            for v in vs:
                q1, med, q3 = quartiles(list(v.values()))
                cols.append(f"{med:12.4f} [{q1:.4f}, {q3:.4f}] n={len(v)}")
            line = f"  {name:16s} {m['unit']:5s} " + "  ->  ".join(cols)
            if len(vs) == 2:
                v, change = verdict(vs[0], vs[1], m["bound"], m["better"] == "lower")
                line += f"  {change:+.1%} {v} (bound {m['bound']:.0%})"
            print(line)
        traced = [s.get((w, 1), []) for s in sets]
        if not all(traced):
            continue
        names = sorted({k for r in traced[0] for k in r["metrics"]})
        rows = []
        for name in names:
            meds = [statistics.median(values(r, name).values() or [0.0]) for r in traced]
            rel = (meds[-1] - meds[0]) / meds[0] if meds[0] else (0.0 if meds[-1] == 0 else 1.0)
            rows.append((abs(rel) if len(meds) == 2 else 0.0, name, meds, rel))
        print("  per layer (median per pass)" + ("  before -> after" if len(traced) == 2 else ""))
        for _, name, meds, rel in sorted(rows, key=lambda r: (-r[0], r[1])):
            line = f"    {name:24s} " + "  ->  ".join(f"{x:12.3f}" for x in meds)
            if len(meds) == 2:
                line += f"  {meds[1] - meds[0]:+12.3f} ({rel:+.1%})"
            print(line)
        for i, (t, r) in enumerate(zip(timed, traced)):
            if t and r:
                over = (statistics.median(values(r, "traced.pass_ms").values())
                        - 1000.0 * statistics.median(values(t, "pass_s").values()))
                print(f"  tracing overhead (set {i + 1}): {over:+.1f} ms per pass")


if __name__ == "__main__":
    main(sys.argv)
