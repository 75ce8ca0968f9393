"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload warehouse --seed 1 --seconds 20 --trace 0

`--workload all` runs every workload in turn.

Builds the program from source (harness/build.py), generates the inputs,
runs one JVM that sets the session up and times one pass over the
workload's ops (harness/src/Harness.scala), checks every op's output against
the DuckDB oracle (digest.py), and prints every metric with its unit. The
last line of stdout is one JSON object: with --trace 0 it holds the
end-to-end metrics, with --trace 1 the per-layer metrics. Spark logs go to
`.bench_build/runs/<run>/Harness.log`; a JSON artifact of the run goes to
`.bench_build/results/`, which compare.py reads.

A run times exactly one pass: each op runs once in the JVM, as a pipeline
run runs it, so op times include first-run costs (code generation, JIT). A
second pass in the same JVM would be warm and measure something else, so
`--seconds` does not repeat passes; a pass takes about 20-25 s on 4 shared
cores.

End-to-end metrics (tracing off):
  setup_s        JVM start to main, plus the one cold session set-up
                 (session up, inputs registered, graft.Bench's warm-up query)
  pass_s         wall time of the pass over the workload's ops
  op_p50_s       median per-op latency (build + materializing action)
  op_tail_s      latency of the pass's slowest op (p100; the op is
                 recorded). A pass has 18 or 8 ops, too few for the highest
                 percentile with >= 10 samples above it
  pass_cpu_s     process CPU seconds of the pass
  heap_peak_mb   largest heap in use right after the full GC that follows
                 each op
  lake_write_mb  bytes written to lake and temp-lake dirs in the pass
  lake_stored_mb bytes under those dirs at the end of the pass
Times exclude the harness's own GCs and dir scans. Metrics taken per pass
are medians over passes, which is the one pass of a run.
The error rate is `failed / attempted` of the result line.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import duckdb  # noqa: E402

import digest  # noqa: E402
import gen  # noqa: E402
import workloads  # noqa: E402
from harness.build import build  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
BUILD = ".bench_build"
DATA_SEED = 20240101  # the query rows' tables are fixed; the seed orders the ops
# A run must end within 180 s of its start (the first run's build aside).
# The JVM is stopped this long after the build, so that it is reaped and
# the run fails on its own, not killed with the JVM left running.
JVM_LIMIT_S = 165.0
MB = 1024.0 * 1024.0


def jvm_flags(root):
    """The forked-JVM flags build.sbt gives `run` and `Test`."""
    sbt = open(os.path.join(root, "build.sbt"), encoding="utf-8").read()
    opens = re.findall(r'"(java\.base/[\w./]+)"', sbt)
    flags = list(dict.fromkeys(re.findall(r'"(-(?:D|XX:)[^"\s]+)"', sbt)))
    m = re.search(r'-Xmx\$\{sys\.env\.getOrElse\("(\w+)", "(\w+)"\)\}', sbt)
    if not opens or not m:
        raise SystemExit("build.sbt: cannot find the JVM options")
    xmx = os.environ.get(m.group(1), m.group(2))
    return [a for p in opens for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + flags + [f"-Xmx{xmx}"]


def slowest_op(passes):
    """(latency, op name): the median over the timed passes of each pass's
    slowest op, and the op that was slowest most often."""
    worst = [max(p["ops"], key=lambda op: op["build_ns"] + op["action_ns"]) for p in passes]
    names = [op["name"] for op in worst]
    return (statistics.median((op["build_ns"] + op["action_ns"]) / 1e9 for op in worst),
            max(set(names), key=names.count))


def source_hash(root):
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(os.path.join(root, "src", "main"))):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(p[len(root):].encode())
            h.update(open(p, "rb").read())
    return h.hexdigest()[:16]


def git_commit(root):
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def load_json(path, default):
    try:
        with open(path) as f:
            return json.load(f)
    except (OSError, ValueError):
        return default


def query_expected(root, data_dir, fingerprint, oracle_sql):
    """Expected digest per query row: from the digests shipped with the
    benchmark, or the checkout's cache, or computed with the DuckDB oracle.
    Keyed by the oracle SQL and the input data."""
    shipped = load_json(os.path.join(HERE, "expected.json"), {})
    cache_path = os.path.join(root, BUILD, "oracle-cache.json")
    cache = load_json(cache_path, {})
    out, con = {}, None
    for name, sql in oracle_sql.items():
        key = hashlib.sha256((sql + "\0" + fingerprint).encode()).hexdigest()
        if key in shipped or key in cache:
            out[name] = shipped.get(key) or cache[key]
            continue
        if con is None:
            con = duckdb.connect()
            con.execute(f"SET temp_directory='{os.path.join(root, BUILD, 'duckdb-tmp')}'")
            for t in gen.TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
        try:
            cache[key] = out[name] = digest.of_sql(con, sql)
        except duckdb.Error as e:
            out[name] = None
            print(f"oracle {name} failed: {e}", file=sys.stderr)
    with open(cache_path, "w") as f:
        json.dump(cache, f)
    return out


def lake_expected(root, raw_dir, params):
    keys = "-".join(str(params[f"param.r{i}"]) for i in range(1, 5))
    path = os.path.join(raw_dir, f"expected-{keys}.json")
    got = load_json(path, None)
    if got is None:
        con = duckdb.connect()
        con.execute(f"SET temp_directory='{os.path.join(root, BUILD, 'duckdb-tmp')}'")
        got = workloads.lake_expected(con, raw_dir, params)
        with open(path, "w") as f:
            json.dump(got, f)
    return got


def check(op, expected):
    """Failure reason of one op execution, or None when its output is right."""
    if not op["ok"]:
        return op["error"] or "failed"
    name = op["name"].split("@")[0]
    if name not in expected:
        return None if "rows" not in op else f"no expected result for {name}"
    want = expected[name]
    got = {"rows": op.get("rows"), "sum": op.get("sum"), "cols": op.get("cols")}
    return None if digest.same(got, want) else f"digest {got} != oracle {want}"


def layer_metrics(passes, spans):
    """Per-layer metrics, averaged per timed pass."""
    n = float(len(passes))
    ops = [op for p in passes for op in p["ops"]]

    def total(key, sel=lambda op: True, scale=1.0):
        return sum(op.get(key, 0) for op in ops if sel(op)) / scale / n

    def lat_ms(sel):
        return sum((op["build_ns"] + op["action_ns"]) for op in ops if sel(op)) / 1e6 / n

    sim = [op for op in ops if op["module"] == "sim"]
    reads = [op for op in ops if op["name"] in workloads.LAKE_CALLS["lake.read_ms"]]
    m = {
        "build.ms": total("build_ns", scale=1e6), "build.jobs": total("build_jobs"),
        "action.ms": total("action_ns", scale=1e6),
        "plan.analysis_ms": total("analysis_ms"), "plan.optimization_ms": total("optimization_ms"),
        "plan.planning_ms": total("planning_ms"), "plan.executions": total("executions"),
        "sched.jobs": total("jobs"), "sched.stages": total("stages"), "sched.tasks": total("tasks"),
        "sched.delay_ms": total("delay_ms"), "sched.idle_slot_ms": total("idle_slot_ms"),
        "exec.run_ms": total("run_ms"), "exec.cpu_ms": total("cpu_ms"), "exec.gc_ms": total("gc_ms"),
        "exec.peak_mem_mb": max([op.get("peak_mem", 0) for op in ops] or [0]) / MB,
        "shuffle.write_mb": total("shuffle_write", scale=MB),
        "shuffle.read_mb": total("shuffle_read", scale=MB),
        "shuffle.fetch_wait_ms": total("fetch_wait_ms"), "spill.mb": total("spill", scale=MB),
        "input.mb": total("input", scale=MB),
        "cache.blocks": total("cache_blocks"), "cache.stored_mb": total("cache_bytes", scale=MB),
        "cache.release_ms": total("release_ns", scale=1e6),
        "cache.double_persist": total("double_persist"),
        "lake.commits": sum(p["commits"] for p in passes) / n,
        "lake.files_written": sum(p["files_written"] for p in passes) / n,
        "lake.dirs_per_read": (sum(op["dirs_read"] for op in reads) / len(reads)) if reads else 0.0,
        "ingest.run_ms": lat_ms(lambda op: op["name"] == "ingest"),
        "quality.violations": total("violations"),
        "sim.pairs_per_result": (sum(op.get("join_rows", 0) for op in sim)
                                 / max(1, sum(op.get("rows", 0) for op in sim))),
        "traced.pass_ms": statistics.median(p["wall_ns"] for p in passes) / 1e6,
    }
    for name, steps in workloads.LAKE_CALLS.items():
        m[name] = lat_ms(lambda op, s=steps: op["name"] in s)
    for mod in ("ops", "text", "sim", "stream", "media"):
        m[f"{mod}.ms"] = lat_ms(lambda op, x=mod: op["module"] == x)
    m.update(self_times(spans, len(passes)))
    return m


def self_times(spans, n_passes):
    """Self time per span kind, per pass: a span's duration
    minus the part of it its children cover."""
    by_id = {s["id"]: s for s in spans}
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)

    out = {k: 0.0 for k in ("pass", "build", "action", "job", "stage")}
    for s in spans:
        if s["kind"] not in out:
            continue
        a, b = s["start_us"], s["end_us"]
        covered, cur = 0, a
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start_us"]):
            lo, hi = max(c["start_us"], cur), min(c["end_us"], b)
            if hi > lo:
                covered += hi - lo
                cur = hi
        out[s["kind"]] += (b - a - covered) / 1000.0
    return {f"self.{k}_ms": v / max(1, n_passes) for k, v in out.items()}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true", help=argparse.SUPPRESS)
    a = ap.parse_args()
    if a.workload == "all":
        sys.exit(max(subprocess.run([sys.executable, __file__, "--workload", w, "--seed", str(a.seed),
                                     "--seconds", str(a.seconds), "--trace", str(a.trace)]).returncode
                     for w in workloads.WORKLOADS))
    root = os.getcwd()
    if not (os.path.isfile("build.sbt") and os.path.isdir(os.path.join("src", "main", "scala", "graft"))):
        sys.exit("run from the repository root: build.sbt and src/main/scala/graft are missing")

    cp = build(root)
    data_dir = os.path.join(root, BUILD, "data", "tables")
    fingerprint = gen.write(DATA_SEED, data_dir)
    started = time.time()  # the run time limit counts from here, after any build

    ops, extra = workloads.plan(a.workload, a.seed)
    if a.selftest:
        ops = [("q01", "ops"), ("q01@change_cell", "ops"), ("q01@drop_row", "ops"),
               ("q01@throw", "ops")]
        extra = {}
    label = "selftest" if a.selftest else a.workload
    run_dir = os.path.join(root, BUILD, "runs", f"{label}-s{a.seed}-t{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(run_dir, d))
    raw_dir = (os.path.join(root, BUILD, "data", "raw-{lake_seed}-{lake_orders}".format(**extra))
               if "param.r1" in extra else "")
    cores = len(os.sched_getaffinity(0))
    settings = {"input_dir": data_dir, "run_dir": run_dir, "raw_dir": raw_dir,
                "cores": cores, "seconds": a.seconds, "trace": a.trace, "seed": a.seed,
                **extra}
    plan_path = os.path.join(run_dir, "plan.txt")
    with open(plan_path, "w") as f:
        f.writelines(f"{k}={v}\n" for k, v in settings.items())
        f.writelines(f"op\t{n}\t{m}\n" for n, m in ops)

    signal.signal(signal.SIGTERM, lambda *_: sys.exit("benchmark stopped by SIGTERM"))

    def jvm(name, *args):
        """Runs one JVM main with build.sbt's flags; stops it on any way out."""
        cmd = (["java"] + jvm_flags(root) +
               ["-XX:-UsePerfData", f"-Djava.io.tmpdir={run_dir}/tmp",
                f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
                f"-Dperfbench.log={run_dir}/{name}.log", "-cp", cp, f"perfbench.{name}"] + list(args))
        out_path = os.path.join(run_dir, f"{name}.out")
        with open(out_path, "w") as out:
            proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT)
            try:
                rc = proc.wait(timeout=max(10.0, JVM_LIMIT_S - (time.time() - started)))
            except subprocess.TimeoutExpired:
                sys.exit(f"{name} JVM still running {JVM_LIMIT_S:.0f} s after the build; stopped")
            finally:
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
        if rc != 0:
            sys.stderr.write(open(out_path).read()[-3000:])
            sys.exit(f"{name} JVM exited with {rc}")

    datagen_s = 0.0
    if raw_dir and not os.path.exists(os.path.join(raw_dir, "_DONE")):
        shutil.rmtree(raw_dir, ignore_errors=True)
        t0 = time.time()
        jvm("LakeGen", raw_dir, str(extra["lake_customers"]), str(extra["lake_products"]),
            str(extra["lake_orders"]), str(extra["lake_seed"]), str(cores), run_dir)
        datagen_s = time.time() - t0
    jvm("Harness", plan_path)
    for d in ("tmp", "spark-local", "lake", "warehouse"):
        shutil.rmtree(os.path.join(run_dir, d), ignore_errors=True)
    res = load_json(os.path.join(run_dir, "result.json"), None)

    # ---- correctness: every op execution ----
    expected = query_expected(root, data_dir, fingerprint, res["oracle_sql"])
    if raw_dir:
        expected.update(lake_expected(root, raw_dir, extra))
    passes = res["passes"]
    attempted = failed = 0
    failures = []
    for p in passes:
        for op in p["ops"]:
            attempted += 1
            why = check(op, expected)
            if why:
                failed += 1
                failures.append(f"pass {p['index']} {op['name']}: {why}")

    # ---- metrics ----
    lat = [(op["build_ns"] + op["action_ns"]) / 1e9 for p in passes for op in p["ops"]]
    tail, tail_op = slowest_op(passes)
    setup = (res["jvm_to_main_ns"] + res["setup_ns"]) / 1e9
    e2e = {
        "setup_s": (setup, "s"),
        "pass_s": (statistics.median(p["wall_ns"] for p in passes) / 1e9, "s"),
        "op_p50_s": (statistics.median(lat), "s"),
        "op_tail_s": (tail, "s"),
        "pass_cpu_s": (statistics.median(p["cpu_ns"] for p in passes) / 1e9, "s"),
        "heap_peak_mb": (res["heap_peak_bytes"] / MB, "MB"),
        "lake_write_mb": (statistics.median(p["write_bytes"] for p in passes) / MB, "MB"),
        "lake_stored_mb": (statistics.median(p["stored_bytes"] for p in passes) / MB, "MB"),
    }
    bench = load_json(os.path.join(root, "BENCHMARK.json"), {})
    units = {m["name"]: m["unit"] for m in bench.get("per_layer", [])}
    if a.trace:
        spans = []
        sp = os.path.join(run_dir, "spans.jsonl")
        if os.path.exists(sp):
            spans = [json.loads(line) for line in open(sp) if line.strip()]
        layers = layer_metrics(passes, spans)
        metrics = {k: {"value": v, "unit": units.get(k, "")} for k, v in layers.items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}

    table_rows = {t: duckdb.sql(f"SELECT count(*) FROM '{data_dir}/{t}.parquet'").fetchone()[0]
                  for t in gen.TABLES}
    provenance = dict(res["provenance"], commit=git_commit(root), source=source_hash(root),
                      seed=a.seed, workload=a.workload, trace=a.trace, nproc=cores,
                      passes=len(passes), op_samples=len(lat), op_tail_op=tail_op,
                      session_setup_s=res["setup_ns"] / 1e9,
                      datagen_s=datagen_s,
                      inputs={"tables": {t: {"rows": table_rows[t], "bytes": os.path.getsize(
                          os.path.join(data_dir, f"{t}.parquet"))} for t in gen.TABLES}})
    if raw_dir:
        provenance["inputs"]["raw_csv"] = {name: {
            "rows": duckdb.sql(f"SELECT count(*) FROM read_csv('{raw_dir}/{name}.csv/*.csv', "
                               "header=true, all_varchar=true)").fetchone()[0],
            "bytes": sum(os.path.getsize(os.path.join(dp, f))
                         for dp, _, fs in os.walk(os.path.join(raw_dir, f"{name}.csv")) for f in fs)}
            for name in ("customers", "products", "orders", "order_items")}
    artifact = {"workload": label, "seed": a.seed, "trace": a.trace,
                "correct": failed == 0, "attempted": attempted, "failed": failed,
                "failures": failures[:20], "error_rate": failed / attempted,
                "metrics": metrics, "end_to_end": {k: v for k, (v, _) in e2e.items()},
                "provenance": provenance,
                "ops": [{"pass": p["index"], "name": op["name"], "module": op["module"],
                         "latency_s": (op["build_ns"] + op["action_ns"]) / 1e9}
                        for p in passes for op in p["ops"]]}
    os.makedirs(os.path.join(root, BUILD, "results"), exist_ok=True)
    with open(os.path.join(root, BUILD, "results",
                           f"{label}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump(artifact, f, indent=1)

    for line in failures[:20]:
        print("FAILED", line)
    print(f"workload={a.workload} seed={a.seed} trace={a.trace} passes={len(passes)} "
          f"commit={provenance['commit'][:12]} source={provenance['source']} "
          f"master={provenance['master']} nproc={cores}")
    for k, v in metrics.items():
        print(f"  {k:24s} {v['value']:14.4f} {v['unit']}")
    print(f"  {'error_rate':24s} {failed / attempted:14.4f} ratio ({failed}/{attempted})")
    print(f"  op_tail_s is the slowest op of a pass: {tail_op}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
