"""Self-test of the output checker. Run from the repository root:

    python3 perfbench/selftest.py

Runs the benchmark on q01 and on three broken variants of it: one cell
changed, one row dropped, and an op that throws. The checker must pass q01
and count every execution of each variant as a failed op, so the error rate
is exactly 3/4. Exits 0 when it does.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", "warehouse",
                        "--seed", "1", "--seconds", "2", "--trace", "0", "--selftest"],
                       capture_output=True, text=True, timeout=600)
    if r.returncode != 0:
        sys.exit(f"benchmark failed:\n{r.stderr[-2000:]}")
    res = json.loads(r.stdout.strip().splitlines()[-1])
    art = json.load(open(os.path.join(".bench_build", "results", "selftest-seed1-trace0.json")))
    failed = {line.split()[2].rstrip(":") for line in art["failures"]}
    problems = []
    if res["correct"] or res["failed"] * 4 != res["attempted"] * 3:
        problems.append(f"expected 3 of 4 ops to fail, got {res['failed']}/{res['attempted']}")
    for variant in ("q01@change_cell", "q01@drop_row", "q01@throw"):
        if variant not in failed:
            problems.append(f"{variant} was not counted as failed")
    if "q01" in failed:
        problems.append("the unmodified q01 was counted as failed")
    for p in problems:
        print("FAIL", p)
    print("selftest", "failed" if problems else "passed",
          f"(error_rate {res['failed']}/{res['attempted']})")
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
