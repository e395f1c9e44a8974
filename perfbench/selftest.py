"""Self-test of the benchmark at tiny input size (a few minutes on 4 cores).

    python3 perfbench/selftest.py

For every workload it checks that one untraced iteration passes the
correctness gate and prints every end-to-end metric with its unit, that the
traced run prints every per-layer metric, and that a deliberately corrupted
output is caught by the gate. It also checks that the benchmark refuses to
run, printing no result, where the package under test is missing.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from run import END_TO_END, PER_LAYER, RUNS  # noqa: E402

WORKLOADS = ("filter_pages", "rule_catalog", "near_dup_pages")


def bench(*args: str, cwd: str = ROOT) -> tuple[int, dict | None]:
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
           "--seed", "1", "--seconds", "1", "--size", "tiny",
           "--max-iters", "1", *args]
    proc = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True,
                          timeout=600)
    lines = proc.stdout.strip().splitlines()
    try:
        last = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        last = None
    if last is not None and "correct" not in last:
        last = None
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-3000:])
    return proc.returncode, last


def check_metrics(result: dict, declared: dict) -> list[str]:
    errors = []
    got = result["metrics"]
    if set(got) != set(declared):
        errors.append(f"metric names differ: {sorted(set(got) ^ set(declared))}")
    for name, (unit, _) in declared.items():
        m = got.get(name)
        if m is None or m.get("unit") != unit or not isinstance(
                m.get("value"), (int, float)):
            errors.append(f"{name}: bad entry {m}")
    return errors


def main() -> int:
    failures = []

    def expect(cond: bool, what: str) -> None:
        print(("ok   " if cond else "FAIL ") + what)
        if not cond:
            failures.append(what)

    for w in WORKLOADS:
        rc, res = bench("--workload", w, "--trace", "0")
        expect(rc == 0 and res is not None, f"{w}: untraced run exits 0")
        if res is not None:
            expect(res["correct"] and res["failed"] == 0
                   and res["attempted"] >= 1, f"{w}: gate passes")
            errs = check_metrics(res, END_TO_END)
            expect(not errs, f"{w}: end-to-end metrics with units {errs}")

        rc, res = bench("--workload", w, "--trace", "1")
        expect(rc == 0 and res is not None, f"{w}: traced run exits 0")
        if res is not None:
            errs = check_metrics(res, PER_LAYER)
            expect(not errs, f"{w}: per-layer metrics with units {errs}")
            if w == "near_dup_pages":
                rounds = res["metrics"]["dedup.star_rounds"]["value"]
                expect(rounds > 1, f"{w}: star rounds > 1 (got {rounds})")

        rc, res = bench("--workload", w, "--trace", "0", "--corrupt")
        expect(rc == 0 and res is not None and not res["correct"]
               and res["failed"] >= 1, f"{w}: corrupted output trips the gate")

    # a checkout holding only the benchmark must fail fast, printing nothing
    os.makedirs(RUNS, exist_ok=True)
    bare = os.path.join(RUNS, "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        rc, res = bench("--workload", "filter_pages", "--trace", "0",
                        cwd=bare)
        expect(rc != 0 and res is None,
               "benchmark alone (no package) exits non-zero, no result")
    finally:
        shutil.rmtree(bare, ignore_errors=True)

    print(f"{len(failures)} failure(s)")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
