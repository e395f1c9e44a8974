"""Benchmark for the quality-filter pipeline, the rule catalog and near-dup
dedup.

    python3 perfbench/run.py --workload filter_pages --seed 1 --seconds 8 --trace 0

Workloads (closed loop, one client: the next iteration starts only after
the previous one committed its result and passed its correctness gate):

  filter_pages    seeded CC-style pages (multi-file parquet, ~5% exact
                  duplicates, 30% on two hot hosts) through
                  partitioning.repartition_by_url and
                  lineage.run_quality_pipeline; gate: tests/golden.py.
  rule_catalog    engine.run_catalog(DEFAULT_CATALOG) into a fresh
                  io.ResultSink over seeded multi-file monitor tables;
                  gate: catalog.summary_oracle_sql in DuckDB.
  near_dup_pages  dedup.minhash_candidate_pairs then
                  dedup.keep_representatives(algorithm="star") over pages
                  with planted near-duplicate chains; gate: dedup_mirror.

A run starts one fresh Spark process (local[nproc]). It sets up
(interpreter, JVM, session, one warm-up iteration), then measures steady
iterations for --seconds (at least MIN_ITERS of them); wall_s is their
median.

--trace 0 prints the end-to-end metrics. --trace 1 runs two processes for
--seconds/2 each, the first untraced and the second with the Spark event log
and the benchmark's spans on, and prints the per-layer metrics (medians over
the traced iterations) plus the tracing overhead: traced minus untraced
median iteration time, next to the range of the untraced iterations, inside
which an overhead is not resolved.

The last line of stdout is one JSON object:
  {"correct": bool, "attempted": int, "failed": int, "metrics": {...}}
Exits non-zero, printing no result, when the package is not there.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from eventlog import MODULE_GROUPS  # noqa: E402

#: JVM heap: the whole JVM must sit well inside a 15 GiB machine shared
#: with other work (session.py defaults to 24g for 32-core hosts)
HEAP = "2g"
#: the run's processes are killed, and the run fails, this long after the
#: measurement starts (input building is not counted)
RUN_TIMEOUT_S = 165
CACHE = os.path.join(ROOT, ".perfbench_cache")
RUNS = os.path.join(ROOT, ".perfbench_runs")

#: metric -> (unit, better). END_TO_END is printed with --trace 0,
#: PER_LAYER with --trace 1; BENCHMARK.json lists the same names.
END_TO_END = {
    "setup_s": ("s", "lower"),
    "wall_s": ("s", "lower"),
    "input_rows_per_s": ("1/s", "higher"),
    "peak_rss_mb": ("MB", "lower"),
}
PER_LAYER = {
    "session.get_spark_s": ("s", "lower"),
    "udf.python_boot_s": ("s", "lower"),
    "udf.python_init_s": ("s", "lower"),
    "udf.python_run_s": ("s", "lower"),
    "udf.bytes_sent": ("bytes", "lower"),
    "udf.bytes_received": ("bytes", "lower"),
    "pipeline.compute_verdicts_s": ("s", "lower"),
    "codegen.pipeline_s": ("s", "lower"),
    "lineage.stage_s.verdicts": ("s", "lower"),
    "lineage.stage_self_s.verdicts": ("s", "lower"),
    "lineage.stage_s.lineage": ("s", "lower"),
    "lineage.stage_s.summary": ("s", "lower"),
    "lineage.output_bytes": ("bytes", "lower"),
    "engine.run_catalog_s": ("s", "lower"),
    "engine.run_catalog_self_s": ("s", "lower"),
    "engine.rule_s_p50": ("s", "lower"),
    "engine.rule_s_max": ("s", "lower"),
    "engine.rule_concurrency": ("ratio", "higher"),
    "engine.rules_error": ("count", "lower"),
    "io.append_calls": ("count", "lower"),
    "io.append_s": ("s", "lower"),
    "dedup.keep_representatives_s": ("s", "lower"),
    "dedup.keep_representatives_self_s": ("s", "lower"),
    "dedup.star_s": ("s", "lower"),
    "dedup.pairs": ("count", "lower"),
    "dedup.star_rounds": ("count", "lower"),
    "dedup.star_s_per_round": ("s", "lower"),
    "spark.jobs": ("count", "lower"),
    "spark.stages": ("count", "lower"),
    "spark.tasks": ("count", "lower"),
    "spark.job_s": ("s", "lower"),
    "spark.no_job_s": ("s", "lower"),
    "spark.executor_run_s": ("s", "lower"),
    "spark.executor_cpu_s": ("s", "lower"),
    "spark.gc_s": ("s", "lower"),
    "spark.slot_util": ("ratio", "higher"),
    "spark.task_skew": ("ratio", "lower"),
    "spark.shuffle_write_bytes": ("bytes", "lower"),
    "spark.shuffle_read_bytes": ("bytes", "lower"),
    "spark.shuffle_fetch_wait_s": ("s", "lower"),
    "spark.spill_bytes": ("bytes", "lower"),
    "spark.peak_exec_mem_bytes": ("bytes", "lower"),
    "spark.input_bytes": ("bytes", "lower"),
    "spark.output_bytes": ("bytes", "lower"),
    **{f"spark.job_s.{g}": ("s", "lower") for g in MODULE_GROUPS},
    "trace.traced_wall_s": ("s", "lower"),
    "trace.untraced_wall_s": ("s", "lower"),
    "trace.overhead_s": ("s", "lower"),
    "trace.untraced_spread_s": ("s", "lower"),
    "failed_frac": ("fraction", "lower"),
}


def _median(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0


def _reap_group(pgid: int, grace_s: float = 30.0) -> None:
    """Wait until every process of the group has exited; kill stragglers."""
    deadline = time.time() + grace_s
    while True:
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        if time.time() > deadline:
            os.killpg(pgid, signal.SIGKILL)
            deadline = time.time() + grace_s
        time.sleep(0.1)


def _run_worker(args, input_dir: str, run_dir: str, seconds: float,
                trace: int, deadline: float) -> dict:
    os.makedirs(os.path.join(run_dir, "tmp"))
    out = os.path.join(run_dir, "result.json")
    env = dict(os.environ)
    env.update({
        "SPARK_DRIVER_MEM": HEAP,
        "TMPDIR": os.path.join(run_dir, "tmp"),
        # wins over spark.local.dir when set; keep shuffle files in the run
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
    })
    env.pop("PYSPARK_SUBMIT_ARGS", None)     # would override master and heap
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", args.workload, "--input", input_dir,
           "--run-dir", run_dir, "--seconds", str(seconds),
           "--trace", str(trace), "--out", out]
    if args.max_iters:
        cmd += ["--max-iters", str(args.max_iters)]
    if args.corrupt:
        cmd.append("--corrupt")
    log = os.path.join(run_dir, "worker.log")
    with open(log, "wb") as err:
        spawned = time.time()
        # own process group, so the JVM it launches can be reaped with it
        proc = subprocess.Popen(cmd, env=env, cwd=ROOT,
                                stdout=subprocess.DEVNULL, stderr=err,
                                start_new_session=True)
        try:
            proc.wait(timeout=max(1.0, deadline - time.time()))
        finally:            # timed out, or this run is being interrupted
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
            _reap_group(proc.pid)
    with open(log, errors="replace") as f:
        tail = "".join(f.readlines()[-30:])
    if proc.returncode != 0:
        raise RuntimeError(
            f"benchmark process exited {proc.returncode}:\n{tail}")
    with open(out) as f:
        res = json.load(f)
    if res["failed"]:
        print(tail, file=sys.stderr)
    res["setup_s"] = res["setup_end"] - spawned
    return res


def _steady(res: dict) -> list[dict]:
    return [it for it in res["iters"] if not it["warm"]]


def end_to_end(results: list[dict], rows: int) -> dict:
    walls = [it["wall_s"] for r in results for it in _steady(r)]
    wall = _median(walls)
    return {
        "setup_s": _median([r["setup_s"] for r in results]),
        "wall_s": wall,
        "input_rows_per_s": rows / wall,
        "peak_rss_mb": _median([r["peak_rss_mb"] for r in results]),
    }


def per_layer(untraced: dict, traced: list[dict], attempted: int,
              failed: int) -> dict:
    steady = [it for r in traced for it in _steady(r)]
    out: dict[str, float] = {}
    for it in steady:
        for src in (it["spans"], it["spark"]):
            for k, v in src.items():
                out.setdefault(k, []).append(float(v))
    metrics = {k: _median(v) for k, v in out.items()}
    traced_wall = _median([it["wall_s"] for it in steady])
    untraced_walls = [it["wall_s"] for it in _steady(untraced)]
    untraced_wall = _median(untraced_walls)
    metrics.update({
        "session.get_spark_s": _median([r["session_s"] for r in traced]),
        "trace.traced_wall_s": traced_wall,
        "trace.untraced_wall_s": untraced_wall,
        "trace.overhead_s": traced_wall - untraced_wall,
        # an overhead within this range is not resolved by the run
        "trace.untraced_spread_s": max(untraced_walls) - min(untraced_walls),
        "failed_frac": failed / attempted,
    })
    return metrics


def _interrupted(signum, frame):
    raise SystemExit(128 + signum)      # run the cleanup in finally blocks


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["filter_pages", "rule_catalog", "near_dup_pages"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "tiny"], default="full",
                    help="input size; tiny is for the self-test")
    ap.add_argument("--max-iters", type=int, default=0,
                    help="stop each process after this many steady "
                         "iterations (self-test)")
    ap.add_argument("--corrupt", action="store_true",
                    help="damage every committed result before its check, "
                         "to show the gate catches it (self-test)")
    args = ap.parse_args(argv)
    signal.signal(signal.SIGTERM, _interrupted)

    try:
        import dq_true_north_spark  # noqa: F401
        import tests.golden  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the package under test is missing: {exc}",
              file=sys.stderr)
        return 2
    import inputs

    input_dir = inputs.ensure(CACHE, args.workload, args.seed, args.size)
    rows = inputs.load_meta(input_dir)["rows"]

    os.makedirs(RUNS, exist_ok=True)
    run_root = os.path.join(RUNS, f"{os.getpid()}-{time.time_ns()}")
    traces = [0, 1] if args.trace else [0]
    deadline = time.time() + RUN_TIMEOUT_S
    results = []
    try:
        for k, trace in enumerate(traces):
            results.append(_run_worker(
                args, input_dir, os.path.join(run_root, f"p{k}"),
                args.seconds / len(traces), trace, deadline))
    finally:
        shutil.rmtree(run_root, ignore_errors=True)

    attempted = sum(r["attempted"] for r in results)
    failed = sum(r["failed"] for r in results)
    if args.trace:
        metrics, declared = per_layer(results[0], results[1:], attempted,
                                      failed), PER_LAYER
    else:
        metrics, declared = end_to_end(results, rows), END_TO_END
    if set(metrics) != set(declared):
        raise RuntimeError(
            f"metric set drifted: {sorted(set(metrics) ^ set(declared))}")
    info = {
        "workload": args.workload, "seed": args.seed, "size": args.size,
        "input_rows": rows, "nproc": os.cpu_count(),
        "heap": HEAP, "processes": len(traces),
        "iteration_s": [[round(it["wall_s"], 3) for it in r["iters"]]
                        for r in results],
        **results[0]["versions"],
    }
    print(json.dumps({"run": info}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": unit}
                    for k, (unit, _) in declared.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
