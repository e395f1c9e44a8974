"""One benchmark process: start a Spark session, warm up, then run closed-
loop iterations of one workload for a fixed time, checking every result.

Started by run.py, which owns the environment (heap, temp dirs) and reads
the JSON this process writes to --out. Not meant to be run by hand.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

WARMUP_ITERS = 1
MIN_ITERS = 2


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


def _span_metrics(tracer, t0: float, t1: float, facts: dict) -> dict:
    from tracing import self_time

    spans = tracer.within(t0, t1)

    def total(name):
        return sum(s.end - s.start for s in spans if s.name == name)

    def selft(name):
        return sum(self_time(s, spans) for s in spans if s.name == name)

    rules = [s.end - s.start for s in spans if s.name == "engine.rule"]
    run_s = total("engine.run_catalog")
    rounds = sum(s.attrs.get("rounds", 0) for s in spans
                 if s.name == "dedup.star_contract_clusters")
    star_s = total("dedup.star_contract_clusters")
    appends = [s for s in spans if s.name in ("io.append", "io.ensure")]
    return {
        "pipeline.compute_verdicts_s": total("pipeline.compute_verdicts"),
        "lineage.stage_s.verdicts": total("lineage.stage.verdicts"),
        "lineage.stage_self_s.verdicts": selft("lineage.stage.verdicts"),
        "lineage.stage_s.lineage": total("lineage.stage.lineage"),
        "lineage.stage_s.summary": total("lineage.stage.summary"),
        "engine.run_catalog_s": run_s,
        "engine.run_catalog_self_s": selft("engine.run_catalog"),
        "engine.rule_s_p50": statistics.median(rules) if rules else 0.0,
        "engine.rule_s_max": max(rules, default=0.0),
        "engine.rule_concurrency": sum(rules) / run_s if run_s else 0.0,
        "io.append_calls": len(appends),
        "io.append_s": sum(s.end - s.start for s in appends),
        "dedup.keep_representatives_s": total("dedup.keep_representatives"),
        "dedup.keep_representatives_self_s":
            selft("dedup.keep_representatives"),
        "dedup.star_s": star_s,
        "dedup.star_rounds": rounds,
        "dedup.star_s_per_round": star_s / rounds if rounds else 0.0,
        **facts,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--input", required=True)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--max-iters", type=int, default=0)
    ap.add_argument("--corrupt", action="store_true",
                    help="damage each committed result before its check")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    import pyspark

    from dq_true_north_spark.session import get_spark
    import tracing
    from workloads import WORKLOADS, Outcome, clear, dir_bytes

    nproc = os.cpu_count() or 1
    run_dir = args.run_dir
    conf = {
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        # heap committed and touched up front (-Xms = -Xmx, pre-touch): G1
        # otherwise grows it at GC-timing-dependent moments and the JVM's
        # peak RSS swings by 25% between identical runs. So peak_rss_mb is
        # this fixed heap plus native memory; it cannot see heap use.
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} "
            f"-Xms{os.environ['SPARK_DRIVER_MEM']} -XX:+AlwaysPreTouch",
        "spark.ui.showConsoleProgress": "false",
    }
    tracer = None
    if args.trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": os.path.join(run_dir, "eventlog"),
        })
        os.makedirs(conf["spark.eventLog.dir"], exist_ok=True)
        tracer = tracing.Tracer()
        tracing.install(tracer)
    calls = tracing.public_calls(tracer)
    partitions = nproc

    t_session = time.time()
    spark = get_spark(
        app_name=f"perfbench-{args.workload}", master=f"local[{nproc}]",
        shuffle_partitions=str(partitions), extra_conf=conf)
    session_s = time.time() - t_session
    spark.sparkContext.setLogLevel("ERROR")
    if tracer is not None:
        tracer.sc = spark.sparkContext
    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())

    wl = WORKLOADS[args.workload](spark, args.input, calls, partitions)
    iters = []
    attempted = failed = 0
    setup_end = None
    loop_start = None
    i = 0
    while True:
        warm = i < WARMUP_ITERS
        out_dir = os.path.join(run_dir, "out", f"it{i:04d}")
        # untimed: without it an iteration pays for the previous one's
        # garbage at a GC-timing-dependent moment
        spark._jvm.System.gc()
        t0 = time.time()
        try:
            res = wl.iterate(i, out_dir)
        except Exception as exc:       # an iteration that raises has failed
            print(f"iteration {i} failed: {exc!r}", file=sys.stderr)
            res = None
        t1 = time.time()
        if res is None:
            res, ops, bad = Outcome(out_dir), wl.ops, wl.ops
        else:
            if args.corrupt:
                wl.corrupt(res)
            ops, bad = wl.check(res)
        rec = {"i": i, "warm": warm, "t0": t0, "t1": t1, "wall_s": t1 - t0,
               "ops": ops, "failed": bad}
        if tracer is not None and not warm:
            rec["spans"] = _span_metrics(tracer, t0, t1, {
                "lineage.output_bytes": float(dir_bytes(out_dir))
                if args.workload == "filter_pages" else 0.0,
                "engine.rules_error": float(getattr(wl, "errors", 0)),
            })
            pairs = res.facts.get("pairs")
            # counted after t1, so this extra job is outside the window
            rec["spans"]["dedup.pairs"] = (
                float(pairs.count()) if pairs is not None else 0.0)
        clear(out_dir)
        iters.append(rec)
        attempted += ops
        failed += bad
        i += 1
        if warm:
            if i == WARMUP_ITERS:
                setup_end = t1
                loop_start = time.time()
            continue
        steady = i - WARMUP_ITERS
        if args.max_iters and steady >= args.max_iters:
            break
        if steady >= MIN_ITERS and time.time() - loop_start >= args.seconds:
            break

    rss_mb = _vm_hwm_mb(jvm_pid)
    versions = {
        "spark": spark.version,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
    }
    gateway = spark.sparkContext._gateway
    jvm = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if jvm is not None:           # the JVM exits when its stdin closes
        jvm.stdin.close()
        jvm.wait(timeout=60)

    result = {
        "session_s": session_s, "setup_end": setup_end, "iters": iters,
        "peak_rss_mb": rss_mb, "versions": versions,
        "attempted": attempted, "failed": failed,
    }
    if tracer is not None:
        from eventlog import EventLog

        log = EventLog(conf["spark.eventLog.dir"])
        for rec in iters:
            if "spans" in rec:
                rec["spark"] = log.window(rec["t0"], rec["t1"], nproc)
    with open(args.out, "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main()
