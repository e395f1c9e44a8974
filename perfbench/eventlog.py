"""Offline reader for a Spark event log (uncompressed JSON lines, either a
single file or Spark 4's rolling `eventlog_v2_*` directory).

Jobs are assigned to a benchmark iteration by submission time. Each job is
attributed to the package module whose Python frame triggered it. PySpark
stores that call site in the job's `callSite.short` property, but only for
actions that collect to Python (first, collect, toPandas). Other jobs
(count, writes, and broadcast or subquery jobs started inside the JVM) fall
back to the `perfbench.span` local property the traced run sets, then to
the call site of their SQL execution, then to "other".
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
from dataclasses import dataclass, field

from tracing import SPAN_PROPERTY, union_length

_PY_FRAME = re.compile(r"dq_true_north_spark/([\w/]+)\.py")

#: module groups that job time is attributed to; anything else is "other"
MODULE_GROUPS = ("textquality.pipeline", "lineage", "engine", "rules", "io",
                 "textquality.dedup", "other")

#: span-name prefix -> module group, for jobs without a Python call site
_SPAN_MODULES = (("pipeline.", "textquality.pipeline"),
                 ("lineage.", "lineage"), ("engine.rule", "rules"),
                 ("engine.", "engine"), ("io.", "io"),
                 ("dedup.", "textquality.dedup"))

_PY_METRICS = {
    "time to start Python workers": "udf.python_boot_s",
    "time to initialize Python workers": "udf.python_init_s",
    "time to run Python workers": "udf.python_run_s",
    "data sent to Python workers": "udf.bytes_sent",
    "data returned from Python workers": "udf.bytes_received",
}


@dataclass
class Job:
    jid: int
    submit: float            # epoch seconds
    end: float | None
    stage_ids: list[int]
    module: str
    sql_id: int | None


@dataclass
class Task:
    stage: int
    run_ms: int
    cpu_ns: int
    gc_ms: int
    shuffle_write: int
    shuffle_read: int
    fetch_wait_ms: int
    spill: int
    peak_mem: int
    input_bytes: int
    output_bytes: int
    accums: dict[int, float] = field(default_factory=dict)


def module_of_span(span: str | None) -> str | None:
    for prefix, group in _SPAN_MODULES:
        if span and span.startswith(prefix):
            return group
    return None


def module_of(call_site: str) -> str | None:
    m = _PY_FRAME.search(call_site or "")
    if not m:
        return None
    mod = m.group(1).replace("/", ".")
    if mod.startswith("rules."):
        return "rules"
    if mod.startswith("textquality.") and mod not in MODULE_GROUPS:
        # heuristics/udfs/scrub/spec build columns the pipeline runs
        return "textquality.pipeline"
    return mod if mod in MODULE_GROUPS else "other"


class EventLog:
    def __init__(self, path: str):
        self.jobs: dict[int, Job] = {}
        self.stage_done: set[int] = set()
        self.tasks: list[Task] = []
        self.acc_name: dict[int, tuple[str, str, str]] = {}
        self.sql_site: dict[int, str] = {}
        for f in self._files(path):
            with open(f) as fh:
                for line in fh:
                    self._event(json.loads(line))
        for job in self.jobs.values():
            if job.module is None:
                site = self.sql_site.get(job.sql_id, "")
                job.module = module_of(site) or "other"

    @staticmethod
    def _files(path: str) -> list[str]:
        if os.path.isfile(path):
            return [path]
        found = [
            p for p in glob.glob(os.path.join(path, "**", "*"), recursive=True)
            if os.path.isfile(p)
            and not os.path.basename(p).startswith((".", "appstatus"))
        ]

        def key(p):     # rolling files are events_<n>_<app>; order by n
            m = re.search(r"events_(\d+)_", os.path.basename(p))
            return (int(m.group(1)) if m else 0, p)

        return sorted(found, key=key)

    def _plan(self, node: dict) -> None:
        for m in node.get("metrics", []):
            self.acc_name[m["accumulatorId"]] = (
                node["nodeName"], m["name"], m["metricType"])
        for child in node.get("children", []):
            self._plan(child)

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            sql = props.get("spark.sql.execution.id")
            self.jobs[e["Job ID"]] = Job(
                e["Job ID"], e["Submission Time"] / 1000.0, None,
                list(e.get("Stage IDs", [])),
                module_of(props.get("callSite.short", ""))
                or module_of_span(props.get(SPAN_PROPERTY)),
                int(sql) if sql is not None else None)
        elif kind == "SparkListenerJobEnd":
            job = self.jobs.get(e["Job ID"])
            if job is not None:
                job.end = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageCompleted":
            self.stage_done.add(e["Stage Info"]["Stage ID"])
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics")
            if not m:
                return
            sr, sw = m["Shuffle Read Metrics"], m["Shuffle Write Metrics"]
            accums = {}
            for a in e["Task Info"].get("Accumulables", []):
                try:
                    accums[a["ID"]] = float(a["Update"])
                except (KeyError, TypeError, ValueError):
                    continue
                self.acc_name.setdefault(a["ID"], ("", a.get("Name", ""), ""))
            self.tasks.append(Task(
                stage=e["Stage ID"],
                run_ms=m["Executor Run Time"],
                cpu_ns=m["Executor CPU Time"],
                gc_ms=m["JVM GC Time"],
                shuffle_write=sw["Shuffle Bytes Written"],
                shuffle_read=sr["Remote Bytes Read"] + sr["Local Bytes Read"],
                fetch_wait_ms=sr["Fetch Wait Time"],
                spill=m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"],
                peak_mem=m["Peak Execution Memory"],
                input_bytes=m["Input Metrics"]["Bytes Read"],
                output_bytes=m["Output Metrics"]["Bytes Written"],
                accums=accums,
            ))
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            self.sql_site[e["executionId"]] = e.get("description", "")
            self._plan(e["sparkPlanInfo"])
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            self._plan(e["sparkPlanInfo"])

    def window(self, t0: float, t1: float, slots: int) -> dict[str, float]:
        """Spark-side metrics of the jobs submitted in [t0, t1]."""
        jobs = [j for j in self.jobs.values() if t0 <= j.submit <= t1]
        stages = {s: j for j in jobs for s in j.stage_ids}
        tasks = [t for t in self.tasks if t.stage in stages]
        wall = max(t1 - t0, 1e-9)

        busy = union_length([(j.submit, min(j.end or t1, t1)) for j in jobs])

        out = {
            "spark.jobs": len(jobs),
            "spark.stages": sum(1 for s in stages if s in self.stage_done),
            "spark.tasks": len(tasks),
            "spark.job_s": busy,
            "spark.no_job_s": wall - busy,
            "spark.executor_run_s": sum(t.run_ms for t in tasks) / 1e3,
            "spark.executor_cpu_s": sum(t.cpu_ns for t in tasks) / 1e9,
            "spark.gc_s": sum(t.gc_ms for t in tasks) / 1e3,
            "spark.shuffle_write_bytes": sum(t.shuffle_write for t in tasks),
            "spark.shuffle_read_bytes": sum(t.shuffle_read for t in tasks),
            "spark.shuffle_fetch_wait_s":
                sum(t.fetch_wait_ms for t in tasks) / 1e3,
            "spark.spill_bytes": sum(t.spill for t in tasks),
            "spark.peak_exec_mem_bytes": max(
                (t.peak_mem for t in tasks), default=0),
            "spark.input_bytes": sum(t.input_bytes for t in tasks),
            "spark.output_bytes": sum(t.output_bytes for t in tasks),
        }
        out["spark.slot_util"] = out["spark.executor_run_s"] / (slots * wall)
        out["spark.task_skew"] = _task_skew(tasks)

        for name in _PY_METRICS.values():
            out[name] = 0.0
        out["codegen.pipeline_s"] = 0.0
        for t in tasks:
            for aid, v in t.accums.items():
                node, metric, mtype = self.acc_name.get(aid, ("", "", ""))
                key = _PY_METRICS.get(metric)
                if key is not None:
                    out[key] += v / 1e3 if key.endswith("_s") else v
                elif metric == "duration" and node.startswith(
                        "WholeStageCodegen"):
                    out["codegen.pipeline_s"] += (
                        v / 1e9 if mtype == "nsTiming" else v / 1e3)

        for group in MODULE_GROUPS:
            out[f"spark.job_s.{group}"] = 0.0
        for j in jobs:
            out[f"spark.job_s.{j.module}"] += min(j.end or t1, t1) - j.submit
        return out


def _task_skew(tasks: list[Task]) -> float:
    """Run-time-weighted mean, over stages with 2+ tasks, of each stage's
    slowest task run time divided by its mean task run time (1.0 = even)."""
    by_stage: dict[int, list[int]] = {}
    for t in tasks:
        by_stage.setdefault(t.stage, []).append(t.run_ms)
    num = den = 0.0
    for runs in by_stage.values():
        total = sum(runs)
        if len(runs) < 2 or total <= 0:
            continue
        num += max(runs) / statistics.fmean(runs) * total
        den += total
    return num / den if den else 1.0
