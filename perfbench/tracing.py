"""Spans around the package's public calls, recorded by the benchmark.

The traced run wraps the calls named below, in this process only; the
package itself is not changed. A span is (name, start, end, parent): the
parent is the innermost open span of the same thread or, for a thread with
no open span (the engine's rule threads), the innermost open span of the
thread that created the tracer. Spans stay in memory; the worker reduces
them per iteration.

While a span is open its name is also set as the Spark local property
`perfbench.span` of the calling thread, so the event log can attribute jobs
whose call site PySpark does not record (count, writes) to the innermost
span around them -- on the engine's rule threads too, because the rule
spans are opened on those threads.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    attrs: dict = field(default_factory=dict)


SPAN_PROPERTY = "perfbench.span"


class Tracer:
    def __init__(self):
        self.sc = None              # SparkContext, set once a session exists
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._main_stack: list[int] = []
        self._main = threading.get_ident()

    def _stack(self) -> list[int]:
        if threading.get_ident() == self._main:
            return self._main_stack
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        if stack:
            parent = stack[-1]
        else:
            main = self._main_stack
            parent = main[-1] if main else None
        with self._lock:
            sid = next(self._ids)
        stack.append(sid)
        sc = self.sc
        prev = sc.getLocalProperty(SPAN_PROPERTY) if sc else None
        if sc:
            sc.setLocalProperty(SPAN_PROPERTY, name)
        start = time.time()
        try:
            yield attrs
        finally:
            end = time.time()
            if sc:
                sc.setLocalProperty(SPAN_PROPERTY, prev)
            stack.pop()
            with self._lock:
                self.spans.append(Span(sid, name, start, end, parent, attrs))

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return wrapper

    def within(self, t0: float, t1: float) -> list[Span]:
        with self._lock:
            return [s for s in self.spans if s.start >= t0 and s.end <= t1]


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span: Span, spans: list[Span]) -> float:
    """Duration minus the part of it covered by the span's direct
    children (overlapping children, e.g. parallel rules, count once)."""
    kids = [(max(s.start, span.start), min(s.end, span.end))
            for s in spans if s.parent == span.sid]
    return (span.end - span.start) - union_length(kids)


def install(tracer: Tracer) -> None:
    """Wrap the package's public calls with spans. Call sites that look the
    name up at call time (module globals, class attributes, the engine's
    DISPATCH table) see the wrapper."""
    from dq_true_north_spark import engine, lineage
    from dq_true_north_spark import io as dq_io
    from dq_true_north_spark.textquality import dedup, pipeline

    pipeline.compute_verdicts = tracer.wrap(
        "pipeline.compute_verdicts", pipeline.compute_verdicts)

    stage = lineage.PipelineRunner.stage

    @functools.wraps(stage)
    def traced_stage(self, name, build):
        with tracer.span(f"lineage.stage.{name}"):
            return stage(self, name, build)

    lineage.PipelineRunner.stage = traced_stage

    for key, fn in list(engine.DISPATCH.items()):
        engine.DISPATCH[key] = tracer.wrap("engine.rule", fn)
    engine.execute_generic_sql = tracer.wrap(
        "engine.rule", engine.execute_generic_sql)
    dq_io.ResultSink.append = tracer.wrap("io.append", dq_io.ResultSink.append)
    dq_io.ResultSink.ensure = tracer.wrap("io.ensure", dq_io.ResultSink.ensure)

    star = dedup.star_contract_clusters

    @functools.wraps(star)
    def traced_star(pairs, max_rounds=20, stats=None):
        stats = {} if stats is None else stats
        with tracer.span("dedup.star_contract_clusters") as attrs:
            try:
                return star(pairs, max_rounds=max_rounds, stats=stats)
            finally:
                attrs["rounds"] = stats.get("rounds", 0)

    dedup.star_contract_clusters = traced_star


def public_calls(tracer: Tracer | None):
    """The entry points the workloads call, wrapped when tracing."""
    from dq_true_north_spark import engine, partitioning
    from dq_true_north_spark import lineage
    from dq_true_north_spark.textquality import dedup

    calls = {
        "partitioning.repartition_by_url": partitioning.repartition_by_url,
        "lineage.run_quality_pipeline": lineage.run_quality_pipeline,
        "engine.run_catalog": engine.run_catalog,
        "dedup.minhash_candidate_pairs": dedup.minhash_candidate_pairs,
        "dedup.keep_representatives": dedup.keep_representatives,
    }
    if tracer is None:
        return calls
    return {name: tracer.wrap(name, fn) for name, fn in calls.items()}
