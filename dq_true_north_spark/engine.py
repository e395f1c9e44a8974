"""Catalog-driven rule engine — the reference's orchestrator re-built.

Reference: dq_engine.main (dq_engine.py:20-141):
  1. scan RULE_CATALOG, filter IS_ACTIVE, collect to driver (:27) — the
     catalog is tiny, so driver-side iteration is correct on Spark too
     (SURVEY.md §1.2 "control vs data tables");
  2. dispatch on (RULE_TYPE, LOGIC_IMPLEMENTATION) (:93-124);
  3. per-rule exception isolation → ERROR row, loop continues (:125-138);
  4. append one summary row per rule to DQ_RESULTS (:37-44).
"""

from __future__ import annotations

import json
import logging

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import constants as C
from .io import NullSink, ResultSink
from .rules.base import RuleResult
from .rules.duplicates import execute_duplicate_check
from .rules.historical import execute_historical_completeness_check
from .rules.missing_data import execute_missing_data_nulls_check
from .rules.negative_values import execute_negative_value_check
from .rules.sigma import execute_sigma_band_check
from .rules.spike_dip import execute_spike_dip_check
from .rules.sql_rule import (
    execute_completeness_sql,
    execute_generic_sql,
    execute_rolling_average,
    execute_uniqueness_sql,
)
from .rules.trend import execute_sustained_trend_check

log = logging.getLogger(__name__)

DQ_RESULTS_SCHEMA = (
    "rule_id int, rule_name string, segment_value string, rule_type string, "
    "logic_implementation string, result_value string, indicator string, "
    "error_message string"
)

# dispatch table — reference if/elif chain (dq_engine.py:93-124) as a dict
DISPATCH = {
    ("UNIQUENESS", "SQL_QUERY"): execute_uniqueness_sql,
    ("COMPLETENESS", "SQL_QUERY"): execute_completeness_sql,
    ("ROLLING_AVERAGE", "SNOWPARK_FUNC"): execute_rolling_average,
    ("DUPLICATE_CHECK", "SNOWPARK_FUNC"): execute_duplicate_check,
    ("MISSING_DATA_NULLS", "SNOWPARK_FUNC"): execute_missing_data_nulls_check,
    ("SPIKE_DIP", "SNOWPARK_FUNC"): execute_spike_dip_check,
    ("NEGATIVE_VALUES", "SNOWPARK_FUNC"): execute_negative_value_check,
    ("HISTORICAL_COMPLETENESS", "SNOWPARK_FUNC"): execute_historical_completeness_check,
    ("SUSTAINED_TREND", "SNOWPARK_FUNC"): execute_sustained_trend_check,
    ("ANOMALY_SIGMA", "SNOWPARK_FUNC"): execute_sigma_band_check,
}


def _params_of(rule: dict) -> dict:
    """Parse the rule's PARAMETERS JSON; malformed strings must surface as
    that rule's ERROR row, never abort the run (dq_engine.py:125-138)."""
    return json.loads(rule.get("parameters") or "{}")


def _run_one(spark: SparkSession, rule: dict, sink) -> tuple:
    key = (rule["rule_type"], rule["logic_implementation"])
    try:
        params = _params_of(rule)  # inside isolation: bad JSON → ERROR row
        executor = DISPATCH.get(key)
        if executor is None:
            if rule["logic_implementation"] == "SQL_QUERY":
                executor = execute_generic_sql       # generic arm (:258-268)
            else:
                raise ValueError(f"No executor for {key}")
        res: RuleResult = executor(spark, rule, params, sink)
    except Exception as exc:                          # isolation (:125-138)
        res = RuleResult("", C.ERROR, f"{type(exc).__name__}: {exc}")
        log.exception("rule %s (%s) failed", rule["rule_id"], rule["rule_name"])
    return (
        int(rule["rule_id"]),
        rule["rule_name"],
        rule.get("segment_value", ""),
        rule["rule_type"],
        rule["logic_implementation"],
        res.result_value,
        res.indicator,
        res.error_message,
    )


def run_catalog(
    spark: SparkSession,
    rules: list[dict],
    sink: ResultSink | None = None,
    write_summary: bool = True,
    parallelism: int | None = None,
) -> DataFrame:
    """Execute every active rule; return the dq_results summary DataFrame.

    The reference iterates rules strictly sequentially (dq_engine.py:87) —
    correct for a warehouse, wasteful on Spark where independent rule jobs
    can be scheduled concurrently from driver threads (FIFO scheduler
    interleaves their stages across idle cores). parallelism=1 reproduces
    the reference behavior exactly; isolation semantics are unchanged
    because each rule already owns its errors.

    parallelism=None (default) sizes the dispatch pool to the active rule
    count, capped at 16: per-rule driver round trips, not data, dominate
    rule latency, so splitting the catalog into waves only serializes the
    tail (measured round 6: the 12-rule default catalog ran ~0.3-0.5 s
    faster in one wave than in 8+4). The cap bounds concurrent driver
    threads; executors are protected by the FIFO scheduler either way.
    """
    sink = sink if sink is not None else NullSink()
    active = [
        r for r in rules
        if r.get("is_active", True)                 # dq_engine.py:27
        # CORTEX_LLM rules are declared but skipped ("implementation
        # pending") with no summary row — reference dq_engine.py:120-121
        and r.get("logic_implementation") != "CORTEX_LLM"
    ]
    # bootstrap the result plane before the run (dq_engine.py:33-45)
    sink.ensure(spark, "dq_results", DQ_RESULTS_SCHEMA)

    # Persist each distinct source table once per run: six of the default
    # events-rules would otherwise each re-scan the source — repeated scans,
    # not driver round trips, dominate as sources grow (VERDICT r1 #10).
    # Materialize before dispatch so parallel rule threads share the cache.
    # Scope note: rule sources are MONITOR tables (daily metric streams —
    # the reference's domain), which fit MEMORY_AND_DISK comfortably. The
    # web corpus itself never flows through run_catalog and is never cached
    # — the quality-filter pipeline is a separate one-scan path.
    def _source_of(rule: dict) -> str | None:
        try:
            return _params_of(rule).get("source_table")
        except Exception:
            return None  # the owning rule reports the parse ERROR itself

    cached: list[str] = []
    sources = [t for t in dict.fromkeys(_source_of(r) for r in active) if t]

    # Mark each distinct source cached but DO NOT materialize it here:
    # cacheTable is lazy, so the first rule that scans the table fills the
    # shared InMemoryRelation and every later rule reads it. The round-5
    # design ran blocking count() jobs per source before any rule could
    # start; round-6 measurement: that warm phase sat on the critical path
    # and cost more than it saved at bench scale (3.3 s -> 2.7 s without).
    # Dispatch is ONE wave (pool up to 16 threads), so every rule sharing a
    # source can race the first materialization at once. Spark's per-block
    # write lock bounds the damage: a racer that reaches a cached partition
    # while another thread is writing it waits and reads the block, so
    # duplicated work is limited to partitions two racers start at the same
    # moment; the worst case is the uncached cost (one scan per racer).
    for tbl in sources:
        try:
            spark.catalog.cacheTable(tbl)
            cached.append(tbl)
        except Exception:
            pass  # unknown table: owning rule reports ERROR itself

    if parallelism is None:
        parallelism = min(16, len(active)) or 1
    try:
        if parallelism <= 1 or len(active) <= 1:
            summary_rows = [_run_one(spark, rule, sink) for rule in active]
        else:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=parallelism) as pool:
                summary_rows = list(
                    pool.map(lambda r: _run_one(spark, r, sink), active)
                )
    finally:
        for tbl in cached:
            try:
                spark.catalog.uncacheTable(tbl)
            except Exception:
                pass
    summary = spark.createDataFrame(summary_rows, DQ_RESULTS_SCHEMA)
    if write_summary and not isinstance(sink, NullSink):
        sink.append(summary, "dq_results")
    return summary


def read_results(spark: SparkSession, sink: ResultSink) -> DataFrame:
    """Reference return value: the DQ_RESULTS handle (dq_engine.py:141)."""
    return sink.read(spark, "dq_results").orderBy(
        F.col("execution_timestamp").desc()
    )
