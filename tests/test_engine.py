"""Engine mechanics: detail-table writes, error isolation, append-only sink.

Models the reference's operational posture (SURVEY.md §5): verdict trichotomy
makes rule bugs visible as ERROR rows instead of crashing the run
(dq_engine.py:125-138).
"""

from __future__ import annotations

import json
import logging

import pytest

from dq_true_north_spark import constants as C
from dq_true_north_spark.catalog import DEFAULT_CATALOG
from dq_true_north_spark.engine import run_catalog
from dq_true_north_spark.io import ResultSink
from dq_true_north_spark.session import load_tables
from tests.conftest import SF_DIR, TABLES


@pytest.fixture(scope="module")
def sink(tmp_path_factory):
    return ResultSink(str(tmp_path_factory.mktemp("dq_results")))


def test_full_catalog_run_with_sink(spark, sink):
    load_tables(spark, SF_DIR, TABLES)
    summary = run_catalog(spark, [dict(r) for r in DEFAULT_CATALOG], sink=sink)
    rows = {r["rule_name"]: r for r in summary.collect()}
    assert len(rows) == len(DEFAULT_CATALOG)
    # universal convention: FAIL iff violation count > 0
    for name, r in rows.items():
        if r["indicator"] in (C.PASS, C.FAIL) and r["result_value"].isdigit():
            expected = C.FAIL if int(r["result_value"]) > 0 else C.PASS
            if name != "events_rolling_average":  # informational, always PASS
                assert r["indicator"] == expected, name
    # summary persisted with execution_timestamp appended
    persisted = sink.read(spark, "dq_results")
    assert persisted.count() == len(DEFAULT_CATALOG)
    assert "execution_timestamp" in persisted.columns
    # a failing rule must have produced detail rows
    spike = rows["events_value_spike_dip"]
    if spike.extra if hasattr(spike, "extra") else False:
        pass
    if int(rows["events_sustained_trend"]["result_value"]) > 0:
        details = sink.read(spark, "dq_sustained_trend_details")
        assert details.count() >= int(rows["events_sustained_trend"]["result_value"])


def test_append_only_double_run(spark, sink):
    """Reference appends on every run (dq_rules_library.py:44) — two runs,
    twice the summary rows."""
    load_tables(spark, SF_DIR, TABLES)
    run_catalog(spark, [dict(DEFAULT_CATALOG[0])], sink=sink)
    n1 = sink.read(spark, "dq_results").count()
    run_catalog(spark, [dict(DEFAULT_CATALOG[0])], sink=sink)
    n2 = sink.read(spark, "dq_results").count()
    assert n2 == n1 + 1


def test_error_isolation(spark, caplog):
    """A broken rule yields an ERROR row; later rules still run
    (dq_engine.py:125-138). The traceback goes to the engine's logger, and
    the caller's rule dicts come back unchanged."""
    load_tables(spark, SF_DIR, TABLES)
    bad = {
        "rule_id": 99, "rule_name": "broken_sql", "rule_type": "GENERIC",
        "logic_implementation": "SQL_QUERY",
        "logic_definition": "SELECT * FROM table_that_does_not_exist",
        "parameters": "{}", "segment_value": "", "is_active": True,
    }
    good = dict(DEFAULT_CATALOG[2])
    before = [dict(bad), dict(good)]
    with caplog.at_level(logging.ERROR, logger="dq_true_north_spark.engine"):
        summary = run_catalog(spark, [bad, good], write_summary=False)
    rows = {r["rule_name"]: r for r in summary.collect()}
    assert rows["broken_sql"]["indicator"] == C.ERROR
    assert rows["broken_sql"]["error_message"] != ""
    assert rows["customer_acctbal_negative"]["indicator"] in (C.PASS, C.FAIL)
    assert [bad, good] == before

    logged = [r for r in caplog.records
              if r.name == "dq_true_north_spark.engine"]
    assert len(logged) == 1
    assert "broken_sql" in logged[0].getMessage()
    assert logged[0].exc_info is not None
    assert "table_that_does_not_exist" in caplog.text


def test_verdict_trichotomy(spark):
    """value>0 → FAIL, NULL → FAIL, empty → ERROR
    (dq_rules_library.py:109-123,259-267)."""
    cases = [
        ("SELECT 5", C.FAIL),
        ("SELECT 0", C.PASS),
        ("SELECT NULL", C.FAIL),
        ("SELECT 1 WHERE 1 = 0", C.ERROR),
    ]
    for sql, expected in cases:
        rule = {
            "rule_id": 1, "rule_name": "t", "rule_type": "GENERIC",
            "logic_implementation": "SQL_QUERY", "logic_definition": sql,
            "parameters": "{}", "segment_value": "", "is_active": True,
        }
        summary = run_catalog(spark, [rule], write_summary=False)
        assert summary.first()["indicator"] == expected, sql


def test_inactive_rules_skipped(spark):
    rule = dict(DEFAULT_CATALOG[0])
    rule["is_active"] = False
    summary = run_catalog(spark, [rule], write_summary=False)
    assert summary.count() == 0


def test_cortex_llm_rules_skipped_like_reference(spark):
    """CORTEX_LLM rules: declared in dispatch but skipped with no summary
    row (reference dq_engine.py:120-121 'implementation pending')."""
    rule = {
        "rule_id": 77, "rule_name": "llm_rule", "rule_type": "GENERIC",
        "logic_implementation": "CORTEX_LLM", "logic_definition": "",
        "parameters": "{}", "segment_value": "", "is_active": True,
    }
    summary = run_catalog(spark, [rule, dict(DEFAULT_CATALOG[2])],
                          write_summary=False)
    names = [r["rule_name"] for r in summary.collect()]
    assert names == ["customer_acctbal_negative"]


def test_duplicate_check_normalization(spark, sink):
    """Case-insensitive + rounded normalization (dq_rules_library.py:310-313)."""
    df = spark.createDataFrame(
        [("A", 1.001), ("a", 1.0012), ("b", 2.0)], "k string, v double"
    )
    df.createOrReplaceTempView("dup_norm_src")
    rule = {
        "rule_id": 50, "rule_name": "dup_norm", "rule_type": "DUPLICATE_CHECK",
        "logic_implementation": "SNOWPARK_FUNC",
        "logic_definition": "",
        "parameters": json.dumps({
            "source_table": "dup_norm_src",
            "columns_to_check": ["k", "v"],
            "case_insensitive_columns": ["k"],
            "numeric_columns_to_round": {"v": 2},
        }),
        "segment_value": "", "is_active": True,
    }
    summary = run_catalog(spark, [rule], sink=sink)
    row = summary.first()
    assert row["indicator"] == C.FAIL
    assert row["result_value"] == "1"  # one duplicate group: (A, 1.00)


def test_sink_bootstrap_creates_empty_table(spark, tmp_path):
    """Reference probe + CREATE-on-miss (dq_engine.py:33-45): the table is
    readable with the declared schema before any rule has appended."""
    from dq_true_north_spark.engine import DQ_RESULTS_SCHEMA
    from dq_true_north_spark.io import ResultSink

    s = ResultSink(str(tmp_path / "boot"))
    s.ensure(spark, "dq_results", DQ_RESULTS_SCHEMA)
    df = s.read(spark, "dq_results")
    assert df.count() == 0
    assert "rule_name" in df.columns and "execution_timestamp" in df.columns


def test_sink_schema_self_heal(spark, tmp_path):
    """Reference recreate-on-schema-drift (dq_engine.py:64-85): appending a
    drifted schema recreates the table instead of poisoning the parquet dir
    at read time."""
    from dq_true_north_spark.io import ResultSink

    s = ResultSink(str(tmp_path / "heal"))
    s.append(spark.createDataFrame([("a", 1)], "name string, n int"), "t")
    # drift: column renamed + type changed
    s.append(spark.createDataFrame([("b", 2.5)], "name string, score double"), "t")
    out = s.read(spark, "t")
    assert set(out.columns) == {"name", "score", "execution_timestamp"}
    assert out.count() == 1  # recreated (reference CREATE OR REPLACE drops rows)
    # compatible appends still accumulate
    s.append(spark.createDataFrame([("c", 3.5)], "name string, score double"), "t")
    assert s.read(spark, "t").count() == 2


def test_sink_concurrent_appends_same_table(spark, tmp_path):
    """Per-table lock: N driver threads appending to ONE details table must
    lose no rows (two FileOutputCommitter jobs on one path share the
    _temporary staging dir without it)."""
    from concurrent.futures import ThreadPoolExecutor

    from dq_true_north_spark.io import ResultSink

    s = ResultSink(str(tmp_path / "conc"))
    frames = [
        spark.createDataFrame([(i, f"r{i}")], "i int, v string")
        for i in range(8)
    ]
    with ThreadPoolExecutor(max_workers=8) as pool:
        list(pool.map(lambda f: s.append(f, "details"), frames))
    out = s.read(spark, "details")
    assert out.count() == 8
    assert sorted(r["i"] for r in out.collect()) == list(range(8))


def test_uniqueness_accepts_reference_outer_form(spark):
    """Catalogs migrated from the reference store the OUTER count query;
    the inner row-set is extracted with the reference's regex
    (dq_rules_library.py:69-72)."""
    load_tables(spark, SF_DIR, TABLES)
    outer = ("SELECT COUNT(*) FROM (SELECT l_orderkey, l_linenumber "
             "FROM lineitem) as dupes")
    rule = {
        "rule_id": 91, "rule_name": "uniq_outer", "rule_type": "UNIQUENESS",
        "logic_implementation": "SQL_QUERY", "logic_definition": outer,
        "parameters": "{}", "segment_value": "", "is_active": True,
    }
    direct = dict(rule, rule_id=92, rule_name="uniq_inner",
                  logic_definition="SELECT l_orderkey, l_linenumber FROM lineitem")
    summary = run_catalog(spark, [rule, direct], write_summary=False)
    rows = {r["rule_name"]: r for r in summary.collect()}
    assert rows["uniq_outer"]["result_value"] == rows["uniq_inner"]["result_value"]
    assert rows["uniq_outer"]["indicator"] == rows["uniq_inner"]["indicator"]


def test_completeness_one_col_arm_derives_expected_date(spark, tmp_path):
    """The 1-col COMPLETENESS arm logs a derived expected date (yesterday)
    and the reference's 'N/A - Count Check' sentinel instead of empty
    strings (dq_rules_library.py:139-149; VERDICT r2 missing #1)."""
    local_sink = ResultSink(str(tmp_path / "cmp_sink"))
    rule = {
        "rule_id": 90, "rule_name": "one_col_completeness",
        "rule_type": "COMPLETENESS",
        "logic_implementation": "SQL_QUERY",
        "logic_definition": "SELECT 3 AS missing_days",
        "parameters": "{}", "segment_value": "", "is_active": True,
    }
    summary = run_catalog(spark, [rule], sink=local_sink, write_summary=False)
    row = summary.first()
    assert row["indicator"] == C.FAIL
    assert row["result_value"] == "3"
    detail = local_sink.read(spark, "dq_details_completeness").first()
    assert detail["actual_max_date"] == "N/A - Count Check"
    assert detail["days_missing"] == 3
    yesterday = spark.sql("SELECT CAST(date_sub(current_date(), 1) AS STRING)").first()[0]
    assert detail["expected_date"] == yesterday


def test_negative_values_default_timestamp_column(spark, tmp_path):
    """Reference defaults timestamp_column='CREATED_DATE'
    (dq_rules_library.py:655): used when present, silently NULL when the
    DEFAULT column is absent, but an EXPLICIT missing column still errors
    like the reference."""
    import datetime

    local_sink = ResultSink(str(tmp_path / "neg_sink"))
    # -0.00005 also pins the display rounding: half-AWAY-from-zero keeps
    # the sign (-0.0001), where a plain floor-round4 would log 0.0
    spark.createDataFrame(
        [(1, -0.00005, datetime.datetime(2024, 6, 1, 12, 0))],
        "id int, amount double, created_date timestamp",
    ).createOrReplaceTempView("neg_with_created")
    spark.createDataFrame(
        [(1, -5.0)], "id int, amount double"
    ).createOrReplaceTempView("neg_without_created")

    def neg_rule(rid, src, **extra):
        params = {"source_table": src, "numeric_columns": ["amount"],
                  "id_column": "id", **extra}
        return {
            "rule_id": rid, "rule_name": f"neg_{rid}",
            "rule_type": "NEGATIVE_VALUES",
            "logic_implementation": "SNOWPARK_FUNC", "logic_definition": "",
            "parameters": json.dumps(params), "segment_value": "",
            "is_active": True,
        }

    summary = run_catalog(
        spark,
        [neg_rule(91, "neg_with_created"), neg_rule(92, "neg_without_created"),
         neg_rule(93, "neg_without_created", timestamp_column="nope")],
        sink=local_sink, write_summary=False,
    )
    rows = {r["rule_name"]: r for r in summary.collect()}
    assert rows["neg_91"]["indicator"] == C.FAIL
    assert rows["neg_92"]["indicator"] == C.FAIL
    assert rows["neg_93"]["indicator"] == C.ERROR   # explicit missing column
    details = local_sink.read(spark, "dq_negative_value_details").collect()
    by_rule = {r["rule_name"]: r for r in details}
    assert by_rule["neg_91"]["record_timestamp"] == "2024-06-01 12:00:00"
    assert by_rule["neg_92"]["record_timestamp"] is None
    assert by_rule["neg_91"]["negative_value"] == -0.0001
