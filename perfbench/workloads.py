"""The three closed-loop batch workloads and their correctness gates.

Each iteration reads its input from parquet, calls the package's public
entry points and commits its result to a fresh output directory; the gate
then reads the committed files back with pyarrow (no Spark job, so the
check never shows up in the iteration's Spark metrics) and compares them to
the oracle built with the inputs.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from inputs import MONITOR_TABLES


def _read(path: str) -> pd.DataFrame:
    return pq.read_table(path).to_pandas()


def _rewrite(path: str, edit) -> None:
    """Replace a committed parquet directory with edit(its arrow table)."""
    table = edit(pq.read_table(path))
    shutil.rmtree(path)
    os.makedirs(path)
    pq.write_table(table, os.path.join(path, "part-0.parquet"))


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    )


class Outcome:
    """What one iteration committed, plus per-iteration facts for tracing."""

    def __init__(self, out_dir: str, **facts):
        self.out_dir = out_dir
        self.facts = facts


class FilterPages:
    """repartition_by_url -> run_quality_pipeline (verdicts, lineage,
    summary stages, each committed by rename) with a fresh run_id."""

    name = "filter_pages"
    ops = 1

    def __init__(self, spark, input_dir: str, calls: dict, partitions: int):
        self.spark = spark
        self.pages_path = os.path.join(input_dir, "pages")
        self.calls = calls
        self.partitions = partitions
        g = _read(os.path.join(input_dir, "oracle.parquet"))
        self.oracle = g.sort_values(["url", "warc_ts"]).reset_index(drop=True)

    def iterate(self, i: int, out_dir: str) -> Outcome:
        pages = self.spark.read.parquet(self.pages_path)
        pages = self.calls["partitioning.repartition_by_url"](
            pages, self.partitions)
        self.calls["lineage.run_quality_pipeline"](
            self.spark, pages, out_dir, run_id=f"it{i:04d}")
        return Outcome(out_dir, run_id=f"it{i:04d}")

    def check(self, res: Outcome) -> tuple[int, int]:
        """One operation per iteration; it fails unless every verdict, the
        lineage totals and the summary row agree with the golden filter."""
        run = res.facts["run_id"]
        v = _read(os.path.join(res.out_dir, "verdicts", run))
        ts = v["warc_ts"]
        if ts.dt.tz is not None:    # INT96 (Spark's default) reads naive
            ts = ts.dt.tz_convert("UTC").dt.tz_localize(None)
        v = v.assign(
            warc_ts=ts.astype(str),
            drop_reasons=v["drop_reasons"].map(lambda a: ",".join(a)),
        ).sort_values(["url", "warc_ts"]).reset_index(drop=True)
        g = self.oracle
        ok = (
            len(v) == len(g)
            and (v["url"] == g["url"]).all()
            and (v["warc_ts"] == g["warc_ts"]).all()
            and (v["keep"] == g["keep"]).all()
            and (v["drop_reasons"] == g["drop_reasons"]).all()
            and (v["scrubbed_text"] == g["scrubbed_text"]).all()
            and (v["pred_lang"] == g["pred_lang"]).all()
            and np.array_equal(v["lang_confidence"].to_numpy(),
                               np.round(g["lang_confidence"].to_numpy(), 6))
            and np.allclose(v["perplexity"].to_numpy(),
                            g["perplexity"].to_numpy(), rtol=0, atol=1e-6)
        )
        if ok:
            kept = int(g["keep"].sum())
            lin = _read(os.path.join(res.out_dir, "lineage", run))
            summ = _read(os.path.join(res.out_dir, "summary", run))
            ok = (
                int(lin["docs_in"].sum()) == len(g)
                and int(lin["docs_out"].sum()) == kept
                and len(summ) == 1
                and int(summ["total_docs"][0]) == len(g)
                and int(summ["kept_docs"][0]) == kept
            )
        return 1, 0 if ok else 1

    def corrupt(self, res: Outcome) -> None:
        """Drop one committed verdict (self-test of the gate)."""
        path = os.path.join(res.out_dir, "verdicts", res.facts["run_id"])
        _rewrite(path, lambda t: t.slice(1))


class RuleCatalog:
    """engine.run_catalog(DEFAULT_CATALOG) into a real ResultSink in a fresh
    directory; sources are the seeded multi-file monitor tables."""

    name = "rule_catalog"

    def __init__(self, spark, input_dir: str, calls: dict, partitions: int):
        from dq_true_north_spark.catalog import DEFAULT_CATALOG
        from dq_true_north_spark.session import load_tables

        self.spark = spark
        self.calls = calls
        self.input_dir = input_dir
        self.load_tables = load_tables
        self.catalog = DEFAULT_CATALOG
        self.ops = len(DEFAULT_CATALOG)
        self.errors = 0
        with open(os.path.join(input_dir, "oracle.json")) as f:
            self.oracle = json.load(f)

    def iterate(self, i: int, out_dir: str) -> Outcome:
        from dq_true_north_spark.io import ResultSink

        self.load_tables(self.spark, self.input_dir, MONITOR_TABLES)
        # the engine annotates rule dicts it was given; hand it copies
        rules = [dict(r) for r in self.catalog]
        self.calls["engine.run_catalog"](
            self.spark, rules, sink=ResultSink(out_dir))
        return Outcome(out_dir)

    def check(self, res: Outcome) -> tuple[int, int]:
        """One operation per rule; a rule fails when its summary row is
        missing, differs from the DuckDB oracle row, or says ERROR."""
        from tests.oracle import canon

        cols = self.oracle["columns"]
        got = _read(os.path.join(res.out_dir, "dq_results"))[cols]
        rows = list(got.itertuples(index=False, name=None))
        have = [[str(x) for x in r] for r in rows]
        self.errors = sum(1 for r in have if r[-1] == "ERROR")
        failed = sum(1 for r in self.oracle["rows"] if r not in have)
        failed += max(0, len(have) - len(self.oracle["rows"]))
        n, c, digest = canon(rows, list(got.columns))
        if failed == 0 and [n, list(c), digest] != self.oracle["canon"]:
            failed = len(self.oracle["rows"])
        return len(self.oracle["rows"]), failed

    def corrupt(self, res: Outcome) -> None:
        """Change one committed rule result (self-test of the gate)."""
        def edit(t):
            values = t.column("result_value").to_pylist()
            values[-1] = "-1"
            return t.set_column(t.schema.get_field_index("result_value"),
                                "result_value", pa.array(values))

        _rewrite(os.path.join(res.out_dir, "dq_results"), edit)


class NearDupPages:
    """minhash_candidate_pairs -> keep_representatives(algorithm="star"),
    kept rows committed to parquet."""

    name = "near_dup_pages"
    ops = 1

    def __init__(self, spark, input_dir: str, calls: dict, partitions: int):
        self.spark = spark
        self.calls = calls
        self.pages_path = os.path.join(input_dir, "pages")
        with open(os.path.join(input_dir, "oracle.json")) as f:
            self.oracle = json.load(f)

    def iterate(self, i: int, out_dir: str) -> Outcome:
        df = self.spark.read.parquet(self.pages_path)
        pairs = self.calls["dedup.minhash_candidate_pairs"](
            df, id_col="url", text_col="text")
        kept = self.calls["dedup.keep_representatives"](
            df, pairs, id_col="url", algorithm="star")
        kept.write.parquet(os.path.join(out_dir, "kept"))
        return Outcome(out_dir, pairs=pairs)

    def check(self, res: Outcome) -> tuple[int, int]:
        kept = sorted(_read(os.path.join(res.out_dir, "kept"))["url"])
        return 1, 0 if kept == self.oracle["kept_urls"] else 1

    def corrupt(self, res: Outcome) -> None:
        """Drop one committed representative (self-test of the gate)."""
        _rewrite(os.path.join(res.out_dir, "kept"), lambda t: t.slice(1))


WORKLOADS = {w.name: w for w in (FilterPages, RuleCatalog, NearDupPages)}


def clear(out_dir: str) -> None:
    shutil.rmtree(out_dir, ignore_errors=True)
