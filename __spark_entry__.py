"""Driver contract for the spark-graft builder (PySpark target).

entry()      -> flagship per-document keep/drop verdict query (sf0.001 smoke)
queries()    -> every implemented operator (SURVEY.md §2) as (spark, sf_dir) -> DF
oracle_sql() -> matching DuckDB SQL for the SQL-expressible ones

All real logic lives in dq_true_north_spark/; this module is a thin adapter.
"""

from __future__ import annotations

import os
import sys
import tempfile
import zipfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _REPO)

from dq_true_north_spark import queries as _Q  # noqa: E402
from dq_true_north_spark.textquality.index_cache import cache_root  # noqa: E402


def _package_zip() -> str:
    """Zip the package's .py files into the user-owned 0700 cache root of
    textquality/index_cache.py: no other user can pre-create or swap the
    file, and each writer fills a unique temp file and os.replace()s it
    into place, so concurrent processes never see a partial zip."""
    root = cache_root()
    zpath = os.path.join(root, "dq_true_north_spark_pkg.zip")
    fd, tmp = tempfile.mkstemp(dir=root, suffix=".zip.tmp")
    try:
        with os.fdopen(fd, "wb") as f, zipfile.ZipFile(f, "w") as z:
            pkg_dir = os.path.join(_REPO, "dq_true_north_spark")
            for dirpath, _, files in os.walk(pkg_dir):
                for name in files:
                    if name.endswith(".py"):
                        full = os.path.join(dirpath, name)
                        z.write(full, os.path.relpath(full, _REPO))
        os.replace(tmp, zpath)
    finally:
        if os.path.exists(tmp):
            os.remove(tmp)
    return zpath


def _ensure_shipped(spark: SparkSession) -> None:
    """Ship the package to executor Python workers (addPyFile), so the
    UDF-based queries work no matter what cwd/session the caller uses —
    the same mechanism as spark-submit --py-files on a real cluster."""
    ctx = spark.sparkContext
    shipped = getattr(_ensure_shipped, "_ids", set())
    if id(ctx) in shipped:
        return
    ctx.addPyFile(_package_zip())
    shipped.add(id(ctx))
    _ensure_shipped._ids = shipped


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    _ensure_shipped(spark)
    reg = _Q.registry()
    return reg["doc_verdicts"]["spark"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    def wrap(fn):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            _ensure_shipped(spark)
            return fn(spark, sf_dir)

        return run

    return {name: wrap(entry["spark"]) for name, entry in _Q.registry().items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: entry["oracle"]
        for name, entry in _Q.registry().items()
        if entry["oracle"] is not None
    }
