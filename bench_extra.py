#!/usr/bin/env python
"""Round-6 optimization measurement harness (guide §1) — NOT the driver
contract; bench.py stays frozen. This file exists so optimization evidence
(noop-sink isolation, per-stage splits, repeated visits) can be cited in
OPTIMIZATION_r06.md without touching the timed artifact.

Usage:
  python bench_extra.py [query ...]      # default: all bench queries
  SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS as in bench.py.

Per query: N visits (default 3), JVM GC between, noop sink (computes every
column, discards output — guide §1.4), prints min/median and all samples as
one JSON line per query.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from dq_true_north_spark.session import get_spark  # noqa: E402

BENCH_QUERIES = (
    "doc_verdicts",
    "doc_metrics",
    "dq_engine_summary",
    "spike_dip_events",
    "sigma_bands_events",
    "historical_completeness_events",
    "cosine_topk_embeddings",
    "minhash_pairs_pages",
    "scrub_documents",
    "sigma_warning_zone_events",
    "segment_filter_events",
    "embedding_near_dup_pairs",
    "near_dup_clusters_pages",
)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    visits = int(os.environ.get("BENCH_EXTRA_VISITS", "3"))
    names = sys.argv[1:] or list(BENCH_QUERIES)

    spark = get_spark(
        app_name="dq-bench-extra", master=f"local[{cpus}]",
        shuffle_partitions=str(max(int(cpus), 8)),
        extra_conf={"spark.local.dir": "/dev/shm/spark-bench"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    from dq_true_north_spark import queries as Q
    from dq_true_north_spark.corpus import pages_df
    from dq_true_north_spark.textquality.pipeline import compute_verdicts

    reg = Q.registry()

    # same warmup as bench.py (JVM + Python worker pool)
    compute_verdicts(pages_df(spark, 2_000, int(cpus))).count()

    out = {}
    for name in names:
        if name == "pipeline_parquet":
            # the headline pipeline over the materialized parquet corpus
            import bench as B
            from dq_true_north_spark.corpus import n_pages_for_sf

            pages = B.corpus_parquet(spark, n_pages_for_sf(sf_dir), cpus)

            def fn(spark, sf_dir, _p=pages):
                return compute_verdicts(_p, dedup_strategy="broadcast")
        else:
            fn = reg[name]["spark"]
        samples = []
        for _ in range(visits):
            spark._jvm.System.gc()
            spark.sparkContext.setJobDescription(f"bench_extra: {name}")
            t0 = time.perf_counter()
            noop(fn(spark, sf_dir))
            samples.append(round(time.perf_counter() - t0, 3))
            spark.sparkContext.setJobDescription(None)
        samples_sorted = sorted(samples)
        out[name] = {
            "min": samples_sorted[0],
            "med": samples_sorted[len(samples_sorted) // 2],
            "samples": samples,
        }
        print(json.dumps({name: out[name]}), flush=True)

    print(json.dumps({"all": out}))
    spark.stop()


if __name__ == "__main__":
    main()
