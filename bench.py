#!/usr/bin/env python
"""Benchmark harness — prints ONE JSON line per the driver contract:
{"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Headline metric: corpus-pipeline docs/sec (langid + perplexity + heuristics
+ exact dedup + scrub, fully materialized) on the synthetic CC-style corpus
at the bench scale, plus per-query wall times for representative operators.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS   (default 32).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from dq_true_north_spark.corpus import n_pages_for_sf, pages_df  # noqa: E402
from dq_true_north_spark.session import get_spark  # noqa: E402
from dq_true_north_spark.textquality.pipeline import compute_verdicts  # noqa: E402
from dq_true_north_spark import queries as Q  # noqa: E402

HEADLINE_QUERIES = (
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


def materialize(df) -> int:
    """Force full computation of EVERY column — summing string lengths of
    each field means Catalyst can't prune any of them (count alone, or a
    prefix of the schema, would let it drop e.g. the regexp-scrub chain
    out of the timed plan — the round-2 headline did exactly that)."""
    row = df.select(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum(F.length(F.col(c.name).cast("string"))).alias(f"_{c.name}")
            for c in df.schema.fields
        ],
    ).first()
    return row["n"]


def corpus_parquet(spark, n_pages: int, cpus: str):
    """The bench corpus, written once to .data/pages_N (untimed). A
    directory without Spark's _SUCCESS commit marker is a killed write and
    is regenerated, never read as a partial corpus."""
    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), ".data", f"pages_{n_pages}"
    )
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        pages_df(spark, n_pages, int(cpus)).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(
        app_name="dq-bench", master=f"local[{cpus}]",
        shuffle_partitions=str(max(int(cpus), 8)),
        # shuffle on tmpfs: the sandbox's single shared disk otherwise
        # dominates timings; a real cluster shuffles over NVMe + network
        extra_conf={"spark.local.dir": "/dev/shm/spark-bench"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    timings: dict[str, float] = {}
    reg = Q.registry()

    # warm the JVM + Python worker pool once (excluded from timings)
    compute_verdicts(pages_df(spark, 2_000, int(cpus))).count()

    # materialize the corpus to parquet once (untimed — stands in for the
    # Iceberg table the production pipeline reads; generation is not the
    # system under test)
    pages = corpus_parquet(spark, n_pages_for_sf(sf_dir), cpus)

    # the dedup-strategy sketch is a once-per-corpus decision in production;
    # time it once as its own line item, then run the pipeline with the
    # chosen strategy fixed (auto would re-pay the sketch every run)
    from dq_true_north_spark.textquality.pipeline import (
        BROADCAST_DUP_FRACTION_MAX,
        estimate_dup_fraction,
    )

    t0 = time.perf_counter()
    dup_frac = estimate_dup_fraction(pages)
    timings["dedup_strategy_sketch"] = round(time.perf_counter() - t0, 3)
    strategy = (
        "broadcast" if dup_frac <= BROADCAST_DUP_FRACTION_MAX else "shuffle"
    )

    # headline: full pipeline throughput — cold, then min-of-2 steady-state
    def one_run() -> tuple[int, float]:
        t0 = time.perf_counter()
        n = materialize(compute_verdicts(pages, dedup_strategy=strategy))
        return n, time.perf_counter() - t0

    n, dt_cold = one_run()
    dt_warm = min(one_run()[1], one_run()[1])
    timings["pipeline_cold"] = round(dt_cold, 3)
    timings["pipeline_steady"] = round(dt_warm, 3)
    docs_per_sec = round(n / dt_warm, 1)

    # min-of-2 per query: sandbox timings swing far more than real deltas
    # (observed 2s→16s spikes on an idle query); the min is the signal.
    # Between queries, request a JVM GC — without it, query N pays query
    # N-1's garbage (r3's embedding_near_dup 6.3s and an 18s spike in a
    # pre-fix r4 run both reproduced only with a dirty heap; a fresh JVM
    # runs the same plan in ~2.5s)
    for name in HEADLINE_QUERIES:
        fn = reg[name]["spark"]
        best = None
        for _ in range(2):
            spark._jvm.System.gc()
            t0 = time.perf_counter()
            materialize(fn(spark, sf_dir))
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        timings[name] = round(best, 3)

    # star contraction on a planted 10k-node CHAIN — diameter 10k, the
    # worst shape for any O(diameter) algorithm; the alternating
    # large/small-star O(log n) bound is MEASURED here, not asserted:
    # rounds lands in the JSON (VERDICT r3 next #7; ~15 expected)
    from dq_true_north_spark.textquality.dedup import star_contract_clusters

    chain = spark.createDataFrame(
        [(f"n{i:06d}", f"n{i + 1:06d}") for i in range(9_999)],
        "doc_a string, doc_b string",
    )
    star_stats: dict = {}
    t0 = time.perf_counter()
    n_chain = star_contract_clusters(chain, max_rounds=40, stats=star_stats).count()
    timings["star_chain_10k"] = round(time.perf_counter() - t0, 3)
    assert n_chain == 10_000

    print(
        json.dumps(
            {
                "metric": "corpus_pipeline_docs_per_sec",
                "value": docs_per_sec,
                "unit": "sec",
                "queries": timings,
                "sf": sf_dir,
                "cpus": int(cpus),
                "pipeline_docs": n,
                "star_chain_rounds": star_stats.get("rounds"),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
