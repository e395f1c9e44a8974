"""Registry-order contract: the external driver checks only the FIRST
`_DRIVER_WINDOW` registry entries, so the window contents are a deliberate,
tested artifact (VERDICT r3 wrong #1 — 7 load-bearing queries silently fell
past the cut when new queries were registered above them in file order)."""

from __future__ import annotations

from dq_true_north_spark import queries as Q

# Queries whose external driver evidence the whole build pivots on — these
# must NEVER fall out of the window again.
LOAD_BEARING = (
    "pages_pipeline_verdicts",
    "pages_pipeline_summary",
    "scrub_documents",
    "langid_documents",
    "dq_engine_summary",
    "doc_verdicts",
    "doc_fingerprints",
    "canonical_urls",
    "ann_ivf_embeddings",
    "token_budget_packs_sharded",
    "length_band_filter_approx",
    "doc_chunks",
    "minhash_pairs_pages",
    "simhash_pairs_pages",
    "ann_lsh_embeddings",
)


def test_window_is_exactly_the_priority_list():
    names = list(Q.registry())
    assert len(Q._PRIORITY) == Q._DRIVER_WINDOW
    assert len(set(Q._PRIORITY)) == len(Q._PRIORITY), "duplicate in _PRIORITY"
    assert names[: Q._DRIVER_WINDOW] == list(Q._PRIORITY)


def test_priority_names_all_exist():
    reg = Q.registry()
    missing = [n for n in Q._PRIORITY if n not in reg]
    assert not missing, f"_PRIORITY names not registered: {missing}"


def test_load_bearing_queries_inside_window():
    window = list(Q.registry())[: Q._DRIVER_WINDOW]
    out = [n for n in LOAD_BEARING if n not in window]
    assert not out, f"load-bearing queries outside the driver window: {out}"


def test_window_is_oracle_dense():
    """Every oracle-checked query should sit inside the window unless its
    tail placement is deliberate (documented at _PRIORITY). The allowed
    oracled-tail set is pinned here so adding an oracled query without
    placing it is a test failure, not a silent evidence loss; the window's
    oracle count is pinned too, so a refill cannot quietly trade oracled
    entries for rows-only ones."""
    reg = Q.registry()
    names = list(reg)
    window = names[: Q._DRIVER_WINDOW]
    n_oracled = sum(reg[n]["oracle"] is not None for n in window)
    assert n_oracled >= 49, (
        f"only {n_oracled} oracle-checked window entries; rows-only: "
        f"{[n for n in window if reg[n]['oracle'] is None]}"
    )
    tail = names[Q._DRIVER_WINDOW:]
    oracled_tail = sorted(n for n in tail if reg[n]["oracle"])
    assert oracled_tail == [
        "doc_chunks_tokens",           # token-aware twin of doc_chunks
                                       # (in-window); same explode shape
        "host_counts_salted_vs_direct", # mirror-oracled skew demo (r5)
    ], f"unplanned oracled queries in the tail: {oracled_tail}"


def test_star_clusters_not_registered():
    """near_dup_clusters_pages already runs star contraction; there is no
    second (identical-output) registry row for it."""
    assert "near_dup_clusters_star_pages" not in Q.registry()


def test_bench_headline_queries_are_registered():
    """bench.py times registry entries by name — a rename/demotion must
    fail here, not in the driver's per-round bench run."""
    import bench

    reg = set(Q.registry())
    missing = [n for n in bench.HEADLINE_QUERIES if n not in reg]
    assert not missing, f"bench names not in registry: {missing}"
