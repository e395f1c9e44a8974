"""Seeded benchmark inputs and their oracles, built once per (workload, size,
seed) into a benchmark-owned cache.

An input set becomes visible only through a commit marker: everything is
written into a private temp directory, the marker file is written last, and
the directory is renamed into place. A reader accepts a cache entry only when
the marker is present, so a killed build is rebuilt, never reused.

The oracles are computed here, outside any Spark session, by code that does
not share the Spark arm's implementation:

* filter_pages   -- tests/golden.py (pure-Python re-implementation of the
                    quality filter);
* rule_catalog   -- catalog.summary_oracle_sql() run by DuckDB over the same
                    parquet files, canonicalised through tests/oracle.py;
* near_dup_pages -- dedup_mirror.minhash_pairs_mirror + near_dup_clusters_mirror
                    (scalar/numpy MinHash pinned to the JVM's xxhash64).
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

COMMIT_MARKER = "_COMMITTED"

#: the code that generates the inputs and computes the oracles; a cache
#: entry is keyed by a hash of these files, so a checkout whose generator or
#: oracle changed never reads inputs or expectations built by older code
SOURCES = (
    "perfbench/inputs.py",
    "dq_true_north_spark/constants.py",
    "dq_true_north_spark/corpus.py",
    "dq_true_north_spark/catalog.py",
    "dq_true_north_spark/textquality/langmodel.py",
    "dq_true_north_spark/textquality/scrub.py",
    "dq_true_north_spark/textquality/dedup_mirror.py",
    "dq_true_north_spark/textquality/xxh.py",
    "tests/golden.py",
    "tests/oracle.py",
)

#: input sizes. "full" is what the benchmark measures; "tiny" is the
#: self-test size (one iteration per workload, seconds of work).
SIZES = {
    "full": {
        "filter_pages": {"pages": 4000, "files": 8},
        "near_dup_pages": {"pages": 1000, "chains": 6, "chain_len": 30,
                           "files": 8},
        "rule_catalog": {"orders": 15_000, "customers": 1500,
                         "suppliers": 100, "events": 15_000, "files": 8},
    },
    "tiny": {
        "filter_pages": {"pages": 200, "files": 2},
        "near_dup_pages": {"pages": 200, "chains": 2, "chain_len": 12,
                           "files": 2},
        "rule_catalog": {"orders": 2000, "customers": 300,
                         "suppliers": 40, "events": 3000, "files": 2},
    },
}

MONITOR_TABLES = ("lineitem", "orders", "customer", "supplier", "events")


def _write_multifile(df: pd.DataFrame, path: str, files: int) -> None:
    """Write df as `files` parquet part files under directory `path`."""
    os.makedirs(path)
    bounds = np.linspace(0, len(df), files + 1).astype(int)
    for k in range(files):
        part = df.iloc[bounds[k]:bounds[k + 1]]
        table = pa.Table.from_pandas(part, preserve_index=False)
        pq.write_table(table, os.path.join(path, f"part-{k:05d}.parquet"),
                       coerce_timestamps="us")


def _page_start(seed: int) -> int:
    """generate_pages_pdf start offset: a multiple of 20, so every window
    holds the corpus's 20 defect classes in their planted proportions."""
    return 20 * random.Random(seed).randrange(1_000_000)


def _utc(pages: pd.DataFrame) -> pd.DataFrame:
    # tz-aware so Spark reads warc_ts as TIMESTAMP, as corpus.pages_df makes it
    return pages.assign(warc_ts=pages["warc_ts"].dt.tz_localize("UTC"))


# ---------------------------------------------------------- filter_pages ---

def _build_filter_pages(out: str, seed: int, cfg: dict) -> dict:
    from dq_true_north_spark.corpus import generate_pages_pdf
    from tests.golden import golden_verdicts

    pages = generate_pages_pdf(cfg["pages"], _page_start(seed))
    _write_multifile(_utc(pages), os.path.join(out, "pages"), cfg["files"])
    golden = golden_verdicts(pages)
    golden = golden.assign(
        warc_ts=golden["warc_ts"].astype(str),
        drop_reasons=golden["drop_reasons"].map(",".join),
    )
    golden.to_parquet(os.path.join(out, "oracle.parquet"), index=False)
    return {"rows": len(pages)}


# ---------------------------------------------------------- near_dup_pages -

def _chain_texts(rng: random.Random, base: list[str], vocab: list[str],
                 length: int) -> list[str]:
    """`length` texts, each one word substitution away from the previous:
    near neighbours clear the Jaccard threshold, far ones do not, so the
    candidate-pair graph of a chain is a long path-like component."""
    words = list(base)
    out = []
    for _ in range(length):
        pos = rng.randrange(len(words))
        choices = [w for w in vocab if w != words[pos]]
        words[pos] = choices[rng.randrange(len(choices))]
        out.append(" ".join(words))
    return out


def _build_near_dup_pages(out: str, seed: int, cfg: dict) -> dict:
    from dq_true_north_spark.corpus import generate_pages_pdf
    from dq_true_north_spark.textquality.dedup_mirror import (
        minhash_pairs_mirror,
        near_dup_clusters_mirror,
    )

    pages = generate_pages_pdf(cfg["pages"], _page_start(seed + 7_777))
    rng = random.Random(seed * 1_000_003 + 17)
    vocab = sorted({w for t in pages["text"] for w in t.split()})
    rows = []
    base_ts = pages["warc_ts"].max()
    for c in range(cfg["chains"]):
        # ~100-word base: one substitution changes at most 3 of ~98
        # 3-word shingles (J ~ 0.94), four change ~12 (J < 0.8)
        base = [vocab[rng.randrange(len(vocab))] for _ in range(100)]
        for j, text in enumerate(
            _chain_texts(rng, base, vocab, cfg["chain_len"])
        ):
            rows.append((
                f"https://chain{seed % 1000:03d}-{c:02d}.example.net/p{j:03d}.html",
                base_ts + pd.Timedelta(seconds=1 + len(rows)),
                text.encode(), text, "en",
            ))
    chains = pd.DataFrame(rows, columns=list(pages.columns))
    corpus = pd.concat([pages, chains], ignore_index=True)
    corpus = corpus.sample(frac=1.0, random_state=seed % (2**32)).reset_index(
        drop=True
    )
    _write_multifile(_utc(corpus)[["url", "warc_ts", "text"]],
                     os.path.join(out, "pages"), cfg["files"])

    urls, texts = list(corpus["url"]), list(corpus["text"])
    pairs = minhash_pairs_mirror(urls, texts)
    losers = {d for d, c, _ in near_dup_clusters_mirror(pairs) if d != c}
    kept = sorted(u for u in urls if u not in losers)
    with open(os.path.join(out, "oracle.json"), "w") as f:
        json.dump({"pairs": len(pairs), "kept_urls": kept}, f)
    return {"rows": len(corpus)}


# ---------------------------------------------------------- rule_catalog ---

def monitor_tables(seed: int, cfg: dict) -> dict[str, pd.DataFrame]:
    """TPC-H-shaped order tables plus a 30-day event stream, with the
    defects the default catalog looks for: duplicate (l_orderkey,
    l_linenumber) keys, duplicate (o_custkey, o_orderdate) pairs, negative
    balances, NULLs and dropped user permutations on the newest days.
    Schemas and parquet types match the monitor testdata."""
    rng = np.random.default_rng(seed)
    n_ord, n_cust = cfg["orders"], cfg["customers"]
    n_supp, n_ev = cfg["suppliers"], cfg["events"]

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def days(start: str, n_days: int, n: int):
        return pd.Timestamp(start) + pd.to_timedelta(
            rng.integers(0, n_days, n), unit="D")

    orders = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["O", "F", "P"], n_ord),
        "o_totalprice": money(900, 400_000, n_ord),
        "o_orderdate": days("1995-01-01", 2404, n_ord),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            n_ord),
    })
    n_li = 4 * n_ord
    lineitem = pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, 20 * n_supp, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(900, 105_000, n_li),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["O", "F"], n_li),
        "l_shipdate": days("1995-01-01", 2500, n_li),
    })
    customer = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
            n_cust),
    })
    supplier = pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": money(-999.99, 9999.99, n_supp),
    })

    offs = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    user = rng.integers(0, 1500, n_ev).astype("float64")
    value = np.round(rng.gamma(2.0, 50.0, n_ev), 2)
    newest = offs >= 29 * 86_400_000_000
    # NULLs and missing users on the newest day feed MISSING_DATA_NULLS
    user[newest & (rng.random(n_ev) < 0.01)] = np.nan
    value[newest & (rng.random(n_ev) < 0.01)] = np.nan
    events = pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pd.Timestamp("2024-01-01")
        + pd.to_timedelta(offs, unit="us"),
        "user_id": pd.array(user, dtype="Int64"),
        "event_type": rng.choice(
            ["view", "click", "purchase", "signup", "error"], n_ev),
        "value": value,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    return {"lineitem": lineitem, "orders": orders, "customer": customer,
            "supplier": supplier, "events": events}


def _build_rule_catalog(out: str, seed: int, cfg: dict) -> dict:
    import duckdb

    from dq_true_north_spark.catalog import summary_oracle_sql
    from tests.oracle import duck_canon

    tables = monitor_tables(seed, cfg)
    rows = 0
    for name, df in tables.items():
        # row order permuted by the seed: rules must not depend on it
        perm = np.random.default_rng(seed + 1).permutation(len(df))
        _write_multifile(df.iloc[perm], os.path.join(out, f"{name}.parquet"),
                         cfg["files"])
        rows += len(df)
    con = duckdb.connect()
    try:
        for name in tables:
            con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM "
                f"read_parquet('{out}/{name}.parquet/*.parquet')")
        expected = con.execute(summary_oracle_sql()).df()
        n, cols, digest = duck_canon(con, summary_oracle_sql())
    finally:
        con.close()
    with open(os.path.join(out, "oracle.json"), "w") as f:
        json.dump({
            "rows": expected.astype(str).values.tolist(),
            "columns": list(expected.columns),
            "canon": [n, list(cols), digest],
        }, f)
    return {"rows": rows}


BUILDERS = {
    "filter_pages": _build_filter_pages,
    "near_dup_pages": _build_near_dup_pages,
    "rule_catalog": _build_rule_catalog,
}


def sources_digest() -> str:
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    h = hashlib.sha256()
    for rel in SOURCES:
        with open(os.path.join(root, rel), "rb") as f:
            h.update(rel.encode() + b"\0" + f.read() + b"\0")
    return h.hexdigest()[:16]


def ensure(cache_root: str, workload: str, seed: int, size: str) -> str:
    """Return the committed input directory for (workload, seed, size) and
    the current generator and oracle code, building it first when no
    committed copy exists."""
    final = os.path.join(
        cache_root, f"{sources_digest()}-{workload}-{size}-s{seed}")
    if os.path.exists(os.path.join(final, COMMIT_MARKER)):
        return final
    if os.path.isdir(final):
        shutil.rmtree(final)        # uncommitted leftover: never reused
    tmp = f"{final}.tmp-{os.getpid()}"
    if os.path.isdir(tmp):
        shutil.rmtree(tmp)
    os.makedirs(tmp)
    try:
        meta = BUILDERS[workload](tmp, seed, SIZES[size][workload])
        meta.update(workload=workload, seed=seed, size=size)
        with open(os.path.join(tmp, "meta.json"), "w") as f:
            json.dump(meta, f)
        with open(os.path.join(tmp, COMMIT_MARKER), "w") as f:
            f.write("ok\n")
        os.rename(tmp, final)
    except OSError:
        # a concurrent build committed first: use its copy
        shutil.rmtree(tmp, ignore_errors=True)
        if not os.path.exists(os.path.join(final, COMMIT_MARKER)):
            raise
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    return final


def load_meta(input_dir: str) -> dict:
    with open(os.path.join(input_dir, "meta.json")) as f:
        return json.load(f)
