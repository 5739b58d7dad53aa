"""Seeded input generator for the benchmark.

Writes the ten tables the library's registry reads (``{dir}/{name}.parquet``)
with the schemas and value formats of the TPC-H-like test tables: two-decimal
prices, integer-percent discounts, midnight dates, a 30-word document
vocabulary and unit-norm 64-d float32 embeddings. Row counts are those of
the sf0.01 tables times ``scale``; keys are dense and disjoint per table.

Input properties the dedup steps depend on are fixed here:
``NEAR_DUP_FRAC`` of the documents are a copy of another document with one
extra token, ``EXACT_DUP_FRAC`` are verbatim copies, and ``NEAR_DUP_FRAC``
of the embeddings are noised copies of other vectors.

The same ``seed`` always gives byte-identical values.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# sf0.01 row counts of the test tables
BASE_ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
ADJECTIVES = ["blue", "hot", "large", "old", "red", "small", "green", "dark"]
NOUNS = ["bolt", "gear", "plate", "ring", "rod", "widget", "nut", "pipe"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
DIM = 64
NEAR_DUP_FRAC = 0.05
EXACT_DUP_FRAC = 0.002


def _cents(rng, lo, hi, n):
    """Two-decimal values in [lo, hi], as floats that round-trip exactly."""
    return np.round(rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100, 2)


def _days(rng, start, end, n):
    lo = np.datetime64(start, "D").astype("int64")
    hi = np.datetime64(end, "D").astype("int64")
    d = rng.integers(lo, hi + 1, n).astype("datetime64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def _documents(rng, n, near_dup_frac, exact_dup_frac):
    n_near = int(n * near_dup_frac)
    n_exact = int(n * exact_dup_frac)
    n_fresh = n - n_near - n_exact
    words = np.array(WORDS)
    texts = [
        " ".join(words[rng.integers(0, len(WORDS), rng.integers(10, 101))])
        for _ in range(n_fresh)
    ]
    near_src = rng.choice(n_fresh, n_near, replace=False)
    texts += [texts[i] + " dup" for i in near_src]
    exact_src = rng.choice(n_fresh, n_exact, replace=False)
    texts += [texts[i] for i in exact_src]
    order = rng.permutation(n)  # copies land anywhere in doc_id order
    texts = [texts[i] for i in order]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(LANGS, n, p=LANG_P), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng, n, near_dup_frac):
    x = rng.standard_normal((n, DIM))
    n_near = int(n * near_dup_frac)
    src = rng.choice(n - n_near, n_near, replace=False)
    x[n - n_near :] = x[src] + 0.05 * rng.standard_normal((n_near, DIM))
    x = x[rng.permutation(n)]
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(x), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def _events(rng, n, n_users):
    start = np.datetime64("2024-01-01T00:00:00", "us").astype("int64")
    span = 30 * 86400 * 1_000_000
    ts = np.sort(start + rng.integers(0, span, n))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
            "event_type": pa.array(rng.choice(EVENT_TYPES, n), pa.string()),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2), pa.float64()),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()
            ),
        }
    )


def generate(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write every table under ``out_dir``; return rows per table."""
    rng = np.random.default_rng(seed)
    rows = {t: max(1, int(round(n * scale))) for t, n in BASE_ROWS.items()}
    nc, ns, np_, no, nl = (
        rows[t] for t in ("customer", "supplier", "part", "orders", "lineitem")
    )
    tables = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(np.arange(5), pa.int32()),
                "r_name": pa.array(REGIONS, pa.string()),
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(np.arange(25), pa.int32()),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
                "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(nc), pa.int64()),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
                "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
                "c_acctbal": pa.array(_cents(rng, -999.99, 9999.99, nc)),
                "c_mktsegment": pa.array(rng.choice(SEGMENTS, nc), pa.string()),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(ns), pa.int64()),
                "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
                "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
                "s_acctbal": pa.array(_cents(rng, -999.99, 9999.99, ns)),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(np_), pa.int64()),
                "p_name": pa.array(
                    [
                        f"{ADJECTIVES[a]} {NOUNS[b]}"
                        for a, b in rng.integers(0, 8, (np_, 2))
                    ],
                    pa.string(),
                ),
                "p_brand": pa.array(
                    [f"Brand#{b}" for b in rng.integers(1, 26, np_)], pa.string()
                ),
                "p_type": pa.array(
                    rng.choice(
                        ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"],
                        np_,
                    ),
                    pa.string(),
                ),
                "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
                "p_retailprice": pa.array(
                    np.round(900 + (np.arange(np_) % 1000) / 10, 1)
                ),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(no), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
                "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], no), pa.string()),
                "o_totalprice": pa.array(_cents(rng, 1000, 500000, no)),
                "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", no),
                "o_orderpriority": pa.array(rng.choice(PRIORITIES, no), pa.string()),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
                "l_partkey": pa.array(rng.integers(0, np_, nl), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
                "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
                "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
                "l_extendedprice": pa.array(_cents(rng, 901, 104999, nl)),
                "l_discount": pa.array(rng.integers(0, 11, nl) / 100),
                "l_tax": pa.array(rng.integers(0, 9, nl) / 100),
                "l_returnflag": pa.array(rng.choice(["A", "N", "R"], nl), pa.string()),
                "l_linestatus": pa.array(rng.choice(["F", "O"], nl), pa.string()),
                "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", nl),
            }
        ),
        "events": _events(rng, rows["events"], max(1, rows["events"] // 67)),
        "documents": _documents(rng, rows["documents"], NEAR_DUP_FRAC, EXACT_DUP_FRAC),
        "embeddings": _embeddings(rng, rows["embeddings"], NEAR_DUP_FRAC),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
