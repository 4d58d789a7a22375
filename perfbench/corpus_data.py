"""Seeded synthetic corpus with the schemas the declared queries read.

The tables mirror the shape of the project's test data (a TPC-H-like
star schema, a word-salad document corpus with injected near-duplicates,
embeddings and an event stream) at a fixed small size, so a corpus pass
fits the benchmark's run length. The same seed writes the same bytes.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("signup", "purchase", "view", "click", "error")

#: rows per table
SIZES = {
    "customer": 1_500,
    "orders": 15_000,
    "lineitem": 60_000,
    "documents": 500,
    "embeddings": 500,
    "events": 10_000,
}


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    a, b = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    d = rng.integers(0, int((b - a).astype(int)) + 1, n)
    return (a + d.astype("m8[D]")).astype("M8[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n: int) -> pa.Table:
    texts = [
        " ".join(rng.choice(VOCAB, int(rng.integers(10, 101))))
        for _ in range(n)
    ]
    # 5% near-duplicates: an earlier document plus a marker word; two
    # picks of the same source make exact duplicates too
    for i in rng.choice(np.arange(1, n), n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": rng.choice(LANGS, n, p=LANG_P),
            "source": [f"src{i % 20}" for i in ids],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng, n: int) -> pa.Table:
    vecs = rng.normal(0.0, 0.125, (n, 64)).astype(np.float32)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n).astype(np.int32),
        }
    )


def _tpch(rng) -> dict:
    c, o, li = SIZES["customer"], SIZES["orders"], SIZES["lineitem"]
    customer = pa.table(
        {
            "c_custkey": np.arange(c, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(c)],
            "c_nationkey": rng.integers(0, 25, c).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, c),
            "c_mktsegment": rng.choice(SEGMENTS, c),
        }
    )
    orders = pa.table(
        {
            "o_orderkey": np.arange(o, dtype=np.int64),
            "o_custkey": rng.integers(0, c, o).astype(np.int64),
            "o_orderstatus": rng.choice(("F", "O", "P"), o),
            "o_totalprice": _money(rng, 1000.0, 500000.0, o),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", o),
            "o_orderpriority": rng.choice(PRIORITIES, o),
        }
    )
    lineitem = pa.table(
        {
            "l_orderkey": rng.integers(0, o, li).astype(np.int64),
            "l_partkey": rng.integers(0, 2_000, li).astype(np.int64),
            "l_suppkey": rng.integers(0, 100, li).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, li).astype(np.int32),
            "l_quantity": rng.integers(1, 51, li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, li),
            "l_discount": rng.integers(0, 11, li) / 100.0,
            "l_tax": rng.integers(0, 9, li) / 100.0,
            "l_returnflag": rng.choice(("N", "R", "A"), li),
            "l_linestatus": rng.choice(("F", "O"), li),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", li),
        }
    )
    return {"customer": customer, "orders": orders, "lineitem": lineitem}


def _events(rng, n: int) -> pa.Table:
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86_400 * 10**6
    ts = np.sort(rng.integers(0, span_us, n)).astype("m8[us]") + t0
    return pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": ts,
            "user_id": rng.integers(0, 1_500, n).astype(np.int64),
            "event_type": rng.choice(EVENT_TYPES, n),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def write_corpus(out_dir: str, seed: int) -> dict:
    """Write every table as ``<out_dir>/<name>.parquet``; returns the
    row count per table."""
    rng = np.random.default_rng(seed)
    tables = _tpch(rng)
    tables["documents"] = _documents(rng, SIZES["documents"])
    tables["embeddings"] = _embeddings(rng, SIZES["embeddings"])
    tables["events"] = _events(rng, SIZES["events"])
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
