"""Seeded fixture tables for the benchmark.

Writes the ten tables the operator registry reads (``session.TESTDATA_TABLES``)
as one parquet file each, with the column names and physical types of the
TPC-H-ish fixture corpus (see FIXTURES.md).  Every value is a pure function of
``(seed, sf)``: the same seed gives byte-identical inputs.

Row counts scale with ``sf`` the way the fixture corpus does (lineitem is
6M x sf).  ``documents`` and ``embeddings`` are fixed-size corpora (500 rows
at sf <= 0.01).  About 5% of documents are near-duplicates of another
document (its text plus a `` dup`` suffix), the structure the dedup family
looks for.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = (["en"] * 44) + (["zh"] * 15) + (["es"] * 15) + (["de"] * 14) + (["fr"] * 12)
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

_ORDER_START = datetime(1995, 1, 1)
_ORDER_DAYS = 2404  # through 2001-08-01
_SHIP_START = datetime(1995, 1, 2)
_SHIP_DAYS = 2498  # through 2001-11-04
_EVENT_START = datetime(2024, 1, 1)
_EVENT_SPAN_S = 30 * 86400


def _n(base: int, sf: float, floor: int = 1) -> int:
    return max(floor, int(round(base * sf)))


def _days(rng, start: datetime, n_days: int, size: int) -> pa.Array:
    offs = rng.integers(0, n_days + 1, size)
    base = np.datetime64(start, "us")
    return pa.array(base + offs.astype("timedelta64[D]"), pa.timestamp("us"))


def _money(rng, lo: float, hi: float, size: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size), 2)


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """All fixture tables for one ``(seed, sf)``."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = _n(150_000, sf), _n(10_000, sf, 10)
    n_part, n_ord = _n(200_000, sf), _n(1_500_000, sf)
    n_line, n_ev = _n(6_000_000, sf), _n(1_000_000, sf)
    n_users = _n(15_000, sf, 15)
    n_docs = 500 if sf <= 0.01 else _n(50_000, sf)
    n_vecs = 500 if sf <= 0.01 else _n(20_000, sf)
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": [_PTYPES[t] for t in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
    })
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[s] for s in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(rng, _ORDER_START, _ORDER_DAYS, n_ord),
        "o_orderpriority": [PRIORITIES[p] for p in rng.integers(0, 5, n_ord)],
    })
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("A", "N", "R")[f] for f in rng.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[s] for s in rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, _SHIP_START, _SHIP_DAYS, n_line),
    })
    # exponential gaps rescaled into the 30-day span: strictly increasing
    # instants, so ts-ordered aggregates (open/close, as-of joins) have no ties
    t = np.cumsum(rng.exponential(1.0, n_ev + 1))
    ts_us = (t[:-1] / t[-1] * _EVENT_SPAN_S * 1e6).astype(np.int64)
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(np.datetime64(_EVENT_START, "us") + ts_us.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": [_EVENT_TYPES[t] for t in rng.integers(0, 5, n_ev)],
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    out["documents"] = _documents(rng, n_docs)
    out["embeddings"] = _embeddings(rng, n_vecs)
    return out


def _documents(rng, n: int) -> pa.Table:
    texts = [
        " ".join(_VOCAB[w] for w in rng.integers(0, len(_VOCAB), rng.integers(10, 100)))
        for _ in range(n)
    ]
    seen = set(texts)
    for i in rng.choice(n, size=max(1, n // 20), replace=False):
        t = texts[int(rng.integers(0, n))] + " dup"
        while t in seen:
            t += " dup"
        seen.add(t)
        texts[int(i)] = t
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": [_LANGS[i] for i in rng.integers(0, len(_LANGS), n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n: int, dim: int = 64, clusters: int = 10) -> pa.Table:
    cent = rng.normal(size=(clusters, dim))
    cent /= np.linalg.norm(cent, axis=1, keepdims=True)
    label = rng.integers(0, clusters, n)
    vec = 0.14 * cent[label] + rng.normal(scale=dim ** -0.5, size=(n, dim))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })


def write(sf_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table under ``sf_dir``; returns row counts by table."""
    os.makedirs(sf_dir, exist_ok=True)
    counts = {}
    for name, tbl in tables(seed, sf).items():
        pq.write_table(tbl, os.path.join(sf_dir, f"{name}.parquet"))
        counts[name] = tbl.num_rows
    return counts

