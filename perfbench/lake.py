"""Seeded synthetic lake: the ten source tables the engine reads.

The tables follow the layout of the engine's reference test data (one
snappy parquet file per table, one row group, untagged ``timestamp[us]``
columns, the same column names, types and value domains), scaled by a
TPC-H-style scale factor.  Every value is drawn from one
``numpy.random.Generator`` seeded by the caller, so one seed always gives
the same bytes.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["hot", "cold", "old", "new", "red", "blue", "small", "large"]
_PART_NOUN = ["bolt", "gear", "plate", "ring", "rod", "anvil", "widget", "nut"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
#: share of documents that repeat an earlier document plus one token, so
#: the dedup and clustering kernels find real clusters
_NEAR_DUP_SHARE = 0.05
_EMB_DIM = 64

_US_PER_DAY = 86_400_000_000
_EPOCH = np.datetime64("1970-01-01", "us")


def _days(start: str, end: str, n: int, rng: np.random.Generator) -> pa.Array:
    lo = (np.datetime64(start, "us") - _EPOCH).astype(np.int64) // _US_PER_DAY
    hi = (np.datetime64(end, "us") - _EPOCH).astype(np.int64) // _US_PER_DAY
    days = rng.integers(lo, hi + 1, n, dtype=np.int64)
    return pa.array(days * _US_PER_DAY, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def row_counts(sf: float) -> dict[str, int]:
    """Rows per table at scale factor ``sf`` (lineitem = 6M x sf)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(150, round(150_000 * sf)),
        "supplier": max(10, round(10_000 * sf)),
        "part": max(200, round(200_000 * sf)),
        "orders": max(1_500, round(1_500_000 * sf)),
        "lineitem": max(6_000, round(6_000_000 * sf)),
        "events": max(1_000, round(1_000_000 * sf)),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < _NEAR_DUP_SHARE:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(_VOCAB[j] for j in rng.integers(0, len(_VOCAB), k)))
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, _LANGS, n, _LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    labels = rng.integers(0, 10, n)
    centroids = rng.standard_normal((10, _EMB_DIM))
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
    vecs = rng.standard_normal((n, _EMB_DIM)) / np.sqrt(_EMB_DIM) + 0.6 * centroids[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })


def make_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """Build every table in memory; deterministic in ``(sf, seed)``."""
    rng = np.random.default_rng(seed)
    n = row_counts(sf)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": pa.array(_REGIONS),
    })
    t["nation"] = pa.table({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    c = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": np.arange(c, dtype=np.int64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(c)]),
        "c_nationkey": rng.integers(0, 25, c).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, c),
        "c_mktsegment": _pick(rng, _SEGMENTS, c),
    })
    s = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(s, dtype=np.int64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(s)]),
        "s_nationkey": rng.integers(0, 25, s).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, s),
    })
    p = n["part"]
    names = [f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN]
    t["part"] = pa.table({
        "p_partkey": np.arange(p, dtype=np.int64),
        "p_name": _pick(rng, names, p),
        "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, p)]),
        "p_type": _pick(rng, _PART_TYPES, p),
        "p_size": rng.integers(1, 51, p).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) * 0.1, 1),
    })
    o = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": np.arange(o, dtype=np.int64),
        "o_custkey": rng.integers(0, c, o, dtype=np.int64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], o),
        "o_totalprice": _money(rng, 1000.0, 500000.0, o),
        "o_orderdate": _days("1995-01-01", "2001-08-01", o, rng),
        "o_orderpriority": _pick(rng, _PRIORITIES, o),
    })
    li = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, o, li, dtype=np.int64),
        "l_partkey": rng.integers(0, p, li, dtype=np.int64),
        "l_suppkey": rng.integers(0, s, li, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, li),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], li),
        "l_linestatus": _pick(rng, ["F", "O"], li),
        "l_shipdate": _days("1995-01-02", "2001-11-04", li, rng),
    })
    e = n["events"]
    start = (np.datetime64("2024-01-01", "us") - _EPOCH).astype(np.int64)
    ts = start + np.sort(rng.integers(0, 30 * _US_PER_DAY, e, dtype=np.int64))
    t["events"] = pa.table({
        "event_id": np.arange(e, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, max(100, e * 15 // 1000), e, dtype=np.int64),
        "event_type": _pick(rng, _EVENT_TYPES, e),
        "value": np.round(rng.exponential(50.0, e), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]),
    })
    t["documents"] = _documents(rng, n["documents"])
    t["embeddings"] = _embeddings(rng, n["embeddings"])
    return t


def write_lake(out_dir: str, sf: float, seed: int) -> int:
    """Write the lake as ``<out_dir>/<table>.parquet``; returns its bytes."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, table in make_tables(sf, seed).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path, compression="snappy",
                       row_group_size=max(1, table.num_rows))
        total += os.path.getsize(path)
    return total
