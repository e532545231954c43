"""Fixture generator for the benchmark.

Writes the ten tables the engine's catalog reads (``catalog.TABLES``), one
Parquet file each, with the same column names, physical types and value
domains as the engine's TPC-H-style fixtures:

- ``base(out_dir, sf)`` draws a table set from a fixed generator seed, so
  every checkout builds the same base data;
- ``permute(base_dir, out_dir, seed)`` writes a row-order permutation of
  the base tables chosen by ``seed``; seed 0 is the base order.

The permutation changes only physical row order, so a seed moves split
contents, hash-partition order and tie order without changing any
table's contents or cardinalities.

Usage: ``python3 perfbench/datagen.py OUT_DIR [SF]`` writes the base set.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

BASE_SEED = 42

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
_DUP_FRAC = 0.05
_EMBED_DIM = 64


def _scaled(n_at_sf1: int, sf: float, floor: int = 1) -> int:
    return max(floor, int(round(n_at_sf1 * sf)))


def _days_since(start: str, n_days: np.ndarray) -> pa.Array:
    base = np.datetime64(start, "us")
    return pa.array(base + n_days.astype("timedelta64[D]"), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _tables(sf: float, rng: np.random.Generator) -> dict[str, pa.Table]:
    n_cust = _scaled(150_000, sf)
    n_supp = _scaled(10_000, sf)
    n_part = _scaled(200_000, sf)
    n_ord = _scaled(1_500_000, sf)
    n_line = _scaled(6_000_000, sf)
    n_evt = _scaled(1_000_000, sf)
    n_user = _scaled(15_000, sf)
    n_doc = _scaled(50_000, sf, floor=500)
    n_vec = _scaled(20_000, sf, floor=500)
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })

    keys = np.arange(n_cust, dtype=np.int64)
    out["customer"] = pa.table({
        "c_custkey": keys,
        "c_name": [f"Customer#{k:09d}" for k in keys],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
    })

    keys = np.arange(n_supp, dtype=np.int64)
    out["supplier"] = pa.table({
        "s_suppkey": keys,
        "s_name": [f"Supplier#{k:09d}" for k in keys],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })

    keys = np.arange(n_part, dtype=np.int64)
    names = np.array([f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN])
    out["part"] = pa.table({
        "p_partkey": keys,
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[
            rng.integers(0, 25, n_part)
        ],
        "p_type": np.array(_PART_TYPES)[rng.integers(0, len(_PART_TYPES), n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 1),
    })

    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        # 1995-01-01 .. 2001-08-01
        "o_orderdate": _days_since("1995-01-01", rng.integers(0, 2404, n_ord)),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
    })

    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": np.round(rng.integers(0, 11, n_line) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        # 1995-01-02 .. 2001-11-04
        "l_shipdate": _days_since("1995-01-02", rng.integers(0, 2498, n_line)),
    })

    # event time advances by exponential gaps (mean 26 s) from 2024-01-01
    gaps_us = np.round(rng.exponential(26e6, n_evt)).astype(np.int64)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps_us).astype(
        "timedelta64[us]"
    )
    out["events"] = pa.table({
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n_user, n_evt).astype(np.int64),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_evt)],
        "value": np.round(rng.exponential(50.0, n_evt), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
    })

    # documents: 10-99 words from a small vocabulary; a fixed share are
    # near-duplicates (another document's text plus " dup")
    vocab = np.array(_VOCAB)
    n_words = rng.integers(10, 100, n_doc)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), w)]) for w in n_words]
    dup_ids = rng.choice(n_doc, int(n_doc * _DUP_FRAC), replace=False)
    originals = np.setdiff1d(np.arange(n_doc), dup_ids)
    for d, src in zip(dup_ids, rng.choice(originals, len(dup_ids))):
        texts[d] = texts[src] + " dup"
    doc_ids = np.arange(n_doc, dtype=np.int64)
    out["documents"] = pa.table({
        "doc_id": doc_ids,
        "text": texts,
        "lang": np.array(_LANGS)[rng.choice(len(_LANGS), n_doc, p=_LANG_P)],
        "source": [f"src{d % 20}" for d in doc_ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })

    vecs = rng.standard_normal((n_vec, _EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vec).astype(np.int32),
    })
    return out


def _write(table: pa.Table, path: str) -> None:
    tmp = path + ".tmp"
    pq.write_table(table, tmp, compression="snappy", row_group_size=len(table) or 1)
    os.replace(tmp, path)


def base(out_dir: str, sf: float) -> None:
    """Write the base table set for scale factor ``sf`` into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(BASE_SEED)
    for name, table in _tables(sf, rng).items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"))


def permute(base_dir: str, out_dir: str, seed: int) -> None:
    """Write the base tables in the row order chosen by ``seed``."""
    os.makedirs(out_dir, exist_ok=True)
    for i, name in enumerate(TABLES):
        table = pq.read_table(os.path.join(base_dir, f"{name}.parquet"))
        if seed:
            rng = np.random.default_rng([seed, i])
            table = table.take(rng.permutation(len(table)))
        _write(table, os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    base(sys.argv[1], float(sys.argv[2]) if len(sys.argv) > 2 else 0.1)
