"""Seeded inputs for the benchmark.

``write_tables`` writes the ten relational/text tables the query registry
scans (same names, column names and parquet types as the project's sf-scaled
test data: a TPC-H-like star schema, an event stream, a document corpus and
an embedding table), scaled by ``sf``.  ``study_points`` draws the study
points of the ``exposure`` workload.  Everything is a pure function of the
seed, so a seed names one set of inputs.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
N_SOURCES = 20
DUP_SHARE = 0.05  # documents that repeat another document's text plus " dup"
EMBED_DIM = 64
CLUSTER_CENTRES = 8

_DAY_US = 86_400 * 1_000_000


def _days(rng, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * _DAY_US).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict, types: dict | None = None) -> None:
    types = types or {}
    arrays = {
        k: pa.array(v, type=types.get(k)) if k in types else pa.array(v)
        for k, v in cols.items()
    }
    pq.write_table(pa.table(arrays), os.path.join(out_dir, f"{name}.parquet"))


def _documents(rng, n: int) -> dict:
    n_words = rng.integers(10, 101, n)
    words = np.array(VOCAB)
    texts = [" ".join(words[rng.integers(0, len(VOCAB), k)]) for k in n_words]
    n_dup = int(n * DUP_SHARE)
    dup_rows = rng.choice(n, n_dup, replace=False)
    originals = rng.integers(0, n, n_dup)
    for row, orig in zip(dup_rows, originals):
        texts[row] = texts[orig] + " dup"
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % N_SOURCES}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def write_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write the ten tables for scale factor ``sf`` and return their row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust = max(int(150_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 50)
    n_ord = max(int(1_500_000 * sf), 200)
    n_line = 4 * n_ord
    n_ev = max(int(1_000_000 * sf), 500)
    n_users = max(int(15_000 * sf), 20)
    n_doc = max(int(50_000 * sf), 100)
    n_emb = max(int(20_000 * sf), 100)

    _write(out_dir, "region", {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS})
    _write(
        out_dir,
        "nation",
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": np.arange(25, dtype=np.int32) % 5,
        },
    )
    _write(
        out_dir,
        "customer",
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        },
    )
    _write(
        out_dir,
        "supplier",
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        },
    )
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    _write(
        out_dir,
        "part",
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": names[rng.integers(0, len(names), n_part)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
        },
    )
    _write(
        out_dir,
        "orders",
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord),
        },
    )
    _write(
        out_dir,
        "lineitem",
        {
            "l_orderkey": np.sort(rng.integers(0, n_ord, n_line)).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line),
        },
    )
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = np.sort(rng.integers(start, start + 30 * _DAY_US, n_ev)).astype("datetime64[us]")
    _write(
        out_dir,
        "events",
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": ts,
            "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
            "event_type": rng.choice(EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        },
    )
    _write(out_dir, "documents", _documents(rng, n_doc))
    vecs = rng.standard_normal((n_emb, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(
        out_dir,
        "embeddings",
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": list(vecs),
            "label": rng.integers(0, 10, n_emb).astype(np.int32),
        },
        {"embedding": pa.list_(pa.float32())},
    )
    return {
        "customer": n_cust, "supplier": n_supp, "part": n_part, "orders": n_ord,
        "lineitem": n_line, "events": n_ev, "documents": n_doc, "embeddings": n_emb,
    }


def _jittered_grid(rng, n: int, box: tuple[float, float, float, float]) -> tuple[np.ndarray, np.ndarray]:
    """``n`` points, one uniform draw in each cell of a near-square grid over
    ``box`` (cells picked at random when the grid has more cells than ``n``).
    Stratifying keeps coverage, and so the work per seed, nearly constant."""
    x0, y0, x1, y1 = box
    cols = int(np.ceil(np.sqrt(n)))
    rows = int(np.ceil(n / cols))
    cells = rng.permutation(rows * cols)[:n]
    cx, cy = cells % cols, cells // cols
    x = x0 + (cx + rng.uniform(0, 1, n)) * (x1 - x0) / cols
    y = y0 + (cy + rng.uniform(0, 1, n)) * (y1 - y0) / rows
    return x, y


def study_points(n: int, seed: int, box: tuple[float, float, float, float]) -> pd.DataFrame:
    """``n`` study points in EPSG:5179 metres inside ``box`` = (x0, y0, x1, y1):
    half uniform, half in Gaussian clusters around a few seeded centres, the
    way real addresses bunch into towns.  Returns columns ``pid``, ``x``, ``y``."""
    rng = np.random.default_rng([seed, 2])
    x0, y0, x1, y1 = box
    n_uniform = n // 2
    n_clustered = n - n_uniform
    ux, uy = _jittered_grid(rng, n_uniform, box)
    margin = 0.15
    inner = (
        x0 + margin * (x1 - x0), y0 + margin * (y1 - y0),
        x1 - margin * (x1 - x0), y1 - margin * (y1 - y0),
    )
    cx, cy = _jittered_grid(rng, CLUSTER_CENTRES, inner)
    which = np.arange(n_clustered) % CLUSTER_CENTRES
    spread = 0.03 * (x1 - x0)
    kx = np.clip(cx[which] + rng.normal(0, spread, n_clustered), x0, x1)
    ky = np.clip(cy[which] + rng.normal(0, spread, n_clustered), y0, y1)
    order = rng.permutation(n)
    return pd.DataFrame(
        {
            "pid": np.arange(n, dtype=np.int64),
            "x": np.concatenate([ux, kx])[order],
            "y": np.concatenate([uy, ky])[order],
        }
    )
