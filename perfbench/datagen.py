"""Seeded generator for the benchmark's input tables.

Writes the ten tables the query registry reads (``<dir>/<name>.parquet``,
one file each) with the same schemas and value domains as the TPC-H-ish
test fixtures: region/nation/customer/supplier/part/orders/lineitem, the
``events`` stream (user -> ``{"k": n}`` edges the graph rows walk), the
``documents`` corpus (a 30-word vocabulary with ~5% near-duplicate copies,
so the span/shingle dedup rows find real duplicates) and unit-norm 64-d
``embeddings`` with a weak per-label centroid. The same seed and scale
factor always produce byte-identical tables; each table draws from its
own stream, so generating a subset gives the same files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "the a data row column table key value merge sort scan join filter group "
    "agg window stream batch spark query order line part customer vector hash "
    "fast slow big small"
).split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
P_ADJ = ["blue", "red", "hot", "cold", "old", "new", "small", "large"]
P_NOUN = ["bolt", "gear", "anvil", "ring", "widget", "rod", "plate", "nut"]
P_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
DAY_MS = 86_400_000
ORDER_EPOCH_MS = 788_918_400_000  # 1995-01-01
EVENT_EPOCH_US = 1_704_067_200_000_000  # 2024-01-01


def sizes(sf: float) -> dict:
    return {
        "customer": max(150, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(200, int(200_000 * sf)),
        "orders": max(1_500, int(1_500_000 * sf)),
        "lineitem": max(6_000, int(6_000_000 * sf)),
        "events": max(1_000, int(1_000_000 * sf)),
        "users": max(20, int(15_000 * sf)),
        "documents": max(200, min(int(50_000 * sf), 5_000)),
        "embeddings": max(200, min(int(50_000 * sf), 2_000)),
    }


def _ts(ms: np.ndarray, unit: str = "ms") -> pa.Array:
    return pa.array(ms, type=pa.timestamp(unit))


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def table(name: str, seed: int, sf: float) -> pa.Table:
    """One table as a pyarrow Table, generated from ``seed``."""
    rng = np.random.default_rng([seed, TABLES.index(name)])
    n = sizes(sf)
    if name == "region":
        return pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        })
    if name == "nation":
        return pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        })
    if name == "customer":
        nc = n["customer"]
        return pa.table({
            "c_custkey": np.arange(nc, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
            "c_acctbal": _money(rng, nc, -999.99, 9999.99),
            "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, nc)],
        })
    if name == "supplier":
        ns = n["supplier"]
        return pa.table({
            "s_suppkey": np.arange(ns, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
            "s_acctbal": _money(rng, ns, -999.99, 9999.99),
        })
    if name == "part":
        npart = n["part"]
        return pa.table({
            "p_partkey": np.arange(npart, dtype=np.int64),
            "p_name": [
                f"{P_ADJ[a]} {P_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
            "p_type": [P_TYPES[i] for i in rng.integers(0, 6, npart)],
            "p_size": rng.integers(1, 51, npart).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 2),
        })
    if name == "orders":
        no = n["orders"]
        odays = rng.integers(0, 2404, no)  # 1995-01-01 .. 2001-08-01; first draw
        return pa.table({
            "o_orderkey": np.arange(no, dtype=np.int64),
            "o_custkey": rng.integers(0, n["customer"], no).astype(np.int64),
            "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, no)],
            "o_totalprice": _money(rng, no, 1000.0, 500_000.0),
            "o_orderdate": _ts(ORDER_EPOCH_MS + odays * DAY_MS),
            "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, no)],
        })
    if name == "lineitem":
        no, nl = n["orders"], n["lineitem"]
        # the orders stream's first draw: ship dates follow their order dates
        odays = np.random.default_rng([seed, TABLES.index("orders")]).integers(0, 2404, no)
        lok = rng.integers(0, no, nl)
        return pa.table({
            "l_orderkey": lok.astype(np.int64),
            "l_partkey": rng.integers(0, n["part"], nl).astype(np.int64),
            "l_suppkey": rng.integers(0, n["supplier"], nl).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, nl, 900.0, 105_000.0),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, nl)],
            "l_linestatus": [("O", "F")[i] for i in rng.integers(0, 2, nl)],
            "l_shipdate": _ts(
                ORDER_EPOCH_MS + (odays[lok] + rng.integers(1, 96, nl)) * DAY_MS
            ),
        })
    if name == "events":
        ne = n["events"]
        ts = np.sort(rng.integers(0, 30 * 86_400_000_000, ne))
        return pa.table({
            "event_id": np.arange(ne, dtype=np.int64),
            "ts": _ts(EVENT_EPOCH_US + ts, "us"),
            "user_id": rng.integers(0, n["users"], ne).astype(np.int64),
            "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, ne)],
            "value": _money(rng, ne, 0.01, 490.0),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        })
    if name == "documents":
        return _documents(rng, n["documents"])
    return _embeddings(rng, n["embeddings"])


def _documents(rng, nd: int) -> pa.Table:
    texts: list = []
    for i in range(nd):
        if i >= 20 and rng.random() < 0.05:
            # near-duplicate: an earlier document's words, lightly edited
            ws = texts[int(rng.integers(0, i))].split(" ")
            ws = ws + ["dup"] if rng.random() < 0.5 else ["dup"] + ws
        else:
            ws = [VOCAB[j] for j in rng.integers(0, len(VOCAB), int(rng.integers(10, 100)))]
        texts.append(" ".join(ws))
    return pa.table({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[j] for j in rng.integers(0, len(LANGS), nd)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng, nv: int) -> pa.Table:
    centroids = rng.normal(size=(10, 64))
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
    labels = rng.integers(0, 10, nv)
    vecs = rng.normal(size=(nv, 64)) + 1.2 * centroids[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })


def write(out_dir: str, seed: int, sf: float, names=TABLES) -> None:
    """Generate and write the named tables (default: all ten)."""
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        pq.write_table(table(name, seed, sf), os.path.join(out_dir, f"{name}.parquet"))
