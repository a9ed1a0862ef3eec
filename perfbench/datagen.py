"""Seeded generator for the TPC-H-ish scale-factor directory the query
registry reads (``region nation customer supplier part orders lineitem
events documents embeddings``, one ``{table}.parquet`` file each).

Column names, types and value domains follow the layout the registry's
queries and DuckDB oracles are written against (see FIXTURES.md §7):
uniform keys and prices, daily order/ship dates over 1995-2001, a
30-day events stream, a 31-word document vocabulary with ~5% near
duplicates, and unit-norm 64-d embeddings around ten label centroids.
The same (sf, seed) always writes byte-identical tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def table_sizes(sf: float) -> dict[str, int]:
    return {
        "customer": int(150_000 * sf),
        "supplier": max(10, int(10_000 * sf)),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "users": max(15, int(15_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _keyed_names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def generate(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write every table for scale factor ``sf`` under ``out_dir``.

    Returns the row count per table."""
    rng = np.random.default_rng(seed)
    n = table_sizes(sf)
    os.makedirs(out_dir, exist_ok=True)
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": REGIONS,
        }
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        }
    )
    nc = n["customer"]
    tables["customer"] = pa.table(
        {
            "c_custkey": np.arange(nc, dtype=np.int64),
            "c_name": _keyed_names("Customer", nc),
            "c_nationkey": rng.integers(0, 25, nc, dtype=np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)],
        }
    )
    ns = n["supplier"]
    tables["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(ns, dtype=np.int64),
            "s_name": _keyed_names("Supplier", ns),
            "s_nationkey": rng.integers(0, 25, ns, dtype=np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }
    )
    npart = n["part"]
    adj = np.array(PART_ADJ)[rng.integers(0, len(PART_ADJ), npart)]
    noun = np.array(PART_NOUN)[rng.integers(0, len(PART_NOUN), npart)]
    tables["part"] = pa.table(
        {
            "p_partkey": np.arange(npart, dtype=np.int64),
            "p_name": np.char.add(np.char.add(adj, " "), noun),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, npart).astype(str)),
            "p_type": np.array(PART_TYPES)[rng.integers(0, 6, npart)],
            "p_size": rng.integers(1, 51, npart, dtype=np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 1),
        }
    )
    no = n["orders"]
    order_days = rng.integers(0, 2405, no)
    tables["orders"] = pa.table(
        {
            "o_orderkey": np.arange(no, dtype=np.int64),
            "o_custkey": rng.integers(0, nc, no, dtype=np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
            "o_totalprice": _money(rng, 1000.0, 500_000.0, no),
            "o_orderdate": _ts(_EPOCH_1995 + order_days * _DAY_US),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)],
        }
    )
    nl = n["lineitem"]
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, no, nl, dtype=np.int64),
            "l_partkey": rng.integers(0, npart, nl, dtype=np.int64),
            "l_suppkey": rng.integers(0, ns, nl, dtype=np.int64),
            "l_linenumber": rng.integers(1, 8, nl, dtype=np.int32),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
            "l_shipdate": _ts(_EPOCH_1995 + rng.integers(1, 2499, nl) * _DAY_US),
        }
    )
    ne = n["events"]
    ts = np.sort(rng.integers(0, 30 * _DAY_US, ne))
    tables["events"] = pa.table(
        {
            "event_id": np.arange(ne, dtype=np.int64),
            "ts": _ts(_EPOCH_2024 + ts),
            "user_id": rng.integers(0, n["users"], ne, dtype=np.int64),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, ne)],
            "value": np.round(rng.exponential(50.0, ne), 2) + 0.01,
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    tables["documents"] = _documents(rng, n["documents"])
    tables["embeddings"] = _embeddings(rng, n["embeddings"])

    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


def _documents(rng: np.random.Generator, nd: int) -> pa.Table:
    lengths = rng.integers(10, 100, nd)
    vocab = np.array(WORDS)
    texts = [" ".join(vocab[rng.integers(0, len(WORDS), k)]) for k in lengths]
    # ~5% near duplicates: an earlier document plus a marker token
    for i in rng.choice(np.arange(1, nd), nd // 20, replace=False):
        texts[i] = texts[rng.integers(0, i)] + " dup"
    return pa.table(
        {
            "doc_id": np.arange(nd, dtype=np.int64),
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(5, nd, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(nd)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng: np.random.Generator, nv: int, dim: int = 64) -> pa.Table:
    labels = rng.integers(0, 10, nv).astype(np.int32)
    centroids = rng.normal(0.0, 1.0, (10, dim))
    vecs = rng.normal(0.0, 1.0, (nv, dim)) + 0.15 * centroids[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": np.arange(nv, dtype=np.int64),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": labels,
        }
    )
