"""Seeded generator for the catalog's ten input tables.

Writes ``region nation customer supplier part orders lineitem events
documents embeddings`` as one parquet file each, with the column names,
types and value domains of the TPC-H-shaped star schema plus the
``events`` stream, ``documents`` corpus and ``embeddings`` table that
the catalog queries and the streaming operators read
(``sources.tables.TABLE_NAMES``, ``schemas.TESTDATA_SCHEMAS``).
Row counts scale linearly with ``sf`` (lineitem = 6,000,000 x sf).
The same ``(sf, seed)`` always gives byte-identical tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "old", "hot", "large", "cold", "red", "small", "new"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "en", "en", "es", "fr", "zh", "de"]
WORDS = (
    "fast spark line small customer group key agg scan slow table part a "
    "merge window order column join vector value hash batch sort data big "
    "filter dup row the query stream"
).split()
EMBED_DIM = 64


def row_counts(sf: float) -> dict[str, int]:
    """Rows per table at scale factor ``sf``."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(10, round(150_000 * sf)),
        "supplier": max(10, round(10_000 * sf)),
        "part": max(20, round(200_000 * sf)),
        "orders": max(100, round(1_500_000 * sf)),
        "lineitem": max(400, round(6_000_000 * sf)),
        "events": max(100, round(1_000_000 * sf)),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> np.ndarray:
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    offs = rng.integers(0, int((hi - lo).astype(int)) + 1, n)
    return (lo + offs).astype("datetime64[us]")


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def build_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """All ten tables as Arrow tables; deterministic in ``(sf, seed)``."""
    n = row_counts(sf)
    rng = np.random.default_rng(seed)
    i32, i64 = pa.int32(), pa.int64()
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    nc = n["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), i64),
            "c_name": _names("Customer", nc),
            "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": rng.choice(SEGMENTS, nc).tolist(),
        }
    )
    ns = n["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), i64),
            "s_name": _names("Supplier", ns),
            "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }
    )
    npart = n["part"]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(npart), i64),
            "p_name": [
                f"{a} {b}"
                for a, b in zip(
                    rng.choice(PART_ADJ, npart), rng.choice(PART_NOUN, npart)
                )
            ],
            "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, npart)],
            "p_type": rng.choice(PART_TYPES, npart).tolist(),
            "p_size": pa.array(rng.integers(1, 51, npart), i32),
            "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 1),
        }
    )
    no = n["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), i64),
            "o_custkey": pa.array(rng.integers(0, nc, no), i64),
            "o_orderstatus": rng.choice(["F", "O", "P"], no).tolist(),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, no),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", no),
            "o_orderpriority": rng.choice(PRIORITIES, no).tolist(),
        }
    )
    nl = n["lineitem"]
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl), i64),
            "l_partkey": pa.array(rng.integers(0, npart, nl), i64),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], nl).tolist(),
            "l_linestatus": rng.choice(["F", "O"], nl).tolist(),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", nl),
        }
    )
    ne = n["events"]
    # exponential inter-arrivals over 30 days: ts ascends with event_id
    gaps = rng.exponential(1.0, ne)
    span_us = 30 * 86_400 * 1_000_000
    offs = (np.cumsum(gaps) / gaps.sum() * (span_us - 1)).astype(np.int64)
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), i64),
            "ts": pa.array(
                np.datetime64("2024-01-01", "us") + offs.astype("timedelta64[us]")
            ),
            "user_id": pa.array(
                rng.integers(0, max(2, round(15_000 * sf)), ne), i64
            ),
            "event_type": rng.choice(EVENT_TYPES, ne).tolist(),
            "value": np.maximum(0.01, np.round(rng.exponential(50.0, ne), 2)),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    nd = n["documents"]
    lens = rng.integers(10, 100, nd)
    texts = [" ".join(rng.choice(WORDS, k)) for k in lens]
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(nd), i64),
            "text": texts,
            "lang": rng.choice(LANGS, nd).tolist(),
            "source": [f"src{k}" for k in rng.integers(0, 20, nd)],
            "n_chars": pa.array([len(x) for x in texts], i64),
        }
    )
    nv = n["embeddings"]
    vecs = rng.standard_normal((nv, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(nv), i64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, nv), i32),
        }
    )
    return t


def write_tables(
    out_dir: str, sf: float, seed: int, names: tuple[str, ...] | None = None
) -> dict[str, int]:
    """Write the tables (all ten, or ``names``) under ``out_dir``;
    returns rows per table written."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in build_tables(sf, seed).items():
        if names is None or name in names:
            pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
            rows[name] = table.num_rows
    return rows
