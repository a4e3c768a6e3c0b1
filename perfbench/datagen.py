"""Seeded synthetic tables in the shape the query registry reads.

The registry's queries read ten parquet tables (``session.TABLES``): a
TPC-H-like star schema, an ``events`` stream, a ``documents`` corpus and an
``embeddings`` table. This module writes them from a seed with the column
names, Arrow types, row counts per scale factor and value domains of the
synthetic data the repository's oracle gates run on, so every query plans
and executes the same operators on comparable volumes. The same
``(sf, seed)`` always writes byte-identical values.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "blue", "cold", "old", "new", "hot", "red", "large"]
PART_NOUN = ["widget", "rod", "ring", "anvil", "plate", "bolt", "gear", "gizmo"]
PART_TYPES = ["ECONOMY", "LARGE", "STANDARD", "MEDIUM", "SMALL", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
VOCAB = (
    "the a data spark query row column table key value join merge sort hash "
    "scan filter group agg order part line customer window stream batch "
    "vector big small fast slow dup"
).split()
EMBED_DIM = 64
EMBED_LABELS = 10


def row_counts(sf: float) -> dict[str, int]:
    """Rows per table at scale factor ``sf`` (sf0.001 → 6,000 lineitems)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": round(150_000 * sf),
        "supplier": max(10, round(10_000 * sf)),
        "part": round(200_000 * sf),
        "orders": round(1_500_000 * sf),
        "lineitem": round(6_000_000 * sf),
        "events": round(1_000_000 * sf),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def _days(rng: np.random.Generator, n: int, start: str, end: str) -> pa.Array:
    lo = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - lo).astype(int))
    days = lo + rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(days.astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _choice(rng: np.random.Generator, values: list[str], n: int) -> list[str]:
    return [values[i] for i in rng.integers(0, len(values), n)]


def make_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = row_counts(sf)
    i64 = lambda k: pa.array(np.arange(n[k], dtype=np.int64))  # noqa: E731
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    tables["customer"] = pa.table(
        {
            "c_custkey": i64("customer"),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
            "c_acctbal": _money(rng, n["customer"], -999.99, 9999.99),
            "c_mktsegment": _choice(rng, SEGMENTS, n["customer"]),
        }
    )
    tables["supplier"] = pa.table(
        {
            "s_suppkey": i64("supplier"),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
            "s_acctbal": _money(rng, n["supplier"], -999.99, 9999.99),
        }
    )
    parts = n["part"]
    tables["part"] = pa.table(
        {
            "p_partkey": i64("part"),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, parts), rng.integers(0, 8, parts))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, parts)],
            "p_type": _choice(rng, PART_TYPES, parts),
            "p_size": pa.array(rng.integers(1, 51, parts), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(parts) % 200) / 10.0, 1),
        }
    )
    orders = n["orders"]
    tables["orders"] = pa.table(
        {
            "o_orderkey": i64("orders"),
            "o_custkey": rng.integers(0, n["customer"], orders),
            "o_orderstatus": _choice(rng, ["F", "O", "P"], orders),
            "o_totalprice": _money(rng, orders, 1000.0, 500_000.0),
            "o_orderdate": _days(rng, orders, "1995-01-01", "2001-08-01"),
            "o_orderpriority": _choice(rng, PRIORITIES, orders),
        }
    )
    items = n["lineitem"]
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, orders, items),
            "l_partkey": rng.integers(0, parts, items),
            "l_suppkey": rng.integers(0, n["supplier"], items),
            "l_linenumber": pa.array(rng.integers(1, 8, items), pa.int32()),
            "l_quantity": rng.integers(1, 51, items).astype(np.float64),
            "l_extendedprice": _money(rng, items, 900.0, 105_000.0),
            "l_discount": rng.integers(0, 11, items) / 100.0,
            "l_tax": rng.integers(0, 9, items) / 100.0,
            "l_returnflag": _choice(rng, ["A", "N", "R"], items),
            "l_linestatus": _choice(rng, ["F", "O"], items),
            "l_shipdate": _days(rng, items, "1995-01-02", "2001-11-04"),
        }
    )
    events = n["events"]
    month_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, month_us, events)) + np.datetime64(
        datetime(2024, 1, 1), "us"
    ).astype(np.int64)
    tables["events"] = pa.table(
        {
            "event_id": i64("events"),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": rng.integers(0, round(events * 0.015), events),
            "event_type": _choice(rng, EVENT_TYPES, events),
            "value": _money(rng, events, 0.01, 330.0),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, events)],
        }
    )
    docs = n["documents"]
    texts = [
        " ".join(_choice(rng, VOCAB, int(w))) for w in rng.integers(8, 96, docs)
    ]
    tables["documents"] = pa.table(
        {
            "doc_id": np.arange(docs, dtype=np.int64),
            "text": texts,
            "lang": _choice(rng, LANGS, docs),
            "source": [f"src{i % 20}" for i in range(docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    vecs = n["embeddings"]
    labels = rng.integers(0, EMBED_LABELS, vecs)
    centroids = rng.normal(size=(EMBED_LABELS, EMBED_DIM))
    raw = centroids[labels] + rng.normal(scale=1.5, size=(vecs, EMBED_DIM))
    unit = (raw / np.linalg.norm(raw, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table(
        {
            "vec_id": np.arange(vecs, dtype=np.int64),
            "embedding": pa.array(list(unit), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return tables


def write_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write every table as ``<out_dir>/<name>.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in make_tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
