"""Seeded generator for the star-schema / events / text / embedding tables
the registered queries read (one parquet file per table).

The schemas and value domains follow the query tables the repository's
oracle-parity tests use, so every query in the benchmark's mix runs and
its DuckDB oracle twin applies. Sizes scale with ``scale`` the same way
(``scale=0.01`` gives 60,000 lineitem rows).
"""

from __future__ import annotations

import datetime as dt
import os

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

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["small", "large", "red", "blue", "old", "new", "hot", "cold"]
_PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
_EMBED_DIM = 64


def _days(rng: np.random.Generator, start: dt.date, end: dt.date, n: int) -> np.ndarray:
    span = (end - start).days
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _tables(rng: np.random.Generator, scale: float) -> dict[str, pa.Table]:
    n_cust = max(150, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(200, int(200_000 * scale))
    n_orders = max(1_500, int(1_500_000 * scale))
    n_line = max(6_000, int(6_000_000 * scale))
    n_events = max(1_000, int(1_000_000 * scale))
    n_users = max(15, int(15_000 * scale))
    n_docs = max(100, int(50_000 * scale))
    n_vecs = max(100, int(50_000 * scale))

    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": _REGIONS,
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        }
    )
    adj = rng.choice(_PART_ADJ, n_part)
    noun = rng.choice(_PART_NOUN, n_part)
    out["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"{a} {b}" for a, b in zip(adj, noun)],
            "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(_PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_orders, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_orders).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_orders), 2),
            "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n_orders),
            "o_orderpriority": rng.choice(_PRIORITIES, n_orders),
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_orders, n_line).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_line), 2),
            "l_discount": np.round(rng.uniform(0.0, 0.1, n_line), 2),
            "l_tax": np.round(rng.uniform(0.0, 0.08, n_line), 2),
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n_line),
        }
    )
    # strictly increasing microsecond timestamps over 30 days, ordered
    # by event_id, so (ts, user_id, event_type) never repeats
    span_us = 30 * 86_400 * 1_000_000
    gaps = rng.exponential(1.0, n_events)
    offs = np.floor(np.cumsum(gaps) / gaps.sum() * (span_us - n_events)).astype(np.int64)
    offs += np.arange(n_events, dtype=np.int64)
    out["events"] = pa.table(
        {
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": np.datetime64("2024-01-01T00:00:00", "us") + offs.astype("timedelta64[us]"),
            "user_id": rng.integers(0, n_users, n_events).astype(np.int64),
            "event_type": rng.choice(_EVENT_TYPES, n_events),
            "value": np.round(rng.uniform(0.01, 490.0, n_events), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }
    )
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 10 and rng.random() < 0.05:
            # planted near-duplicate: an earlier document plus a marker
            src = texts[int(rng.integers(0, i))]
            texts.append(src + " dup" * int(rng.integers(1, 3)))
        else:
            words = rng.choice(_WORDS, int(rng.integers(8, 100)))
            texts.append(" ".join(words))
    out["documents"] = pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(_LANGS, n_docs, p=_LANG_P),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    vecs = rng.standard_normal((n_vecs, _EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_vecs, dtype=np.int64),
            "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n_vecs).astype(np.int32),
        }
    )
    return out


def generate(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write every table as ``<out_dir>/<name>.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    counts = {}
    for name, table in _tables(rng, scale).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), compression="snappy")
        counts[name] = table.num_rows
    return counts
