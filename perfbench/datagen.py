"""Generator for the engine's ten-table fixture lake at scale factor 0.01.

Writes ``region nation customer supplier part orders lineitem events
documents embeddings`` as one parquet file each. Row counts, schemas,
timestamp units and value domains are those of the engine's sf0.01 test
fixtures (the scale its DuckDB oracle gate runs at):

- TPC-H-style star; every column drawn independently and uniformly over the
  fixture's domain (``l_orderkey`` uniform over the orders, so lines per
  order are binomial);
- events: sorted timestamps over 2024-01-01..2024-01-30 (exponential gaps),
  ``TIMESTAMP(MICROS)`` without time zone like every fixture timestamp, one
  user per ten customers, uniform event types, exponential values;
- documents: 10..99 tokens drawn uniformly from a 30-word vocabulary, then
  exactly one in twenty documents replaced by another document plus the token
  ``dup`` (sources may be duplicates themselves, so near-duplicate chains
  form, as in the fixtures);
- embeddings: uniform random unit vectors with uniform labels 0..9.

The lake is a function of the seed alone: the same seed gives
byte-identical files. The benchmark always writes the lake of ``DATA_SEED``,
so every run does the same work, and its ``--seed`` sets the job order.

Usage: ``python3 perfbench/datagen.py OUT_DIR``.
"""

from __future__ import annotations

import datetime as dt
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
#: Rows per table, as in the sf0.01 fixtures.
ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}
#: Distinct event users (one per ten customers); each is also a customer key.
EVENT_USERS = ROWS["customer"] // 10

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
#: One document in this many is a near-duplicate of another.
NEAR_DUP_EVERY = 20
EMB_DIM = 64
EMB_LABELS = 10


def _days(start: dt.date, offsets: np.ndarray) -> pa.Array:
    base = np.datetime64(start.isoformat(), "us")
    return pa.array(base + offsets.astype("timedelta64[D]"), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{k:09d}" for k in range(n)]


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts = [" ".join(rng.choice(VOCAB, int(rng.integers(10, 100)))) for _ in range(n)]
    for i in sorted(rng.choice(n, n // NEAR_DUP_EVERY, replace=False)):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": list(rng.choice(LANGS, n, p=LANG_P)),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    label = rng.integers(0, EMB_LABELS, n)
    vecs = rng.normal(0.0, 1.0, (n, EMB_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(label, pa.int32()),
        }
    )


def _events(rng: np.random.Generator, n: int) -> pa.Table:
    span_us = 30 * 86400 * 10**6
    gaps = rng.exponential(1.0, n)
    ts_us = np.floor(np.cumsum(gaps) / gaps.sum() * (span_us - 10**6)).astype(np.int64)
    base = np.datetime64("2024-01-01T00:00:00", "us")
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(base + ts_us.astype("timedelta64[us]"), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, EVENT_USERS, n), pa.int64()),
            "event_type": list(rng.choice(EVENT_TYPES, n)),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def tables(seed: int) -> dict[str, pa.Table]:
    """All ten tables for ``seed``."""
    rng = np.random.default_rng(seed)
    r = ROWS
    nc, no, npart, ns = r["customer"], r["orders"], r["part"], r["supplier"]
    nl = r["lineitem"]
    out = {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(nc), pa.int64()),
                "c_name": _names("Customer", nc),
                "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
                "c_acctbal": _money(rng, -999.99, 9999.99, nc),
                "c_mktsegment": list(rng.choice(SEGMENTS, nc)),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(ns), pa.int64()),
                "s_name": _names("Supplier", ns),
                "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
                "s_acctbal": _money(rng, -999.99, 9999.99, ns),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(npart), pa.int64()),
                "p_name": [
                    f"{PART_ADJ[a]} {PART_NOUN[b]}"
                    for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
                ],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
                "p_type": list(rng.choice(PART_TYPES, npart)),
                "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
                "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 2),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(no), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
                "o_orderstatus": list(rng.choice(["F", "O", "P"], no)),
                "o_totalprice": _money(rng, 1000.0, 500000.0, no),
                "o_orderdate": _days(dt.date(1995, 1, 1), rng.integers(0, 2404, no)),
                "o_orderpriority": list(rng.choice(PRIORITIES, no)),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
                "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
                "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
                "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
                "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
                "l_discount": rng.integers(0, 11, nl) / 100.0,
                "l_tax": rng.integers(0, 9, nl) / 100.0,
                "l_returnflag": list(rng.choice(["A", "N", "R"], nl)),
                "l_linestatus": list(rng.choice(["F", "O"], nl)),
                "l_shipdate": _days(dt.date(1995, 1, 2), rng.integers(0, 2498, nl)),
            }
        ),
        "events": _events(rng, r["events"]),
        "documents": _documents(rng, r["documents"]),
        "embeddings": _embeddings(rng, r["embeddings"]),
    }
    return out


def write(out_dir: str, seed: int = DATA_SEED) -> str:
    """Write the lake for ``seed`` into ``out_dir``; returns ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


if __name__ == "__main__":
    write(sys.argv[1])
