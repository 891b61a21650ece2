"""Deterministic synthetic inputs for the benchmark.

Writes the engine's ten-table star schema (`crz_scraper_spark.catalog.TABLES`)
as one single-row-group parquet file per table, with the column names, types
and value domains of the engine's reference test data. Every value is drawn
from one `numpy` generator seeded by the caller, so the same seed and scale
give byte-identical tables.

Row counts scale linearly with `sf` (lineitem = 6,000,000 x sf); the fixed
dimensions (region, nation) do not scale. Documents are bags of words over a
30-word vocabulary, 10 to 99 words long; 5% of them repeat an earlier text
with " dup" appended, so the near-duplicate queries have pairs to find.
Embeddings are unit-length 64-dimensional float vectors.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
EMBED_DIM = 64

_DAY_US = 86_400_000_000
_ORDER_START = np.datetime64("1995-01-01", "us")
_ORDER_DAYS = 2404  # 1995-01-01 .. 2001-08-01
_SHIP_START = np.datetime64("1995-01-02", "us")
_SHIP_DAYS = 2498  # 1995-01-02 .. 2001-11-04
_EVENT_START = np.datetime64("2024-01-01", "us")
_EVENT_SPAN_US = 30 * _DAY_US


def row_counts(sf: float) -> dict[str, int]:
    """Rows per table at scale factor `sf`."""
    return {
        "region": 5,
        "nation": 25,
        "customer": round(150_000 * sf),
        "supplier": round(10_000 * sf),
        "part": round(200_000 * sf),
        "orders": round(1_500_000 * sf),
        "lineitem": round(6_000_000 * sf),
        "events": round(1_000_000 * sf),
        "documents": round(50_000 * sf),
        "embeddings": round(20_000 * sf),
    }


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _days(rng: np.random.Generator, start: np.datetime64, days: int, n: int):
    return start + rng.integers(0, days, n).astype("timedelta64[D]")


def _documents(rng: np.random.Generator, n: int) -> dict:
    vocab = np.array(VOCAB)
    lengths = rng.integers(10, 100, n)
    words = vocab[rng.integers(0, len(vocab), int(lengths.sum()))]
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    texts = [" ".join(words[bounds[i]:bounds[i + 1]]) for i in range(n)]
    for i in rng.choice(np.arange(1, n), size=n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    vecs = rng.standard_normal((n, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    flat = pa.array(vecs.reshape(-1), type=pa.float32())
    offsets = pa.array(np.arange(0, n * EMBED_DIM + 1, EMBED_DIM, dtype=np.int32))
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": rng.integers(0, 10, n).astype(np.int32),
    })


def generate(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write every table of scale `sf` under `out_dir`; return row counts."""
    rng = np.random.default_rng(seed)
    n = row_counts(sf)
    pick = lambda values, k: np.array(values)[rng.integers(0, len(values), k)]  # noqa: E731
    n_users = round(15_000 * sf)
    event_gaps = rng.exponential(1.0, n["events"])
    event_us = np.cumsum(event_gaps) / event_gaps.sum() * (_EVENT_SPAN_US - 1)
    tables = {
        "region": {
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": REGIONS,
        },
        "nation": {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": np.arange(25, dtype=np.int32) % 5,
        },
        "customer": {
            "c_custkey": np.arange(n["customer"], dtype=np.int64),
            "c_name": _names("Customer", n["customer"]),
            "c_nationkey": rng.integers(0, 25, n["customer"]).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
            "c_mktsegment": pick(SEGMENTS, n["customer"]),
        },
        "supplier": {
            "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
            "s_name": _names("Supplier", n["supplier"]),
            "s_nationkey": rng.integers(0, 25, n["supplier"]).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
        },
        "part": {
            "p_partkey": np.arange(n["part"], dtype=np.int64),
            "p_name": [
                f"{a} {b}"
                for a, b in zip(pick(PART_ADJ, n["part"]), pick(PART_NOUN, n["part"]))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])],
            "p_type": pick(PART_TYPES, n["part"]),
            "p_size": rng.integers(1, 51, n["part"]).astype(np.int32),
            "p_retailprice": 900.0 + (np.arange(n["part"]) % 1000) / 10.0,
        },
        "orders": {
            "o_orderkey": np.arange(n["orders"], dtype=np.int64),
            "o_custkey": rng.integers(0, n["customer"], n["orders"]),
            "o_orderstatus": pick(["F", "O", "P"], n["orders"]),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n["orders"]),
            "o_orderdate": _days(rng, _ORDER_START, _ORDER_DAYS, n["orders"]),
            "o_orderpriority": pick(PRIORITIES, n["orders"]),
        },
        "lineitem": {
            "l_orderkey": rng.integers(0, n["orders"], n["lineitem"]),
            "l_partkey": rng.integers(0, n["part"], n["lineitem"]),
            "l_suppkey": rng.integers(0, n["supplier"], n["lineitem"]),
            "l_linenumber": rng.integers(1, 8, n["lineitem"]).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n["lineitem"]).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n["lineitem"]),
            "l_discount": rng.integers(0, 11, n["lineitem"]) / 100.0,
            "l_tax": rng.integers(0, 9, n["lineitem"]) / 100.0,
            "l_returnflag": pick(["A", "N", "R"], n["lineitem"]),
            "l_linestatus": pick(["F", "O"], n["lineitem"]),
            "l_shipdate": _days(rng, _SHIP_START, _SHIP_DAYS, n["lineitem"]),
        },
        "events": {
            "event_id": np.arange(n["events"], dtype=np.int64),
            # TIMESTAMP(NANOS), as in the reference data: the engine reads it
            # as long nanoseconds and converts it in catalog.load_table.
            "ts": (_EVENT_START + event_us.astype("timedelta64[us]")).astype("datetime64[ns]"),
            "user_id": rng.integers(0, n_users, n["events"]),
            "event_type": pick(EVENT_TYPES, n["events"]),
            "value": np.round(rng.exponential(50.0, n["events"]), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n["events"])],
        },
        "documents": _documents(rng, n["documents"]),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, columns in tables.items():
        pq.write_table(pa.table(columns), os.path.join(out_dir, f"{name}.parquet"))
    pq.write_table(
        _embeddings(rng, n["embeddings"]),
        os.path.join(out_dir, "embeddings.parquet"),
    )
    return n
