"""Seeded generator for the engine's ten fixture tables.

Column names, parquet types and value shapes follow the star schema the
catalog reads (``sources.tables.TABLES``): TPC-H-ish dimension and fact
tables, an ``events`` stream table, and the ``documents`` /
``embeddings`` pair the LLM-data queries use. Every value comes from one
``numpy.random.Generator`` seeded by ``seed``, and the files are written
with fixed writer options, so the same seed and sizes always give
byte-identical parquet files.

    python3 graftbench/datagen.py OUT_DIR [--seed N]
"""

from __future__ import annotations

import argparse
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DEFAULT_SEED = 20261018

#: Row counts per table: the engine's smallest fixture scale, sf0.001
#: (FIXTURES.md, and the parquet footers of the fixture files).
SIZES: dict[str, int] = {
    "customer": 150,
    "supplier": 10,
    "part": 200,
    "orders": 1500,
    "lineitem": 6000,
    "events": 1000,
    "documents": 500,
    "embeddings": 500,
}
#: Distinct ``events.user_id`` values; the sf0.001 fixture has 15.
EVENT_USERS = 15

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_WEIGHTS = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()
#: Share of documents that copy an earlier document and append " dup",
#: so the near-duplicate queries have pairs to find.
NEAR_DUP_SHARE = 0.05
EMBED_DIM = 64
N_LABELS = 10

_EPOCH = dt.datetime(1970, 1, 1)


def _days(start: dt.datetime, end: dt.datetime) -> int:
    return (end - start).days


def _micros(start: dt.datetime) -> int:
    return int((start - _EPOCH).total_seconds()) * 1_000_000


def _date_col(rng: np.random.Generator, n: int, start: dt.datetime, end: dt.datetime) -> pa.Array:
    # Microseconds, as the fixture files store dates at every scale.
    day = 86_400 * 1_000_000
    offs = rng.integers(0, _days(start, end) + 1, n) * day
    return pa.array(_micros(start) + offs, type=pa.timestamp("us"))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _keyed_names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def make_tables(seed: int, sizes: dict[str, int] = SIZES) -> dict[str, pa.Table]:
    """Build every fixture table in memory from ``seed``."""
    rng = np.random.default_rng(seed)
    n = sizes
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(range(n["customer"]), pa.int64()),
            "c_name": _keyed_names("Customer", n["customer"]),
            "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
            "c_acctbal": _money(rng, n["customer"], -999.99, 9999.99),
            "c_mktsegment": rng.choice(SEGMENTS, n["customer"]).tolist(),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(range(n["supplier"]), pa.int64()),
            "s_name": _keyed_names("Supplier", n["supplier"]),
            "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
            "s_acctbal": _money(rng, n["supplier"], -999.99, 9999.99),
        }
    )
    n_part = n["part"]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(range(n_part), pa.int64()),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part).tolist(),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
        }
    )
    n_ord = n["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(range(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n["customer"], n_ord), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord).tolist(),
            "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
            "o_orderdate": _date_col(rng, n_ord, dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1)),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord).tolist(),
        }
    )
    n_li = n["lineitem"]
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n["supplier"], n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, n_li, 900.0, 105000.0),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_li).tolist(),
            "l_linestatus": rng.choice(["F", "O"], n_li).tolist(),
            "l_shipdate": _date_col(rng, n_li, dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4)),
        }
    )
    n_ev = n["events"]
    # Monotone event time over 30 days from 2024-01-01, exponential gaps.
    gaps = rng.exponential(30 * 86_400 * 1_000_000 / n_ev, n_ev).astype(np.int64) + 1
    t["events"] = pa.table(
        {
            "event_id": pa.array(range(n_ev), pa.int64()),
            "ts": pa.array(_micros(dt.datetime(2024, 1, 1)) + np.cumsum(gaps), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, EVENT_USERS, n_ev), pa.int64()),
            "event_type": rng.choice(EVENT_TYPES, n_ev).tolist(),
            "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    n_doc = n["documents"]
    texts: list[str] = []
    for i in range(n_doc):
        if i > 0 and rng.random() < NEAR_DUP_SHARE:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(range(n_doc), pa.int64()),
            "text": texts,
            "lang": rng.choice(LANGS, n_doc, p=LANG_WEIGHTS).tolist(),
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": pa.array([len(s) for s in texts], pa.int64()),
        }
    )
    n_emb = n["embeddings"]
    labels = rng.integers(0, N_LABELS, n_emb)
    centroids = rng.standard_normal((N_LABELS, EMBED_DIM))
    vecs = centroids[labels] + 1.5 * rng.standard_normal((n_emb, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(range(n_emb), pa.int64()),
            "embedding": pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), EMBED_DIM).cast(
                pa.list_(pa.float32())
            ),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return t


def write_tables(out_dir: str, seed: int = DEFAULT_SEED, sizes: dict[str, int] = SIZES) -> dict[str, int]:
    """Write ``<out_dir>/<table>.parquet`` for every table; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in make_tables(seed, sizes).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), compression="snappy")
        rows[name] = table.num_rows
    return rows


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out_dir")
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    args = ap.parse_args()
    print(write_tables(args.out_dir, args.seed))
