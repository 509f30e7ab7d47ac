"""Seeded generator for the lake tables the registry queries read.

Writes the ten base tables (``region nation customer supplier part
orders lineitem events documents embeddings``) as one parquet file each,
with the schemas, key ranges and value domains of the package's fixture
star schema, so every registry query and its DuckDB oracle run on it
unchanged. The same seed gives byte-identical files.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Rows per table, the fixture's smallest scale: every query here is
#: bound by per-job overhead at this size, which keeps a pass short.
ROWS = {
    "customer": 150,
    "supplier": 10,
    "part": 200,
    "orders": 1500,
    "lineitem": 6000,
    "events": 1000,
    "documents": 300,
    "embeddings": 300,
}

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("blue", "cold", "hot", "new", "old", "red", "small", "big")
PART_NOUN = ("anvil", "bolt", "gear", "ring", "rod", "widget", "nut", "spring")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "en", "de", "es", "fr", "zh")
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()

_DAY_US = 86_400_000_000


def _ts_us(start: dt.datetime, offsets_us: np.ndarray) -> pa.Array:
    base = int(start.replace(tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
    return pa.array(base + offsets_us.astype(np.int64), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def generate(out_dir: str, seed: int) -> dict[str, int]:
    """Write the ten tables under ``out_dir``; returns rows per table."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": list(REGIONS),
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    nc = ROWS["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(range(nc), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": rng.choice(SEGMENTS, nc).tolist(),
        }
    )
    ns = ROWS["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(range(ns), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }
    )
    npart = ROWS["part"]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(range(npart), pa.int64()),
            "p_name": [
                f"{a} {b}"
                for a, b in zip(
                    rng.choice(PART_ADJ, npart), rng.choice(PART_NOUN, npart)
                )
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
            "p_type": rng.choice(PART_TYPES, npart).tolist(),
            "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 1),
        }
    )
    no = ROWS["orders"]
    order_day = rng.integers(0, 2404, no)  # 1995-01-01 .. 2001-08-01
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(range(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": rng.choice(("F", "O", "P"), no).tolist(),
            "o_totalprice": _money(rng, 1000.0, 500000.0, no),
            "o_orderdate": _ts_us(dt.datetime(1995, 1, 1), order_day * _DAY_US),
            "o_orderpriority": rng.choice(PRIORITIES, no).tolist(),
        }
    )
    nl = ROWS["lineitem"]
    l_order = rng.integers(0, no, nl)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(l_order, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, nl), 2),
            "l_discount": np.round(rng.integers(0, 11, nl) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, nl) / 100.0, 2),
            "l_returnflag": rng.choice(("A", "N", "R"), nl).tolist(),
            "l_linestatus": rng.choice(("F", "O"), nl).tolist(),
            "l_shipdate": _ts_us(
                dt.datetime(1995, 1, 1),
                (order_day[l_order] + rng.integers(1, 122, nl)) * _DAY_US,
            ),
        }
    )
    ne = ROWS["events"]
    ev_ts = np.sort(rng.integers(0, 30 * _DAY_US, ne))
    t["events"] = pa.table(
        {
            "event_id": pa.array(range(ne), pa.int64()),
            "ts": _ts_us(dt.datetime(2024, 1, 1), ev_ts),
            "user_id": pa.array(rng.integers(0, max(1, ne // 60), ne), pa.int64()),
            "event_type": rng.choice(EVENT_TYPES, ne).tolist(),
            "value": np.round(rng.uniform(0.01, 490.0, ne), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    nd = ROWS["documents"]
    texts: list[str] = []
    for i in range(nd):
        if i >= 20 and rng.random() < 0.05:
            # near-duplicate re-filing of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 101)))))
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(range(nd), pa.int64()),
            "text": texts,
            "lang": rng.choice(LANGS, nd).tolist(),
            "source": [f"src{i % 20}" for i in range(nd)],
            "n_chars": pa.array([len(x) for x in texts], pa.int64()),
        }
    )
    nv = ROWS["embeddings"]
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] + rng.normal(0.0, 0.8, (nv, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(range(nv), pa.int64()),
            "embedding": pa.array(
                [list(v) for v in vecs.astype(np.float32)], pa.list_(pa.float32())
            ),
            "label": pa.array(labels, pa.int32()),
        }
    )
    for name, table in t.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: table.num_rows for name, table in t.items()}
