"""Seeded synthetic source tables in the shape the ingest adapter reads.

The same ten tables as the project's TPC-H-like test data (region,
nation, customer, supplier, part, orders, lineitem, events, documents,
embeddings), generated with numpy from one seed so a checkout can build
its own store. Sizes scale linearly with `scale`: scale 1.0 is about
100k lineitems.

Some shapes are pinned so expected results stay exact:
  - (l_orderkey, l_linenumber) is unique, so every lineitem path ends in -1;
  - customer and supplier balances are distinct, so sorted pages have no ties;
  - documents come in near-duplicate families, embeddings in label clusters,
    so the dedup and nearest-neighbour operators have real work to find.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
COLORS = ["red", "green", "blue", "small", "large", "shiny", "plain", "dark", "pale", "bright"]
NOUNS = ["widget", "ring", "gear", "bolt", "valve", "spring", "panel", "cable", "pump", "frame"]
PTYPES = ["ECONOMY", "STANDARD", "PROMO", "LARGE", "MEDIUM"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "error", "login"]
VOCAB = (
    "key agg row scan slow fast table value part hash merge batch spark the line sort "
    "window order data column join small big query filter stream group customer a"
).split()
DIM = 64


def sizes(scale: float) -> dict[str, int]:
    return {
        "customer": max(50, int(2_500 * scale)),
        "supplier": max(10, int(170 * scale)),
        "part": max(50, int(3_300 * scale)),
        "orders": max(100, int(25_000 * scale)),
        "events": max(100, int(16_000 * scale)),
        "documents": max(60, int(800 * scale)),
        "embeddings": max(60, int(800 * scale)),
    }


def _ts(base: datetime, offsets) -> pa.Array:
    us = int((base - datetime(1970, 1, 1)).total_seconds() * 1_000_000)
    return pa.array(us + np.asarray(offsets, dtype=np.int64), pa.timestamp("us"))


def tables(scale: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = sizes(scale)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )

    def balances(k: int) -> np.ndarray:
        # distinct cents values: a permutation of a stride over the range
        cents = rng.permutation(k) * (1_099_900 // k) - 99_999
        return cents / 100.0

    nc = n["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(range(nc), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": balances(nc),
            "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, nc)],
        }
    )
    ns = n["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(range(ns), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": balances(ns),
        }
    )
    npart = n["part"]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(range(npart), pa.int64()),
            "p_name": [
                f"{COLORS[a]} {NOUNS[b]}"
                for a, b in zip(rng.integers(0, 10, npart), rng.integers(0, 10, npart))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
            "p_type": [PTYPES[i] for i in rng.integers(0, 5, npart)],
            "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
            "p_retailprice": np.round(900.0 + rng.integers(0, 110_000, npart) / 100.0, 2),
        }
    )
    no = n["orders"]
    # Zipf-skewed order placement: a few customers place many orders
    o_cust = (rng.zipf(1.3, no) - 1) % nc
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(range(no), pa.int64()),
            "o_custkey": pa.array(rng.permutation(nc)[o_cust], pa.int64()),
            "o_orderstatus": [STATUSES[i] for i in rng.integers(0, 3, no)],
            "o_totalprice": np.round(rng.integers(100_000, 50_000_000, no) / 100.0, 2),
            "o_orderdate": _ts(datetime(1992, 1, 1), rng.integers(0, 2_500, no) * 86_400_000_000),
            "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, no)],
        }
    )
    lines = rng.integers(1, 8, no)
    ok = np.repeat(np.arange(no), lines)
    ln = np.concatenate([np.arange(1, k + 1) for k in lines])
    nl = len(ok)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(ok, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(ln, pa.int32()),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": np.round(rng.integers(90_000, 10_500_000, nl) / 100.0, 2),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, nl)],
            "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, nl)],
            "l_shipdate": _ts(datetime(1992, 1, 2), rng.integers(0, 2_600, nl) * 86_400_000_000),
        }
    )
    ne = n["events"]
    out["events"] = pa.table(
        {
            "event_id": pa.array(range(ne), pa.int64()),
            "ts": _ts(datetime(2024, 1, 1), np.sort(rng.integers(0, 30 * 86_400_000_000, ne))),
            "user_id": pa.array(rng.integers(0, max(10, nc // 10), ne), pa.int64()),
            "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, ne)],
            "value": np.round(rng.integers(0, 10_000, ne) / 100.0, 2),
            "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, ne)],
        }
    )
    nd = n["documents"]
    # families of near-duplicates: a base text per family, members mutate a
    # few words, so minhash finds pairs across a range of similarities
    texts = []
    base = None
    for i in range(nd):
        if i % 4 == 0:
            base = list(rng.choice(VOCAB, int(rng.integers(20, 60))))
            words = list(base)
        else:
            words = list(base)
            for j in rng.integers(0, len(words), int(rng.integers(1, 6))):
                words[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        texts.append(" ".join(words))
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(range(nd), pa.int64()),
            "text": texts,
            "lang": ["en" if i % 5 else "de" for i in range(nd)],
            "source": [f"src{i}" for i in rng.integers(0, 10, nd)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    nv = n["embeddings"]
    centers = rng.normal(0, 1, (8, DIM))
    labels = rng.integers(0, 8, nv)
    vecs = centers[labels] + rng.normal(0, 0.6, (nv, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True) * 0.8).astype(np.float32)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(range(nv), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return out


def write(out_dir: str, scale: float, seed: int) -> int:
    """Write the tables as `<name>.parquet` under out_dir; returns the
    total number of source rows."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, t in tables(scale, seed).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        total += t.num_rows
    return total
