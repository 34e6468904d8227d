"""Seeded synthetic input tables for the benchmark.

Writes the ten tables the engine reads (``region nation customer supplier
part orders lineitem events documents embeddings``), one single-row-group
parquet file each, with the schemas and value distributions of the
project's sf0.01 test data. Row counts are fixed; ``seed`` only changes
the random draws, so every seed gives the same amount of work.

Run standalone to inspect a data set:

    python3 perfbench/datagen.py OUT_DIR SEED
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {
    "region": 5,
    "nation": 25,
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}

WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.42, 0.15, 0.15, 0.14, 0.14]
EVENT_TYPES = ["signup", "error", "click", "view", "purchase"]
SEGMENTS = ["HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_ADJ = ["small", "red", "blue", "hot", "old", "large", "new", "cold"]
P_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
P_TYPES = ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"]
EMB_DIM = 64
EMB_LABELS = 10


def _days(rng: np.random.Generator, n: int, start: str, span_days: int) -> np.ndarray:
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, span_days, n)).astype("datetime64[us]")


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    # fixed counts of near and exact duplicates, so every seed gives the
    # dedup operators the same amount of work
    kind = np.zeros(n, dtype=np.int8)
    picks = rng.choice(np.arange(n // 10, n), size=n // 20, replace=False)
    kind[picks[: n * 4 // 100]] = 1  # near duplicate of an earlier document
    kind[picks[n * 4 // 100:]] = 2  # exact duplicate
    lengths = rng.permutation(np.resize(np.arange(10, 100), n))
    texts: list[str] = []
    for i in range(n):
        if kind[i] == 1:
            src = texts[int(rng.integers(0, i))]
            edit = " dup" if rng.random() < 0.5 else " " + WORDS[int(rng.integers(len(WORDS)))]
            texts.append(src + edit)
        elif kind[i] == 2:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), lengths[i])))
    langs = rng.choice(LANGS, n, p=LANG_P)
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(langs.tolist()),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    centers = rng.standard_normal((EMB_LABELS, EMB_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, EMB_LABELS, n).astype(np.int32)
    x = 0.15 * centers[labels] + rng.standard_normal((n, EMB_DIM)) / 8.0
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
        "label": pa.array(labels),
    })


def _events(rng: np.random.Generator, n: int) -> pa.Table:
    span_us = 30 * 86400 * 1_000_000
    gaps = rng.exponential(1.0, n)
    offs = (np.cumsum(gaps) / gaps.sum() * (span_us - 60_000_000)).astype(np.int64)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + offs.astype("timedelta64[us]")
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts),
        "user_id": pa.array(rng.integers(0, max(n * 3 // 200, 1), n).astype(np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n).tolist()),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = ROWS
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })
    nc = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, nc), 2)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, nc).tolist()),
    })
    ns = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, ns), 2)),
    })
    npart = n["part"]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart, dtype=np.int64)),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(rng.choice(P_ADJ, npart), rng.choice(P_NOUN, npart))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, npart)]),
        "p_type": pa.array(rng.choice(P_TYPES, npart).tolist()),
        "p_size": pa.array(rng.integers(1, 51, npart).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 2)),
    })
    no = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, nc, no).astype(np.int64)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], no).tolist()),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, no), 2)),
        "o_orderdate": pa.array(_days(rng, no, "1995-01-01", 2404)),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, no).tolist()),
    })
    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, npart, nl).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, ns, nl).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 4200.0, nl), 2)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": pa.array(rng.choice(["R", "A", "N"], nl).tolist()),
        "l_linestatus": pa.array(rng.choice(["O", "F"], nl).tolist()),
        "l_shipdate": pa.array(_days(rng, nl, "1995-01-02", 2498)),
    })
    out["events"] = _events(rng, n["events"])
    out["documents"] = _documents(rng, n["documents"])
    out["embeddings"] = _embeddings(rng, n["embeddings"])
    return out


def write(out_dir: str, seed: int) -> str:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(table.num_rows, 1))
    return out_dir


if __name__ == "__main__":
    print(write(sys.argv[1], int(sys.argv[2])))
