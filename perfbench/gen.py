"""Deterministic testdata tables for the benchmark.

Writes the star schema plus ``events``, ``documents`` and
``embeddings`` that pqc's registered queries read (one single-row-group
parquet file per table), at a given scale factor. The shapes follow the
testdata the queries were written against: uniform keys, 5% of
documents are near-copies of an earlier document with " dup" appended,
embeddings are random unit vectors in 64 dimensions.

Every value is a pure function of the table seed, so two checkouts
generate byte-identical inputs and the recorded reference outputs in
``refs.json`` apply to both.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEED = 42
VOCAB = (
    "a the data spark table column row value key join group agg filter sort "
    "scan hash merge batch stream window vector query order customer part "
    "line big small fast slow"
).split()
PART_ADJ = ("large", "small", "hot", "cold", "blue", "red", "old", "new")
PART_NOUN = ("ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo")
SEGMENTS = ("FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
P_TYPES = ("LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO")
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
LANGS = ("en", "en", "en", "zh", "es", "fr", "de")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
EMB_DIM = 64


def sizes(sf: float) -> dict[str, int]:
    """Row counts per table at scale factor ``sf``."""
    return {
        "lineitem": int(6_000_000 * sf),
        "orders": int(1_500_000 * sf),
        "customer": int(150_000 * sf),
        "part": int(200_000 * sf),
        "supplier": max(int(10_000 * sf), 10),
        "events": int(1_000_000 * sf),
        "documents": max(int(50_000 * sf), 500),
        "embeddings": max(int(20_000 * sf), 500),
    }


def _rng(table: str) -> np.random.Generator:
    return np.random.default_rng([SEED, sum(map(ord, table))])


def _days(rng, n: int, start: str, span_days: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]")


def _money(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def tables(sf: float) -> dict[str, pa.Table]:
    n = sizes(sf)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": list(REGIONS)}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )

    rng = _rng("customer")
    k = n["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": np.arange(k, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(k)],
            "c_nationkey": rng.integers(0, 25, k).astype(np.int32),
            "c_acctbal": _money(rng.uniform(-999.99, 9999.99, k)),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, k)],
        }
    )

    rng = _rng("supplier")
    k = n["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(k, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(k)],
            "s_nationkey": rng.integers(0, 25, k).astype(np.int32),
            "s_acctbal": _money(rng.uniform(-999.99, 9999.99, k)),
        }
    )

    rng = _rng("part")
    k = n["part"]
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    out["part"] = pa.table(
        {
            "p_partkey": np.arange(k, dtype=np.int64),
            "p_name": names[rng.integers(0, len(names), k)],
            "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[rng.integers(0, 25, k)],
            "p_type": np.array(P_TYPES)[rng.integers(0, len(P_TYPES), k)],
            "p_size": rng.integers(1, 51, k).astype(np.int32),
            "p_retailprice": _money(900.0 + (np.arange(k) % 1000) * 0.1),
        }
    )

    rng = _rng("orders")
    k = n["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(k, dtype=np.int64),
            "o_custkey": rng.integers(0, n["customer"], k).astype(np.int64),
            "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, k)],
            "o_totalprice": _money(rng.uniform(1000.0, 500000.0, k)),
            "o_orderdate": _days(rng, k, "1995-01-01", 2404),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, k)],
        }
    )

    rng = _rng("lineitem")
    k = n["lineitem"]
    qty = rng.integers(1, 51, k).astype(np.float64)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n["orders"], k).astype(np.int64),
            "l_partkey": rng.integers(0, n["part"], k).astype(np.int64),
            "l_suppkey": rng.integers(0, n["supplier"], k).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, k).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": _money(qty * rng.uniform(900.0, 2100.0, k)),
            "l_discount": rng.integers(0, 11, k) / 100.0,
            "l_tax": rng.integers(0, 9, k) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, k)],
            "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, k)],
            "l_shipdate": _days(rng, k, "1995-01-02", 2498),
        }
    )

    rng = _rng("events")
    k = n["events"]
    ts = np.datetime64("2024-01-01", "us") + np.sort(
        rng.integers(0, 30 * 86_400 * 1_000_000, k)
    ).astype("timedelta64[us]")
    out["events"] = pa.table(
        {
            "event_id": np.arange(k, dtype=np.int64),
            "ts": ts,
            "user_id": rng.integers(0, 1500, k).astype(np.int64),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, k)],
            "value": _money(rng.exponential(50.0, k)),
            "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, k)],
        }
    )

    rng = _rng("documents")
    k = n["documents"]
    texts: list[str] = []
    for i in range(k):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))
            texts.append(" ".join(VOCAB[w] for w in words))
    out["documents"] = pa.table(
        {
            "doc_id": np.arange(k, dtype=np.int64),
            "text": texts,
            "lang": np.array(LANGS)[rng.integers(0, len(LANGS), k)],
            "source": [f"src{i % 20}" for i in range(k)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )

    rng = _rng("embeddings")
    k = n["embeddings"]
    vecs = rng.normal(0.0, 1.0, (k, EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table(
        {
            "vec_id": np.arange(k, dtype=np.int64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": rng.integers(0, 10, k).astype(np.int32),
        }
    )
    return out


def write(sf: float, out_dir: str) -> str:
    """Write every table under ``out_dir`` (atomically) and return it."""
    if os.path.exists(os.path.join(out_dir, "_SUCCESS")):
        return out_dir
    tmp = f"{out_dir}.tmp{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)
    for name, table in tables(sf).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"), row_group_size=1 << 30)
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    os.rename(tmp, out_dir)
    return out_dir
