"""Deterministic inputs for the query workloads.

The ten catalog tables (``terasort_spark.catalog.TABLES``) are generated
with NumPy from a fixed data seed and written as one parquet file each, in
the schemas and value domains FIXTURES.md documents. The benchmark never
reads data from outside its checkout, so it builds these tables itself and
caches them under ``perfbench/.work/data``; the per-run ``--seed`` permutes
the order of operations, not the data, so every run checks against the same
oracle results.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
FORMAT_VERSION = 1

# Row counts per scale; "sf0.01" and "sf0.001" match the fixture tables of
# the same name (FIXTURES.md), whose shapes the oracles assume.
SCALES = {
    "sf0.01": dict(customer=1500, supplier=100, part=2000, orders=15000,
                   lineitem=60000, events=10000, documents=500, embeddings=500),
    "sf0.001": dict(customer=150, supplier=10, part=200, orders=1500,
                    lineitem=6000, events=1000, documents=500, embeddings=500),
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
P_ADJ = ["blue", "old", "small", "new", "hot", "large", "cold", "red"]
P_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "de", "es", "fr", "zh"]
WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()

_US_PER_DAY = 86_400_000_000


def _day_us(y: int, m: int, d: int) -> int:
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "us").astype(np.int64))


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> list[str]:
    return [values[i] for i in rng.choice(len(values), n, p=p)]


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document, as the dedup
            # operators expect to find
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    lang_p = [0.44, 0.14, 0.14, 0.14, 0.14]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": _pick(rng, LANGS, n, lang_p),
        "source": [f"src{j}" for j in rng.integers(0, 20, n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    v = rng.normal(size=(n, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(v.ravel(), pa.float32()), 64)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": emb.cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def make_tables(scale: str) -> dict[str, pa.Table]:
    n = SCALES[scale]
    rng = np.random.default_rng(DATA_SEED)
    c, s, p, o, li, ev = (n[k] for k in
                          ("customer", "supplier", "part", "orders", "lineitem", "events"))
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, c),
        "c_mktsegment": _pick(rng, SEGMENTS, c),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(s), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, s),
    })
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(p), pa.int64()),
        "p_name": [f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, p), rng.integers(0, 8, p))],
        "p_brand": [f"Brand#{j}" for j in rng.integers(1, 26, p)],
        "p_type": _pick(rng, P_TYPES, p),
        "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) * 0.1, 1),
    })
    d0, d1 = _day_us(1995, 1, 1), _day_us(2001, 8, 1)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, c, o), pa.int64()),
        "o_orderstatus": _pick(rng, ["O", "P", "F"], o),
        "o_totalprice": _money(rng, 1000.0, 500000.0, o),
        "o_orderdate": _ts(d0 + rng.integers(0, (d1 - d0) // _US_PER_DAY + 1, o) * _US_PER_DAY),
        "o_orderpriority": _pick(rng, PRIORITIES, o),
    })
    s0, s1 = _day_us(1995, 1, 2), _day_us(2001, 11, 4)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(np.sort(rng.integers(0, o, li)), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, p, li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, s, li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, li),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], li),
        "l_linestatus": _pick(rng, ["F", "O"], li),
        "l_shipdate": _ts(s0 + rng.integers(0, (s1 - s0) // _US_PER_DAY + 1, li) * _US_PER_DAY),
    })
    e0 = _day_us(2024, 1, 1)
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(ev), pa.int64()),
        "ts": _ts(e0 + np.sort(rng.integers(0, 30 * _US_PER_DAY, ev))),
        "user_id": pa.array(rng.integers(0, 150, ev), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, ev),
        "value": np.maximum(np.round(rng.exponential(50.0, ev), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ev)],
    })
    t["documents"] = _documents(rng, n["documents"])
    t["embeddings"] = _embeddings(rng, n["embeddings"])
    return t


def ensure_tables(root: str, scale: str) -> str:
    """Return a directory holding the tables for ``scale``, generating it
    once. The directory appears atomically (rename), so an interrupted run
    never leaves a partial table set behind for the next one."""
    final = os.path.join(root, f"{scale}-v{FORMAT_VERSION}")
    if os.path.isdir(final):
        return final
    os.makedirs(root, exist_ok=True)
    tmp = f"{final}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        for name, table in make_tables(scale).items():
            pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
        os.rename(tmp, final)
    except OSError:
        if not os.path.isdir(final):  # else another run generated them first
            raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return final
