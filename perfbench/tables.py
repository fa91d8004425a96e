"""Seeded synthetic input for the analytics queries: the ten tables the
query contracts read (a TPC-H-like star schema, an ``events`` stream,
``documents`` and ``embeddings``), with the same column names and types
and similar value ranges at about 1/300 of TPC-H scale factor 1.

Documents are drawn from a small vocabulary, and every tenth one is a
near-copy of an earlier document, so the dedup and similarity queries
find real candidate pairs; every tenth embedding is likewise a noisy copy
of an earlier vector. The copies sit at fixed positions, so every seed
gives the queries about the same amount of work.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SIZES = {
    "customer": 1_000,
    "supplier": 100,
    "part": 1_000,
    "orders": 5_000,
    "lineitem": 20_000,
    "events": 4_000,
    "documents": 200,
    "embeddings": 200,
}
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window dup"
).split()
COLORS = "blue red green black white pink hot large".split()
NOUNS = "anvil bolt ring widget gear nut pipe spring".split()
DAY_US = 86_400_000_000


def _ts(days_from_epoch: np.ndarray) -> pa.Array:
    return pa.array(days_from_epoch.astype(np.int64) * DAY_US, pa.timestamp("us"))


def _day(y: int, m: int, d: int) -> int:
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}").astype("datetime64[D]").astype(np.int64))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n: int) -> pa.Table:
    texts = []
    for i in range(n):
        if i % 10 == 9:
            words = texts[rng.integers(0, i)].split()
            for _ in range(rng.integers(0, 4)):  # 0 edits: an exact copy
                words[rng.integers(0, len(words))] = VOCAB[rng.integers(0, 30)]
        else:
            words = [VOCAB[k] for k in rng.integers(0, 30, rng.integers(10, 100))]
            if rng.random() < 0.05:
                words.append("dup")
        texts.append(" ".join(words))
    langs = rng.choice(["en", "zh", "es", "de", "fr"], n, p=[0.44, 0.15, 0.15, 0.13, 0.13])
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n: int) -> pa.Table:
    vecs = rng.normal(0, 1, (n, 64))
    for i in range(9, n, 10):
        vecs[i] = vecs[rng.integers(0, i)] + rng.normal(0, 0.05, 64)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(vecs.astype(np.float32).tolist(), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def generate(seed: int, out_dir: str) -> str:
    """Write every table as ``<out_dir>/<name>.parquet``; returns out_dir."""
    rng = np.random.default_rng([seed % 2**63, 0x7AB1E5])
    n = SIZES
    os.makedirs(out_dir, exist_ok=True)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    c = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, c),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], c),
    })
    s = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(s), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, s),
    })
    p = n["part"]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(p), pa.int64()),
        "p_name": [f"{COLORS[a]} {NOUNS[b]}" for a, b in
                   zip(rng.integers(0, 8, p), rng.integers(0, 8, p))],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, p)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], p),
        "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(p) % 1000) / 10, 1),
    })
    o = n["orders"]
    t0, t1 = _day(1995, 1, 1), _day(2001, 8, 1)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, c, o), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], o),
        "o_totalprice": _money(rng, 1000, 500_000, o),
        "o_orderdate": _ts(rng.integers(t0, t1 + 1, o)),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], o),
    })
    li = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, o, li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, p, li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, s, li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, li),
        "l_discount": rng.integers(0, 11, li) / 100,
        "l_tax": rng.integers(0, 9, li) / 100,
        "l_returnflag": rng.choice(["A", "N", "R"], li),
        "l_linestatus": rng.choice(["F", "O"], li),
        "l_shipdate": _ts(rng.integers(t0 + 1, _day(2001, 11, 4) + 1, li)),
    })
    e = n["events"]
    start = _day(2024, 1, 1) * DAY_US
    ts = np.sort(rng.integers(start, start + 30 * DAY_US, e))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(e), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, e), pa.int64()),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], e),
        "value": _money(rng, 0.01, 490.0, e),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
    })
    t["documents"] = _documents(rng, n["documents"])
    t["embeddings"] = _embeddings(rng, n["embeddings"])
    for name, table in t.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
