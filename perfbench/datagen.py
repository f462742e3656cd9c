"""Seeded input tables for the benchmark, written as single parquet files.

The tables have the schemas ``workbench_spark`` reads (a TPC-H-like star
schema plus ``events``, ``documents`` and ``embeddings``), with 0-based
keys, 4 lines per order on average, a near-duplicate tier in documents and
embeddings, and dates over 1995-2001. They are generated with NumPy, not
with the engine under test, so a change to the engine cannot change its
own inputs. The same ``(sf, seed)`` always gives the same bytes.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# rows per unit of scale factor; sf=0.01 matches the shipped sf0.01 sizes
ROWS_PER_SF = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 50_000,
}
VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
PART_ADJ = ["small", "red", "blue", "hot", "old", "large", "new", "cold"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
PART_TYPES = ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"]
LANGS = ["en", "zh", "es", "fr", "de"]

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = 788_918_400 * 1_000_000  # 1995-01-01 UTC, microseconds
_EPOCH_2024 = 1_704_067_200 * 1_000_000  # 2024-01-01 UTC, microseconds


def _n(name: str, sf: float) -> int:
    return max(int(round(ROWS_PER_SF[name] * sf)), 8)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def build_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """All ten tables at scale factor ``sf`` from one seeded generator."""
    rng = np.random.default_rng(seed)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), type=pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), type=pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, type=pa.int32()),
    })
    n_cust = _n("customer", sf)
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), type=pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    n_supp = _n("supplier", sf)
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), type=pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    n_part = _n("part", sf)
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": _pick(rng, names, n_part),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), type=pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
    })

    n_ord = _n("orders", sf)
    lines = rng.integers(1, 8, n_ord)  # 1..7 lines per order, mean 4
    l_ok = np.repeat(np.arange(n_ord, dtype="int64"), lines)
    n_li = len(l_ok)
    starts = np.cumsum(lines) - lines
    l_ln = (np.arange(n_li) - np.repeat(starts, lines) + 1).astype("int32")
    l_pk = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype("float64")
    price = 900.0 + (l_pk % 1000) / 10.0
    l_sk = (l_pk + rng.integers(0, 4, n_li) * (n_supp // 4)) % n_supp
    o_date = _EPOCH_1995 + rng.integers(0, 2400, n_ord) * _DAY_US
    t["lineitem"] = pa.table({
        "l_orderkey": l_ok,
        "l_partkey": l_pk.astype("int64"),
        "l_suppkey": l_sk.astype("int64"),
        "l_linenumber": pa.array(l_ln, type=pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price, 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["O", "F"], n_li),
        "l_shipdate": _ts(np.repeat(o_date, lines) + rng.integers(1, 122, n_li) * _DAY_US),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2),
        "o_orderdate": _ts(o_date),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })

    n_ev = _n("events", sf)
    n_users = max(n_ev // 66, 1)
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": _ts(np.sort(_EPOCH_2024 + rng.integers(0, 30 * _DAY_US, n_ev))),
        "user_id": rng.integers(0, n_users, n_ev).astype("int64"),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": rng.integers(1, 56_022, n_ev) / 100.0,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })

    n_doc = _n("documents", sf)
    vocab = np.asarray(VOCAB, dtype=object)
    texts: list[str] = []
    for i in range(n_doc):
        if i % 20 == 19:  # near-duplicate of the previous document
            words = texts[-1].split(" ")
            j = int(rng.integers(0, len(words)))
            words[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        else:
            words = list(vocab[rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))])
        texts.append(" ".join(words))
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype="int64"),
        "text": texts,
        "lang": _pick(rng, LANGS, n_doc),
        "source": _pick(rng, [f"src{i}" for i in range(20)], n_doc),
        "n_chars": np.asarray([len(x) for x in texts], dtype="int64"),
    })

    n_emb = _n("embeddings", sf)
    vecs = rng.normal(size=(n_emb, 64))
    twins = np.arange(n_emb) % 20 == 19  # near-twin of the previous vector
    vecs[twins] = vecs[np.flatnonzero(twins) - 1] + rng.normal(scale=0.05, size=(twins.sum(), 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype="int64"),
        "embedding": pa.array(list(vecs.astype("float32")), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), type=pa.int32()),
    })
    return t


def write_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write every table as ``{out_dir}/{name}.parquet``; return row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in build_tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
