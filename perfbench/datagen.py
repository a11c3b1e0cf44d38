"""Deterministic TPC-H-ish input tables for the benchmark.

Writes the ten parquet tables ``grafeo_spark.catalog.load_tables`` reads
(region, nation, customer, supplier, part, orders, lineitem, events,
documents, embeddings), with the same column names and types as the
TPC-H-ish tables the test suite uses. The data depends only on ``DATA_SEED``
and the row counts below, never on the workload seed: the workload seed
picks query parameters and operation order, the tables stay fixed.

Row counts are those of the sf0.1 test tables: 15k customers, 150k
orders, ~600k lineitems, 20k parts, 1k suppliers, 100k events, 5k
documents and 2k embeddings. The graph fits in memory. The files are
written once per checkout and reused.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
VERSION = "v3"

N_CUSTOMER = 15_000
N_SUPPLIER = 1_000
N_PART = 20_000
N_ORDER = 150_000
N_EVENT = 100_000
N_USER = 1_000
N_DOC = 5_000
N_EMB = 2_000
EMB_DIM = 64
EMB_CLUSTERS = 10

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_DAY_US = 86_400_000_000
_EPOCH_1995 = 788_918_400_000_000  # 1995-01-01 in µs


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _documents(rng: np.random.Generator) -> pa.Table:
    """Random word documents over a 31-word vocabulary, with planted
    near-duplicates (a copy with a few words changed), exact duplicates,
    and a few documents quoting a 16-word run of documents 0-2 (the
    decontamination entry's 'benchmark' texts)."""
    texts: list[str] = []
    for i in range(N_DOC):
        r = rng.random()
        if i >= 10 and r < 0.03:
            src = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(1, 3))):
                src[int(rng.integers(0, len(src)))] = "dup"
            texts.append(" ".join(src))
        elif i >= 10 and r < 0.032:
            texts.append(texts[int(rng.integers(0, i))])
        elif i >= 10 and r < 0.034:
            src = texts[int(rng.integers(0, 3))].split()
            start = int(rng.integers(0, max(1, len(src) - 16)))
            words = list(rng.choice(VOCAB, int(rng.integers(10, 40))))
            texts.append(" ".join(words + src[start : start + 16]))
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(rng.choice(VOCAB, n)))
    return pa.table({
        "doc_id": pa.array(np.arange(N_DOC), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[int(x)] for x in rng.integers(0, len(LANGS), N_DOC)]),
        "source": pa.array([f"src{i % 20}" for i in range(N_DOC)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator) -> pa.Table:
    """L2-normalised 64-d vectors around ten loose cluster centres."""
    centres = rng.normal(size=(EMB_CLUSTERS, EMB_DIM))
    label = rng.integers(0, EMB_CLUSTERS, N_EMB)
    vecs = centres[label] * 0.5 + rng.normal(size=(N_EMB, EMB_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(N_EMB), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })


def build_tables() -> dict[str, pa.Table]:
    rng = np.random.default_rng(DATA_SEED)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(N_CUSTOMER), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(N_CUSTOMER)]),
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, N_CUSTOMER)),
        "c_mktsegment": pa.array([SEGMENTS[i] for i in rng.integers(0, 5, N_CUSTOMER)]),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(N_SUPPLIER), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(N_SUPPLIER)]),
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, N_SUPPLIER)),
    })
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(N_PART), pa.int64()),
        "p_name": pa.array([
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, N_PART), rng.integers(0, 8, N_PART))
        ]),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, N_PART)]),
        "p_type": pa.array([PART_TYPES[i] for i in rng.integers(0, 6, N_PART)]),
        "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
        "p_retailprice": pa.array(np.round(900 + (np.arange(N_PART) % 1000) * 0.1, 2)),
    })
    odate = _EPOCH_1995 + rng.integers(0, 2400, N_ORDER) * _DAY_US
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(N_ORDER), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDER), pa.int64()),
        "o_orderstatus": pa.array([["F", "O", "P"][i] for i in rng.integers(0, 3, N_ORDER)]),
        "o_totalprice": pa.array(_money(rng, 1000, 500000, N_ORDER)),
        "o_orderdate": _ts(odate),
        "o_orderpriority": pa.array([PRIORITIES[i] for i in rng.integers(0, 5, N_ORDER)]),
    })
    lines = rng.integers(1, 8, N_ORDER)
    n_li = int(lines.sum())
    l_order = np.repeat(np.arange(N_ORDER), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    qty = rng.integers(1, 51, n_li).astype(float)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, N_PART, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, n_li), pa.int64()),
        "l_linenumber": pa.array(np.arange(n_li) - starts + 1, pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2000, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array([["A", "N", "R"][i] for i in rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array([["F", "O"][i] for i in rng.integers(0, 2, n_li)]),
        "l_shipdate": _ts(odate[l_order] + rng.integers(1, 122, n_li) * _DAY_US),
    })
    ev_ts = np.sort(_EPOCH_1995 + 3287 * _DAY_US + rng.integers(0, 30 * _DAY_US, N_EVENT))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(N_EVENT), pa.int64()),
        "ts": _ts(ev_ts),
        "user_id": pa.array(rng.integers(0, N_USER, N_EVENT), pa.int64()),
        "event_type": pa.array([EVENT_TYPES[i] for i in rng.integers(0, 5, N_EVENT)]),
        "value": pa.array(np.round(rng.exponential(50, N_EVENT), 2)),
        "props": pa.array([f'{{"k": {i}}}' for i in rng.integers(0, 100, N_EVENT)]),
    })
    t["documents"] = _documents(rng)
    t["embeddings"] = _embeddings(rng)
    return t


def ensure_data(work_dir: str) -> str:
    """Write the tables under ``work_dir`` unless already there; returns
    the directory holding ``<table>.parquet``."""
    out = os.path.join(work_dir, f"data-{VERSION}")
    done = os.path.join(out, "_DONE")
    if os.path.exists(done):
        return out
    os.makedirs(out, exist_ok=True)
    for name, table in build_tables().items():
        tmp = os.path.join(out, f"{name}.parquet.tmp")
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(out, f"{name}.parquet"))
    with open(done, "w") as f:
        f.write(VERSION + "\n")
    return out
