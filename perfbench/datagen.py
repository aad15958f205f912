"""Deterministic synthetic fixture tables for the benchmark.

Writes the ten tables the query registry reads (``region nation customer
supplier part orders lineitem events documents embeddings``), one
``<name>.parquet`` file each, with the schemas and value ranges described
in FIXTURES.md.  Row counts and value distributions follow the fixture
tables the repository's tests read: the TPC-H-shaped tables scale with
``sf`` (lineitem ~ 6,000,000 x sf); documents and embeddings keep 500
rows up to sf0.01 and reach 5,000 and 2,000 at sf0.1.

The data depends only on ``sf`` and the fixed ``DATA_SEED``; the workload
seed changes item order, never the data, so the expected output digests in
``expected.json`` hold for every workload seed.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
GENERATOR_VERSION = 2  # bump when the generated bytes change

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
VOCAB = (
    "a the column data hash window spark part join batch key order query "
    "big table small scan filter line value slow fast stream sort row "
    "vector group merge agg customer dup"
).split()
EMB_DIM = 64


def _ts(base: dt.datetime, micros: np.ndarray) -> pa.Array:
    epoch = int((base - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000)
    return pa.array(epoch + micros.astype(np.int64), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def make_tables(sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(DATA_SEED)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_li = max(6_000, int(6_000_000 * sf))
    n_ev = max(1_000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -1000, 10000, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -1000, 10000, n_supp),
    })
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
    })

    day_us = 86_400 * 1_000_000
    order_span = (dt.datetime(2001, 8, 1) - dt.datetime(1995, 1, 1)).days
    order_day = rng.integers(0, order_span + 1, n_ord)
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _ts(dt.datetime(1995, 1, 1), order_day * day_us),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    l_ok = rng.integers(0, n_ord, n_li).astype(np.int64)
    ship_day = order_day[l_ok] + rng.integers(1, 96, n_li)
    t["lineitem"] = pa.table({
        "l_orderkey": l_ok,
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n_li),
        "l_discount": np.round(rng.uniform(0, 0.1, n_li), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, n_li), 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(dt.datetime(1995, 1, 1), ship_day * day_us),
    })

    ev_us = np.sort(rng.integers(0, 30 * day_us, n_ev))
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(dt.datetime(2024, 1, 1), ev_us),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })

    # 10-99 uniformly drawn words.  As in the fixtures, about 1 document in
    # 20 is a near-duplicate of an earlier one: its last one or two words
    # dropped, or one word appended (3-shingle Jaccard 0.9-0.99; two edits
    # of the same document can coincide, which makes an exact duplicate).
    texts: list[str] = []
    for i in range(n_docs):
        if i and rng.random() < 0.05:
            words = texts[int(rng.integers(0, i))].split()
            edit = (-2, -1, 1)[int(rng.integers(0, 3))]
            words = words[:edit] if edit < 0 else [*words, VOCAB[int(rng.integers(0, len(VOCAB)))]]
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(VOCAB[k] for k in rng.integers(0, len(VOCAB), rng.integers(10, 100))))
    t["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_docs, p=[0.4, 0.15, 0.15, 0.15, 0.15])],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })

    # unit Gaussian vectors; the label is drawn independently of the vector
    labels = rng.integers(0, 10, n_emb)
    vecs = rng.normal(size=(n_emb, EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    return t


def ensure_dataset(root: str, sf: float) -> str:
    """Return ``<root>/sf<sf>``, generating it first if absent.  The
    directory is built under a temporary name and renamed into place, so
    an interrupted generation never leaves a partial dataset behind."""
    out = os.path.join(root, f"v{GENERATOR_VERSION}", f"sf{sf:g}")
    if os.path.isdir(out):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in make_tables(sf).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    os.replace(tmp, out)
    return out
