"""Seeded generator of the spine's input tables.

Same table names, schemas and value domains as the repository's test
tables (FIXTURES.md part B), at scale factor ``sf``: lineitem ≈ 6M × sf
rows. The same (seed, sf) always gives the same files.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ("en", "de", "es", "fr", "zh")
_LANG_P = (0.41, 0.14, 0.15, 0.15, 0.15)
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PART_ADJ = ("large", "hot", "blue", "old", "red", "small", "new", "green")
_PART_NOUN = ("ring", "bolt", "plate", "nut", "gear", "pipe", "valve", "screw")
_PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")


def _days(rng, n: int, lo: dt.date, hi: dt.date) -> pa.Array:
    base = np.datetime64(lo.isoformat(), "us")
    span = (hi - lo).days
    days = rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(base + days.astype("timedelta64[us]"), pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _choice(rng, options, n: int, p=None) -> pa.Array:
    idx = rng.choice(len(options), n, p=p)
    return pa.array(np.asarray(options, dtype=object)[idx])


def _documents(rng, n: int) -> pa.Table:
    words = np.asarray(_WORDS, dtype=object)
    texts = []
    for _ in range(n):
        texts.append(" ".join(words[rng.integers(0, len(words), rng.integers(10, 101))]))
    # exact and near duplicates so the dedup queries find pairs
    for i in rng.choice(np.arange(1, n), max(1, n // 50), replace=False):
        src = texts[int(rng.integers(0, i))]
        if rng.random() < 0.3:
            texts[i] = src
        else:
            toks = src.split()
            toks[int(rng.integers(0, len(toks)))] = "dup"
            texts[i] = " ".join(toks)
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": pa.array(texts),
        "lang": _choice(rng, _LANGS, n, _LANG_P),
        "source": pa.array([f"src{i % 20}" for i in ids]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n: int) -> pa.Table:
    v = rng.normal(size=(n, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def _events(rng, n: int) -> pa.Table:
    gaps = rng.exponential(26.0, n)
    micros = np.cumsum(np.round(gaps * 1e6)).astype(np.int64)
    base = np.datetime64("2024-01-01T00:00:00", "us")
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(base + micros.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": rng.integers(0, 1500, n).astype(np.int64),
        "event_type": _choice(rng, _EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, int(round(sf * 1e6))])
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_docs = 500 if sf <= 0.01 else int(50_000 * sf)
    n_emb = 500 if sf <= 0.01 else int(20_000 * sf)
    cust = np.arange(n_cust, dtype=np.int64)
    supp = np.arange(n_supp, dtype=np.int64)
    part = np.arange(n_part, dtype=np.int64)
    noun = rng.integers(0, len(_PART_NOUN), n_part)
    adj = rng.integers(0, len(_PART_ADJ), n_part)
    return {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(_REGIONS),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": cust,
            "c_name": pa.array([f"Customer#{i:09d}" for i in cust]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": _choice(rng, _SEGMENTS, n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": supp,
            "s_name": pa.array([f"Supplier#{i:09d}" for i in supp]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        }),
        "part": pa.table({
            "p_partkey": part,
            "p_name": pa.array([f"{_PART_ADJ[a]} {_PART_NOUN[b]}" for a, b in zip(adj, noun)]),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": _choice(rng, _PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (part % 1000) / 10.0, 2),
        }),
        "orders": pa.table({
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": _choice(rng, ("O", "F", "P"), n_ord),
            "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
            "o_orderdate": _days(rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
            "o_orderpriority": _choice(rng, _PRIORITIES, n_ord),
        }),
        "lineitem": pa.table({
            "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, n_line, 900.0, 105000.0),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": _choice(rng, ("N", "R", "A"), n_line),
            "l_linestatus": _choice(rng, ("F", "O"), n_line),
            "l_shipdate": _days(rng, n_line, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
        }),
        "events": _events(rng, n_ev),
        "documents": _documents(rng, n_docs),
        "embeddings": _embeddings(rng, n_emb),
    }


def write(seed: int, sf: float, out_dir: str) -> str:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
