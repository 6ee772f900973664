"""Deterministic synthetic analytics tables for the benchmark.

Writes the ten tables the operators read (a TPC-H-like star schema
plus ``events``, ``documents`` and ``embeddings``), one parquet file
each, with the column names, types, row counts and value shapes of
the seed-42 tables the correctness gate reads (README.md lists the
shapes measured on both). The generator seed is fixed: every benchmark seed sees the same
tables, so oracle answers and work per op do not move with it.
The benchmark seed only drives the HTTP fixture and the op order.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
# Bump when the generated data changes, so a cached copy is rebuilt.
VERSION = 2

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["red", "blue", "hot", "cold", "new", "old", "small", "large"]
_NOUN = ["bolt", "ring", "rod", "plate", "gear", "widget", "anvil", "nut"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
_WORDS = (
    "a the spark window merge table column vector stream value data small "
    "join filter big group hash customer sort order slow line part fast row "
    "agg key query scan batch"
).split()
_LANGS = ["en", "es", "zh", "de", "fr"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def _ts(days: np.ndarray, base: dt.datetime) -> pa.Array:
    us = (days * 86_400_000_000).astype("int64")
    return pa.array(us + int(base.timestamp() * 1_000_000), pa.timestamp("us"))


def _tables(sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(DATA_SEED)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_users, n_docs = int(1_000_000 * sf), int(15_000 * sf), int(50_000 * sf)
    n_emb = int(20_000 * sf)
    epoch = dt.datetime(1995, 1, 1, tzinfo=dt.timezone.utc)

    def money(lo: float, hi: float, n: int) -> np.ndarray:
        return np.round(rng.uniform(lo, hi, n), 2)

    def pick(values: list[str], n: int) -> list[str]:
        return [values[i] for i in rng.integers(0, len(values), n)]

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype="int64"),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": pick(_SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype="int64"),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
            "s_acctbal": money(-999.99, 9999.99, n_supp),
        }
    )
    t["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype="int64"),
            "p_name": [
                f"{_ADJ[a]} {_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": pick(_PTYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype("int32"),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype="int64"),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
            "o_orderstatus": pick(["O", "F", "P"], n_ord),
            "o_totalprice": money(1000.0, 500_000.0, n_ord),
            "o_orderdate": _ts(rng.integers(0, 2405, n_ord), epoch),
            "o_orderpriority": pick(_PRIORITIES, n_ord),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line).astype("int64"),
            "l_partkey": rng.integers(0, n_part, n_line).astype("int64"),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype("int64"),
            "l_linenumber": rng.integers(1, 8, n_line).astype("int32"),
            "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
            # Whole-dollar prices keep ``price * (1 - discount)`` at two
            # decimals, so rounded revenue sums never sit on a rounding
            # tie that summation order could flip between engines.
            "l_extendedprice": rng.integers(900, 105_000, n_line).astype("float64"),
            "l_discount": np.round(rng.uniform(0.0, 0.10, n_line), 2),
            "l_tax": np.round(rng.uniform(0.0, 0.08, n_line), 2),
            "l_returnflag": pick(["A", "N", "R"], n_line),
            "l_linestatus": pick(["O", "F"], n_line),
            "l_shipdate": _ts(rng.integers(1, 2500, n_line), epoch),
        }
    )
    month_us = 30 * 86_400_000_000
    ev_us = np.sort(rng.integers(0, month_us, n_ev))
    ev_base = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp() * 1e6)
    t["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype="int64"),
            "ts": pa.array(ev_us + ev_base, pa.timestamp("us")),
            "user_id": rng.integers(0, n_users, n_ev).astype("int64"),
            "event_type": pick(_EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
        }
    )
    # 5% of documents are another document (earlier or later) plus one
    # extra word: the near duplicates the dedup operators look for.
    base = [
        " ".join(_WORDS[w] for w in rng.integers(0, len(_WORDS), int(rng.integers(10, 100))))
        for _ in range(n_docs)
    ]
    texts = [
        base[int(rng.integers(0, n_docs))] + " dup" if rng.random() < 0.05 else text
        for text in base
    ]
    t["documents"] = pa.table(
        {
            "doc_id": np.arange(n_docs, dtype="int64"),
            "text": texts,
            "lang": [_LANGS[i] for i in rng.choice(len(_LANGS), n_docs, p=_LANG_P)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(s) for s in texts], dtype="int64"),
        }
    )
    vecs = rng.normal(size=(n_emb, 64)).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_emb, dtype="int64"),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n_emb).astype("int32"),
        }
    )
    return t


def ensure_tables(root: str, sf: float) -> str:
    """Directory of the tables at ``sf`` under ``root``, generating it
    on first use. The write goes to a temporary sibling that is renamed
    into place, so an interrupted run never leaves half a data set."""
    out = os.path.join(root, f"sf{sf:g}-v{VERSION}")
    if os.path.isdir(out):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in _tables(sf).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    os.rename(tmp, out)
    return out
