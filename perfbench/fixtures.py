"""Deterministic synthetic corpus for the benchmark.

Writes the ten tables the engine reads (``recommend_spark.io.TABLES``)
as one parquet file each, with the column names and physical types of
the TPC-H-ish star schema, the ``events`` stream table, the text corpus
and the unit-norm embedding table.  The corpus is fixed: it is generated
from ``CORPUS_SEED`` and a scale factor, never from the benchmark's
``--seed``, so every run of one scale reads identical bytes and the
workload seed only changes what the benchmark does with them.
"""

from __future__ import annotations

import os
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CORPUS_SEED = 42

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PRIOS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENTS = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en"] * 4 + ["de", "es", "fr", "zh"] * 2
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def _ts(rng, lo: str, hi: str, n: int, unit: str = "D") -> np.ndarray:
    lo64, hi64 = np.datetime64(lo, unit), np.datetime64(hi, unit)
    span = int((hi64 - lo64) / np.timedelta64(1, unit))
    return lo64 + rng.integers(0, span + 1, n).astype(f"timedelta64[{unit}]")


def tables(sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(CORPUS_SEED)
    n_cust, n_supp = max(150, int(150_000 * sf)), max(10, int(10_000 * sf))
    n_part, n_ord = max(200, int(200_000 * sf)), max(1500, int(1_500_000 * sf))
    n_li, n_ev = 4 * n_ord, max(1000, int(1_000_000 * sf))
    n_users, n_docs, dim = max(15, n_cust // 10), 500, 64
    out: dict[str, pa.Table] = {}
    i32 = lambda a: pa.array(np.asarray(a, dtype=np.int32))  # noqa: E731
    i64 = lambda a: pa.array(np.asarray(a, dtype=np.int64))  # noqa: E731
    money = lambda a: np.round(a, 2)  # noqa: E731
    out["region"] = pa.table({"r_regionkey": i32(range(5)), "r_name": _REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": i32(range(25)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": i32(np.arange(25) % 5),
    })
    out["customer"] = pa.table({
        "c_custkey": i64(range(n_cust)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": i32(rng.integers(0, 25, n_cust)),
        "c_acctbal": money(rng.uniform(-999.99, 9999.99, n_cust)),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
    })
    out["supplier"] = pa.table({
        "s_suppkey": i64(range(n_supp)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": i32(rng.integers(0, 25, n_supp)),
        "s_acctbal": money(rng.uniform(-999.99, 9999.99, n_supp)),
    })
    names = [f"{a} {b}" for a in _ADJ for b in _NOUN]
    out["part"] = pa.table({
        "p_partkey": i64(range(n_part)),
        "p_name": rng.choice(names, n_part),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_PTYPES, n_part),
        "p_size": i32(rng.integers(1, 51, n_part)),
        "p_retailprice": money(900 + (np.arange(n_part) % 1000) / 10),
    })
    out["orders"] = pa.table({
        "o_orderkey": i64(range(n_ord)),
        "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": money(rng.uniform(1000, 500_000, n_ord)),
        "o_orderdate": pa.array(_ts(rng, "1995-01-01", "2001-08-01", n_ord).astype("datetime64[us]")),
        "o_orderpriority": rng.choice(_PRIOS, n_ord),
    })
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": i64(rng.integers(0, n_ord, n_li)),
        "l_partkey": i64(rng.integers(0, n_part, n_li)),
        "l_suppkey": i64(rng.integers(0, n_supp, n_li)),
        "l_linenumber": i32(rng.integers(1, 8, n_li)),
        "l_quantity": qty,
        "l_extendedprice": money(qty * rng.uniform(900, 2100, n_li)),
        "l_discount": rng.integers(0, 11, n_li) / 100,
        "l_tax": rng.integers(0, 9, n_li) / 100,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": pa.array(_ts(rng, "1995-01-02", "2001-11-04", n_li).astype("datetime64[us]")),
    })
    ts = np.sort(_ts(rng, "2024-01-01", "2024-01-30T23:59:59", n_ev, "us"))
    out["events"] = pa.table({
        "event_id": i64(range(n_ev)),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": i64(rng.integers(0, n_users, n_ev)),
        "event_type": rng.choice(_EVENTS, n_ev),
        "value": money(rng.exponential(60, n_ev) + 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = []
    for i in range(n_docs):
        if i % 25 == 24:  # planted near-duplicate of an earlier document
            toks = texts[i - 24 + i % 7].split()
            toks[rng.integers(0, len(toks))] = "dup"
        else:
            toks = list(rng.choice(_WORDS, rng.integers(10, 100)))
        texts.append(" ".join(toks))
    out["documents"] = pa.table({
        "doc_id": i64(range(n_docs)),
        "text": texts,
        "lang": rng.choice(_LANGS, n_docs),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": i64([len(t) + int(d) for t, d in zip(texts, rng.integers(-5, 6, n_docs))]),
    })
    emb = rng.standard_normal((n_docs, dim)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": i64(range(n_docs)),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": i32(rng.integers(0, 10, n_docs)),
    })
    return out


def ensure(root: Path, sf: float) -> str:
    """Write the corpus for ``sf`` under ``root`` once; return its dir."""
    d = root / f"sf{sf}"
    if (d / "_DONE").exists():
        return str(d)
    d.mkdir(parents=True, exist_ok=True)
    for name, tb in tables(sf).items():
        tmp = d / f".{name}.{os.getpid()}.tmp"
        pq.write_table(tb, tmp)
        os.replace(tmp, d / f"{name}.parquet")
    (d / "_DONE").touch()
    return str(d)
