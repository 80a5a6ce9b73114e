"""Seeded generator for the tables the analytics workload reads.

The tables have the names, column types and value shapes of the engine's
synthetic testdata at sf0.01 (TPC-H-like star schema and an ``events``
stream table), so every op and its DuckDB oracle run unchanged on them.
The text and vector tables follow what that testdata holds, as measured
on its sf0.01 files: 500 ``documents`` over the same 30-word vocabulary,
10-99 words each (uniform), language shares 0.436 / 0.150 / 0.146 /
0.128 / 0.140 (en, zh, es, fr, de), exactly 5 % of them a copy of another
document with `` dup`` appended; 500 isotropic unit-norm 64-dim
``embeddings`` with a uniform label in 0-9 that does not cluster them.
Row counts scale linearly with ``sf`` (``sf=0.01`` gives 60k lineitem
rows); the document and embedding counts are set on their own, as in the
testdata.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast the row "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.436, 0.150, 0.146, 0.128, 0.140)
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
PART_ADJ = ("large", "hot", "blue", "old", "red", "small", "green", "shiny")
PART_NOUN = ("ring", "bolt", "plate", "gear", "nut", "pipe", "valve", "screw")
PART_TYPES = ("LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("signup", "purchase", "view", "click", "error")
DUP_SHARE = 0.05


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Uniform doubles with exactly two decimals in [lo, hi]."""
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _days(rng: np.random.Generator, first: str, last: str, n: int) -> pa.Array:
    lo, hi = np.datetime64(first, "D"), np.datetime64(last, "D")
    days = lo + rng.integers(0, (hi - lo).astype(int) + 1, n).astype("timedelta64[D]")
    return pa.array(days.astype("datetime64[us]"))


def _choice(rng: np.random.Generator, values, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    lengths = rng.integers(10, 100, n)
    words = np.asarray(VOCAB, dtype=object)[rng.integers(0, len(VOCAB), int(lengths.sum()))]
    texts, pos = [], 0
    for k in lengths:
        texts.append(" ".join(words[pos:pos + k]))
        pos += k
    is_dup = np.zeros(n, dtype=bool)
    is_dup[rng.choice(n, round(DUP_SHARE * n), replace=False)] = True
    bases = np.flatnonzero(~is_dup)
    for i in np.flatnonzero(is_dup):
        texts[i] = texts[int(rng.choice(bases))] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _choice(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    vecs = rng.normal(size=(n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def tables(seed: int, sf: float, n_docs: int, n_vecs: int) -> dict[str, pa.Table]:
    """Build every table in memory; the same arguments give the same bytes."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord, n_line = int(200_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    n_events, n_users = int(1_000_000 * sf), 1500
    i32, i64 = np.int32, np.int64
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=i32)),
            "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=i32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25, dtype=i32) % 5),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust, dtype=i64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(i32)),
            "c_acctbal": pa.array(_cents(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": _choice(rng, SEGMENTS, n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp, dtype=i64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(i32)),
            "s_acctbal": pa.array(_cents(rng, -999.99, 9999.99, n_supp)),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part, dtype=i64)),
            "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                                rng.integers(0, 8, (n_part, 2))]),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": _choice(rng, PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(i32)),
            "p_retailprice": pa.array((9000 + np.arange(n_part) % 1000) / 10.0),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord, dtype=i64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(i64)),
            "o_orderstatus": _choice(rng, ("F", "O", "P"), n_ord),
            "o_totalprice": pa.array(_cents(rng, 1000.0, 500_000.0, n_ord)),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
            "o_orderpriority": _choice(rng, PRIORITIES, n_ord),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line).astype(i64)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line).astype(i64)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line).astype(i64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(i32)),
            "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
            "l_extendedprice": pa.array(_cents(rng, 900.0, 105_000.0, n_line)),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
            "l_returnflag": _choice(rng, ("N", "R", "A"), n_line),
            "l_linestatus": _choice(rng, ("F", "O"), n_line),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line),
        }),
    }
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offsets = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_events))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_events, dtype=i64)),
        "ts": pa.array(start + offsets.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, n_users, n_events).astype(i64)),
        "event_type": _choice(rng, EVENT_TYPES, n_events),
        "value": pa.array((np.floor(rng.exponential(5000.0, n_events)) + 1) / 100.0),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
    })
    out["documents"] = _documents(rng, n_docs)
    out["embeddings"] = _embeddings(rng, n_vecs)
    return out


def write(out_dir: str, seed: int, sf: float, n_docs: int, n_vecs: int) -> str:
    """Write every table as ``<out_dir>/<name>.parquet``; returns out_dir."""
    os.makedirs(out_dir)
    for name, t in tables(seed, sf, n_docs, n_vecs).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
