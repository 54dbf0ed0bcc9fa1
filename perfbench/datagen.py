"""Seeded generator for the benchmark's input tables.

Writes the ten tables that ``vega_spark.tables.TABLE_NAMES`` names, one
parquet file each, with the column names, types and value domains of
the engine's synthetic TPC-H-ish star schema. Row counts scale with
``sf`` as TPC-H rows do (sf 0.01 has 60k lineitem rows). The same
``(seed, sf)`` always gives the same files.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
ADJ = "blue cold hot large new old red small".split()
NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

_DAY_US = 86_400 * 10**6


def _epoch_us(y: int, m: int, d: int) -> int:
    return int((datetime(y, m, d) - datetime(1970, 1, 1)).total_seconds()) * 10**6


def _pick(rng, values, n):
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, n_days, n):
    us = _epoch_us(*start) + rng.integers(0, n_days, n) * _DAY_US
    return pa.array(us, pa.timestamp("us"))


def _keys(n, typ=pa.int64()):
    return pa.array(np.arange(n), typ)


def _named(prefix, n):
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def _documents(rng, n):
    """Word-salad documents over a 31-word vocabulary, with a share of
    near-duplicates (an earlier document with ``dup`` appended) and a
    few exact copies, so the dedup family has pairs to find."""
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.06:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.062:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(8, 100))
            texts.append(" ".join(np.asarray(WORDS)[rng.integers(0, len(WORDS), k)]))
    return pa.table({
        "doc_id": _keys(n),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n, dim=64, labels=10):
    centers = rng.normal(0, 1, (labels, dim))
    label = rng.integers(0, labels, n)
    x = rng.normal(0, 1, (n, dim)) + 0.6 * centers[label]
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": _keys(n),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 100)
    n_ord = max(int(1_500_000 * sf), 500)
    n_line = max(int(6_000_000 * sf), 2_000)
    n_evt = max(int(1_000_000 * sf), 1_000)
    n_user = max(int(15_000 * sf), 10)
    n_doc = max(int(50_000 * sf), 200)
    n_emb = max(int(20_000 * sf), 200)

    ts = np.sort(rng.integers(0, 30 * _DAY_US, n_evt)) + _epoch_us(2024, 1, 1)
    return {
        "region": pa.table({"r_regionkey": _keys(5, pa.int32()),
                            "r_name": pa.array(REGIONS)}),
        "nation": pa.table({
            "n_nationkey": _keys(25, pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())}),
        "customer": pa.table({
            "c_custkey": _keys(n_cust),
            "c_name": _named("Customer", n_cust),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust)}),
        "supplier": pa.table({
            "s_suppkey": _keys(n_supp),
            "s_name": _named("Supplier", n_supp),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)}),
        "part": pa.table({
            "p_partkey": _keys(n_part),
            "p_name": pa.array([f"{ADJ[a]} {NOUN[b]}" for a, b in
                                rng.integers(0, 8, (n_part, 2))]),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": _pick(rng, P_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1)}),
        "orders": pa.table({
            "o_orderkey": _keys(n_ord),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000, 500_000, n_ord),
            "o_orderdate": _days(rng, (1995, 1, 1), 2404, n_ord),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord)}),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105_000, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100,
            "l_tax": rng.integers(0, 9, n_line) / 100,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
            "l_linestatus": _pick(rng, ["F", "O"], n_line),
            "l_shipdate": _days(rng, (1995, 1, 2), 2499, n_line)}),
        "events": pa.table({
            "event_id": _keys(n_evt),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_user, n_evt), pa.int64()),
            "event_type": _pick(rng, EVENT_TYPES, n_evt),
            "value": np.round(rng.exponential(50, n_evt), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)])}),
        "documents": _documents(rng, n_doc),
        "embeddings": _embeddings(rng, n_emb),
    }


def write(out_dir: str, seed: int, sf: float) -> None:
    """Write every table as ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       compression="snappy")
