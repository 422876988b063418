"""Seeded analytic tables for the registered plans of the traced run's query
pass, and the DuckDB oracle check of those plans against them.

The tables follow the shapes the plan registry reads (TPC-H-like
``region nation customer supplier orders lineitem`` plus the ``documents``
corpus): the same column names and Arrow types,
one parquet file per table.  ``sf`` scales row counts the way TPC-H does
(sf 0.01 -> 1,500 customers, 15,000 orders, ~60,000 line items).
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
VOCAB = ("a the data spark stream batch window join filter group sort scan hash "
         "merge key value row column table query vector order line part "
         "customer agg small big fast slow").split()
EPOCH0 = np.datetime64("1995-01-01", "us")
DAY_US = 86_400_000_000


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def generate(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table under ``out_dir``; returns rows per table."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(50, int(150_000 * sf))
    n_orders = max(500, int(1_500_000 * sf))
    n_supp = max(20, int(10_000 * sf))
    n_part = max(100, int(200_000 * sf))
    n_docs = max(200, int(50_000 * sf))

    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    tables["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
    })
    tables["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    order_day = rng.integers(0, 2404, n_orders)  # 1995-01-01 .. 2001-08-01
    tables["orders"] = pa.table({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders).astype(np.int64),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_orders)],
        "o_totalprice": _money(rng, 1000, 500_000, n_orders),
        "o_orderdate": pa.array(EPOCH0 + order_day * DAY_US, pa.timestamp("us")),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_orders)],
    })
    lines = rng.integers(1, 8, n_orders)
    l_order = np.repeat(np.arange(n_orders, dtype=np.int64), lines)
    n_lines = len(l_order)
    l_num = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    ship_day = np.repeat(order_day, lines) + rng.integers(1, 122, n_lines)
    qty = rng.integers(1, 51, n_lines).astype(np.float64)
    cutoff = 1277  # ~1998-07-01: older shipments may be returned
    flag = np.where(ship_day < cutoff,
                    np.array(["R", "A"])[rng.integers(0, 2, n_lines)], "N")
    tables["lineitem"] = pa.table({
        "l_orderkey": l_order,
        "l_partkey": rng.integers(0, n_part, n_lines).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_lines).astype(np.int64),
        "l_linenumber": l_num,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_lines), 2),
        "l_discount": rng.integers(0, 11, n_lines) / 100.0,
        "l_tax": rng.integers(0, 9, n_lines) / 100.0,
        "l_returnflag": flag,
        "l_linestatus": np.where(ship_day < cutoff, "F", "O"),
        "l_shipdate": pa.array(EPOCH0 + ship_day * DAY_US, pa.timestamp("us")),
    })
    words = rng.integers(0, len(VOCAB), (n_docs, 80))
    lens = rng.integers(8, 81, n_docs)
    text = [" ".join(VOCAB[w] for w in words[i, : lens[i]]) for i in range(n_docs)]
    tables["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": text,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in text], dtype=np.int64),
    })
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


def _canon_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NULL" if math.isnan(v) else repr(v)
    if isinstance(v, decimal.Decimal):
        return repr(float(v))
    if isinstance(v, (dt.datetime, dt.date)) or hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (bool, np.bool_)):
        return str(int(v))
    if isinstance(v, np.generic):
        return _canon_cell(v.item())
    return str(v)


def result_digest(pdf) -> tuple[tuple[str, ...], int, str]:
    """(sorted columns, row count, order-insensitive value hash) of a frame."""
    cols = sorted(pdf.columns)
    series = [pdf[c].tolist() for c in cols]
    rows = sorted("\x1f".join(_canon_cell(v) for v in row) for row in zip(*series))
    h = hashlib.sha256("\x1e".join(rows).encode()).hexdigest()
    return tuple(cols), len(rows), h


def oracle_digests(sf_dir: str, sqls: dict[str, str]) -> dict[str, tuple]:
    """Run each oracle SQL on DuckDB over the parquet files in ``sf_dir``."""
    import duckdb

    con = duckdb.connect()
    try:
        for f in sorted(os.listdir(sf_dir)):
            if f.endswith(".parquet"):
                path = os.path.join(sf_dir, f).replace("'", "''")
                con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{path}'")
        return {name: result_digest(con.execute(sql).df()) for name, sql in sqls.items()}
    finally:
        con.close()
