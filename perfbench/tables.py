"""Seeded copies of the registry's input tables, at a small scale factor.

The shapes follow the synthetic testdata the registry and its DuckDB
oracles are written against (TPC-H-like ``orders``/``lineitem`` and
their dimensions, plus the ``documents`` text corpus): per-sf row
counts, value ranges, key coverage and the 31-token vocabulary. Only the
tables the benchmarked rows read are written.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "documents")

VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window",
]
ADJS = ["red", "new", "old", "hot", "large", "blue", "cold", "small"]
NOUNS = ["gear", "gizmo", "ring", "widget", "anvil", "bolt", "plate", "rod"]
TYPES = ["SMALL", "MEDIUM", "ECONOMY", "STANDARD", "LARGE", "PROMO"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]

EPOCH_1995 = np.datetime64("1995-01-01")
ORDER_SPAN_DAYS = 2404  # 1995-01-01 .. 2001-08-01


def generate(sf: float, outdir: str, seed: int) -> dict[str, int]:
    """Write ``<outdir>/<table>.parquet`` for every table; return row counts."""
    rng = np.random.default_rng(seed)
    os.makedirs(outdir, exist_ok=True)
    n_cust, n_supp = max(50, int(150_000 * sf)), max(10, int(10_000 * sf))
    n_part, n_ord = max(100, int(200_000 * sf)), max(500, int(1_500_000 * sf))
    n_doc = max(100, int(50_000 * sf))
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-1000, 10_000, n_cust), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    s_nation = rng.integers(0, 25, n_supp)
    s_nation[0] = 0  # the BFS row starts from the nation-0 suppliers
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(s_nation, pa.int32()),
        "s_acctbal": np.round(rng.uniform(0, 10_000, n_supp), 2),
    })
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.char.add(
            np.char.add(np.array(ADJS)[rng.integers(0, 8, n_part)], " "),
            np.array(NOUNS)[rng.integers(0, 8, n_part)],
        ),
        "p_brand": np.array([f"Brand#{b}" for b in range(1, 26)])[rng.integers(0, 25, n_part)],
        "p_type": np.array(TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(rng.uniform(900, 1000, n_part), 2),
    })
    odate = EPOCH_1995 + rng.integers(0, ORDER_SPAN_DAYS, n_ord).astype("timedelta64[D]")
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["P", "O", "F"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
        "o_orderdate": pa.array(odate.astype("datetime64[us]"), pa.timestamp("us")),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    lines_per = rng.integers(1, 8, n_ord)
    lkey = np.repeat(np.arange(n_ord), lines_per)
    n_li = len(lkey)
    sdate = EPOCH_1995 + rng.integers(0, ORDER_SPAN_DAYS + 100, n_li).astype("timedelta64[D]")
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(lkey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(np.concatenate([np.arange(1, k + 1) for k in lines_per]), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": np.round(rng.uniform(900, 105_000, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(sdate.astype("datetime64[us]"), pa.timestamp("us")),
    })
    lens = rng.integers(10, 101, n_doc)
    flat = np.array(VOCAB)[rng.integers(0, len(VOCAB), int(lens.sum()))]
    bounds = np.concatenate([[0], np.cumsum(lens)])
    texts = [" ".join(flat[a:b]) for a, b in zip(bounds[:-1], bounds[1:])]
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(len(LANGS), n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    for name, tbl in out.items():
        pq.write_table(tbl, os.path.join(outdir, f"{name}.parquet"))
    return {name: tbl.num_rows for name, tbl in out.items()}
