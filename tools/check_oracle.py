"""Local stand-in for the driver's DuckDB-oracle correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at the given scale factor, then compares row count, column names,
and an order-insensitive value multiset (exact where possible). Each
query runs inside its own materialization scope; a query that leaves a
persisted RDD behind once that scope exits also fails.

Usage: python tools/check_oracle.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import os
import re
import sys
from collections import Counter

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from datalake_backend_spark import get_spark  # noqa: E402
from datalake_backend_spark.core.materialize import scope  # noqa: E402
from datalake_backend_spark.sources.readers import TESTDATA_TABLES  # noqa: E402
import __spark_entry__ as entrymod  # noqa: E402


def normalize(v):
    if isinstance(v, float):
        # mirror a tolerant driver: exact bits first; repr keeps full precision
        return repr(v)
    return repr(v)


def row_key(row) -> tuple:
    return tuple(normalize(v) for v in row)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        sql = oracles.get(name)
        status, detail = "", ""
        before = set(persisted().keys())
        try:
            with scope(name):
                sdf = fn(spark, sf_dir)
                spark_cols = sorted(sdf.columns)
                spark_rows = [
                    row_key([r[c] for c in spark_cols]) for r in sdf.collect()
                ]
            left = set(persisted().keys()) - before
            if left:
                status = "FAIL"
                detail = f"left {len(left)} persisted RDDs: {sorted(left)}"
            elif sql is None:
                status = f"ROWS-ONLY ({len(spark_rows)} rows)"
            else:
                # Driver-hash trap guard: DuckDB HUGEINT (uncast SUM of an
                # integer column) fetches into pandas/Arrow as float64, so the
                # driver's typed hash diverges even when values are identical.
                # DECIMAL(p>18,s) is the same trap: DuckDB's pandas fetch
                # degrades it to a lossy float64 while Spark collects exact
                # Decimals (bit q133, round 14). Flag both loudly before the
                # repr-level comparison can mask them.
                rel = con.sql(sql)
                hugeints = [
                    (c, str(t))
                    for c, t in zip(rel.columns, rel.types)
                    if "HUGEINT" in str(t).upper()
                    or (
                        (m := re.match(r"DECIMAL\((\d+)", str(t).upper()))
                        and int(m.group(1)) > 18
                    )
                ]
                if hugeints:
                    status, detail = (
                        "FAIL",
                        "oracle emits a driver-hash-unsafe type (cast to "
                        f"BIGINT or VARCHAR): {hugeints}",
                    )
                else:
                    duck_cols_raw = rel.columns
                    duck_cols = sorted(duck_cols_raw)
                    idx = [duck_cols_raw.index(c) for c in duck_cols]
                    duck_rows = [
                        row_key([row[i] for i in idx]) for row in rel.fetchall()
                    ]
                    if spark_cols != duck_cols:
                        status, detail = "FAIL", f"cols {spark_cols} != {duck_cols}"
                    elif len(spark_rows) != len(duck_rows):
                        status, detail = (
                            "FAIL",
                            f"rowcount {len(spark_rows)} != {len(duck_rows)}",
                        )
                    elif Counter(spark_rows) != Counter(duck_rows):
                        diff = Counter(spark_rows) - Counter(duck_rows)
                        sample = list(diff.items())[:2]
                        rdiff = Counter(duck_rows) - Counter(spark_rows)
                        rsample = list(rdiff.items())[:2]
                        status, detail = (
                            "FAIL",
                            f"values differ; spark-only={sample} duck-only={rsample}",
                        )
                    else:
                        status = f"OK ({len(spark_rows)} rows)"
        except Exception as e:  # noqa: BLE001
            status, detail = "ERROR", f"{type(e).__name__}: {e}"
        if status.startswith(("FAIL", "ERROR")):
            failures += 1
        print(f"{name:32s} {status} {detail[:300]}")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
