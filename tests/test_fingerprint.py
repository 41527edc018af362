"""Table-fingerprint tests (operators/fingerprint.py).

The r133 oracle row certifies the hash arithmetic cross-engine; these
tests pin the operational semantics: order/partition independence,
sensitivity to single-value drift and NULL handling.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datalake_backend_spark.operators.fingerprint import table_fingerprint


def _tbl(spark, rows):
    return spark.createDataFrame(rows, "k long, grp string, v string")


def test_order_and_partition_independence(spark):
    rows = [(i, "g%d" % (i % 3), "v%d" % i) for i in range(97)]
    a = _tbl(spark, rows)
    b = _tbl(spark, rows[::-1]).repartition(7)
    fa = table_fingerprint(a, ["k", "grp", "v"]).collect()[0]
    fb = table_fingerprint(b, ["k", "grp", "v"]).collect()[0]
    assert fa == fb
    assert fa["row_count"] == 97


def test_single_value_drift_detected(spark):
    rows = [(i, "g", "v%d" % i) for i in range(50)]
    drifted = [(i, "g", "v%d" % i if i != 31 else "X") for i in range(50)]
    fa = table_fingerprint(_tbl(spark, rows), ["k", "v"]).collect()[0]
    fb = table_fingerprint(_tbl(spark, drifted), ["k", "v"]).collect()[0]
    assert fa["row_count"] == fb["row_count"]
    assert fa["content_sum"] != fb["content_sum"]


def test_null_vs_empty_vs_literal_sentinel(spark):
    """NULL, '', and the literal string 'NULL' must all hash apart —
    the sentinel encoding, not concat_ws's silent null-skip."""
    fps = set()
    for v in [None, "", "NULL"]:
        df = spark.createDataFrame([(1, "g", v)], "k long, grp string, v string")
        fps.add(table_fingerprint(df, ["k", "v"]).collect()[0]["content_sum"])
    assert len(fps) == 3


def test_column_order_matters(spark):
    df = _tbl(spark, [(1, "g", "a"), (2, "g", "b")])
    f1 = table_fingerprint(df, ["k", "v"]).collect()[0]["content_sum"]
    f2 = table_fingerprint(df, ["v", "k"]).collect()[0]["content_sum"]
    assert f1 != f2


def test_grouped_fingerprints_merge_to_total(spark):
    """Per-group sums fold to the ungrouped sum — the mergeable-state
    property that lets 100 TB fingerprints run shard-by-shard."""
    rows = [(i, "g%d" % (i % 4), "v%d" % i) for i in range(60)]
    df = _tbl(spark, rows)
    total = table_fingerprint(df, ["k", "v"]).collect()[0]
    grouped = table_fingerprint(df, ["k", "v"], group_by=["grp"]).collect()
    assert sum(r["content_sum"] for r in grouped) == total["content_sum"]
    assert sum(r["row_count"] for r in grouped) == total["row_count"]


def test_declared_q133_output_is_driver_hash_safe(spark):
    """The DECLARED q133 output must not carry DECIMAL(38,0): DuckDB's
    pandas fetch degrades wide decimals to lossy float64 while Spark
    collects exact Decimals, so the driver's typed value hash diverges
    on identical values (round-14 gate failure). content_sum ships as
    its canonical digit string; the operator keeps the mergeable
    DECIMAL internally."""
    from decimal import Decimal

    from pyspark.sql.types import DecimalType, StringType

    from datalake_backend_spark.queries import r133_table_fingerprint

    out = r133_table_fingerprint(spark, "/root/testdata/sf0.001")
    types = dict(zip(out.schema.names, [f.dataType for f in out.schema.fields]))
    assert not any(isinstance(t, DecimalType) for t in types.values())
    assert isinstance(types["content_sum"], StringType)
    rows = out.collect()
    for r in rows:
        # canonical digit string: round-trips exactly through Decimal
        assert str(Decimal(r["content_sum"])) == r["content_sum"]


def test_inverted_index_postings(spark):
    """Hand corpus: posting lists in doc order, tf counts, max_df cap
    (datapipe/text.py:inverted_index; oracle twin is r134)."""
    from datalake_backend_spark.datapipe.text import inverted_index

    docs = spark.createDataFrame(
        [
            (3, "b a b"),
            (1, "a  b"),  # double space: tokenizer must not emit ''
            (2, "c"),
            (4, None),
            (5, ""),
        ],
        "doc_id long, text string",
    )
    idx = {r["term"]: r for r in inverted_index(docs).collect()}
    assert set(idx) == {"a", "b", "c"}
    assert idx["a"]["postings"] == "1:1,3:1"
    assert idx["b"]["postings"] == "1:1,3:2"
    assert (idx["b"]["df"], idx["b"]["tf_total"]) == (2, 3)
    capped = inverted_index(docs, max_df=1).collect()
    assert {r["term"] for r in capped} == {"c"}


def test_variant_shred_missing_and_lenient(spark):
    """VARIANT shredding (sources/variantjson.py; oracle twin r139):
    missing paths yield NULL, lenient mode degrades type mismatches to
    NULL, strict mode raises them."""
    from datalake_backend_spark.sources.variantjson import (
        parse_variant,
        shred_variant,
    )

    df = spark.createDataFrame(
        [
            (1, '{"a": 7, "b": "x", "nested": {"c": [1, 2, 3]}}'),
            (2, '{"a": "not-a-number"}'),
            (3, '{}'),
        ],
        "id long, raw string",
    )
    v = parse_variant(df, "raw", "v", drop=True)
    out = {
        r["id"]: r
        for r in shred_variant(
            v,
            "v",
            {
                "a": ("$.a", "bigint"),
                "b": ("$.b", "string"),
                "c1": ("$.nested.c[1]", "bigint"),
            },
            lenient=True,
        ).collect()
    }
    assert (out[1]["a"], out[1]["b"], out[1]["c1"]) == (7, "x", 2)
    assert out[2]["a"] is None  # lenient: type mismatch -> NULL
    assert out[3]["a"] is None and out[3]["c1"] is None  # missing paths
    with pytest.raises(Exception):
        shred_variant(v, "v", {"a": ("$.a", "bigint")}).collect()
