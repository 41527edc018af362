"""Cleaning-kernel unit tests (SURVEY §2.3 F1-F5 parity)."""

from __future__ import annotations

import datetime

from pyspark.sql import types as T

from datalake_backend_spark.core.cleaning import (
    apply_null_defaults,
    clean_strings,
    non_empty,
    parse_timestamps,
)


def test_clean_strings_trims_and_preserves_nulls(spark):
    df = spark.createDataFrame([("  x ", None, 3)], "s1 string, s2 string, n int")
    row = clean_strings(df).collect()[0]
    assert row.s1 == "x" and row.s2 is None and row.n == 3


def test_null_defaults(spark):
    df = spark.createDataFrame(
        [(None, None, 1.0), (5, "a", None)],
        T.StructType(
            [
                T.StructField("tracker_id", T.IntegerType()),
                T.StructField("lane", T.StringType()),
                T.StructField("speed", T.DoubleType()),
            ]
        ),
    )
    out = apply_null_defaults(
        df, {"tracker_id": -1, "lane": "unknown", "speed": 0.0, "absent": 9}
    ).collect()
    assert (out[0].tracker_id, out[0].lane, out[0].speed) == (-1, "unknown", 1.0)
    assert (out[1].tracker_id, out[1].lane, out[1].speed) == (5, "a", 0.0)


def test_parse_timestamps_strips_tz_suffixes(spark):
    df = spark.createDataFrame(
        [
            ("2024-05-01 12:00:00",),
            ("2024-05-01 12:00:00+05:30",),
            ("2024-05-01 12:00:00 UTC",),
            ("garbage",),
            (None,),
        ],
        ["t"],
    )
    out = parse_timestamps(df, ["t"]).collect()
    want = datetime.datetime(2024, 5, 1, 12, 0, 0)
    assert out[0].t == want and out[1].t == want and out[2].t == want
    assert out[3].t is None and out[4].t is None


def test_cleaning_idempotent(spark):
    """clean∘clean == clean (property from SURVEY §5.2)."""
    df = spark.createDataFrame([(" a ", None), ("b", " c ")], ["x", "y"])
    once = apply_null_defaults(clean_strings(df), {"y": "d"})
    twice = apply_null_defaults(clean_strings(once), {"y": "d"})
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))


def test_non_empty(spark):
    df = spark.createDataFrame([(1,)], ["a"])
    assert non_empty(df)
    assert not non_empty(df.where("a > 1"))
