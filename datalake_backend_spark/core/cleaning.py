"""Cleaning kernel — composable ``DataFrame -> DataFrame`` transforms.

Re-implements the reference's shared cleaning helpers (SURVEY §2.3
F1-F5) as pure functions that chain with ``DataFrame.transform``:

* ``clean_strings``     — F1, ``preprocessing/common.py:15-22``
* ``apply_null_defaults`` — F2, ``preprocessing/common.py:24-35``
* ``parse_timestamps``  — F4+F5, ``preprocessing/common.py:37-45`` with
  the TZ-suffix strip from ``preprocessing/advanced_preprocessing.py:79-85``
  and ``preprocessing/tracking_data.py:89-95`` folded in (the reference
  does it in two places, late; doing it at parse time is both correct
  and lets Catalyst fold the regex into one projection).

All transforms are single-projection column expressions — no shuffle,
no UDF, fully whole-stage-codegen'd — so they cost one map stage
regardless of data size.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Default producer timestamp format (SURVEY §1.2): strings like
#: ``2024-05-01 12:34:56``, possibly suffixed ``+05:30`` or `` UTC``.
TS_FORMAT = "yyyy-MM-dd HH:mm:ss"

#: Suffixes the producers are known to append; stripped before parsing.
_TS_SUFFIX_RE = r"(\+\d{2}:\d{2}|\s*UTC)$"


def clean_strings(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """Trim every (or the given) string column, preserving nulls.

    F1 (``preprocessing/common.py:15-22``). ``trim`` is already
    null-preserving, so the reference's ``when(isNotNull, trim)`` guard
    is folded away.
    """
    targets = set(
        columns
        if columns is not None
        else [f.name for f in df.schema.fields if isinstance(f.dataType, T.StringType)]
    )
    if not targets:
        return df
    return df.select(
        *[
            F.trim(F.col(f.name)).alias(f.name) if f.name in targets else F.col(f.name)
            for f in df.schema.fields
        ]
    )


def apply_null_defaults(df: DataFrame, defaults: Mapping[str, object]) -> DataFrame:
    """Replace nulls with per-column defaults, cast to the column's type.

    F2 (``preprocessing/common.py:24-35``); one projection instead of a
    ``withColumn`` loop. Columns named in ``defaults`` but absent from
    ``df`` are ignored (the reference bails instead — schema enforcement
    happens upstream here, so absence is legitimate for optional attrs).
    """
    types = {f.name: f.dataType for f in df.schema.fields}
    return df.select(
        *[
            (
                F.coalesce(F.col(name), F.lit(defaults[name]).cast(types[name])).alias(name)
                if name in defaults
                else F.col(name)
            )
            for name in df.columns
        ]
    )


def strip_tz_suffix(col: Column) -> Column:
    """Remove trailing ``+HH:MM`` offset or `` UTC`` marker (F5)."""
    return F.regexp_replace(col, _TS_SUFFIX_RE, "")


def parse_timestamps(
    df: DataFrame, columns: list[str], fmt: str = TS_FORMAT
) -> DataFrame:
    """Parse string-timestamp columns to TimestampType (F4+F5).

    Unparseable strings become null (``try_to_timestamp`` — under ANSI
    mode plain ``to_timestamp`` would fail the job on one bad producer
    string) instead of the reference's legacy-parser fallback
    (``spark_config.py:32``). Columns not present are skipped.
    """
    targets = {c for c in columns if c in df.columns}
    if not targets:
        return df
    return df.select(
        *[
            (
                F.try_to_timestamp(strip_tz_suffix(F.col(name)), F.lit(fmt)).alias(name)
                if name in targets
                else F.col(name)
            )
            for name in df.columns
        ]
    )


def non_empty(df: DataFrame) -> bool:
    """True if ``df`` has at least one row.

    Replaces the reference's full-scan guards (``df.count() == 0``,
    ``agg(sum(size(detections)))`` — ``basic_processing_common.py:20``,
    ``basic_preprocessing_vehicle.py:45-48``) with one job that consumes
    ``df`` in full through the ``noop`` sink and counts its rows as an
    ``observe()`` metric. Consuming in full, where ``isEmpty`` would stop
    at the first row, lets every other ``observe()`` metric in ``df``'s
    plan (the engine's bronze corrupt count) report from the same job.
    """
    rows = Observation()
    probe = df.observe(rows, F.count(F.lit(1)).alias("n"))
    probe.write.format("noop").mode("overwrite").save()
    return rows.get["n"] > 0
