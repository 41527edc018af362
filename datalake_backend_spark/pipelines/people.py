"""People domain: double-nested frames, empty-frame preservation (J1).

Silver reproduces ``basic_preprocessing_people.py``: the double explode
(E2) uses ``explode_outer`` (E3) so frames whose detections were all
filtered away still appear; the reference instead re-attaches them with
a distinct + left join (J1, ``basic_preprocessing_people.py:149-163``) —
``explode_outer`` gets the same result in zero extra jobs.

Gold reproduces ``advanced_preprocessing_people.py`` incl. its
driver-side enrichment: age/gender/carrying modes excluding 'Unknown'
(A10), restricted-area entry flag + first entry time (W5), coalesce-
cascade timestamps (F16).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datalake_backend_spark.core.cleaning import (
    apply_null_defaults,
    clean_strings,
    parse_timestamps,
)
from datalake_backend_spark.core.geometry import expand_bbox
from datalake_backend_spark.operators.mode import mode_expr
from datalake_backend_spark.schemas import NULL_DEFAULTS, TIMESTAMP_COLUMNS

#: sentinel the producers emit for missing entry/exit times
#: (basic_preprocessing_people.py:23-24)
SENTINEL_TS = "2101-01-29 17:53:46"


def silver(raw: DataFrame) -> DataFrame:
    """One row per detection; frames with no detections keep one row of
    nulls (explode_outer) so frame-level analytics see every frame."""
    frames = raw.select(
        F.explode("frame_detections").alias("f")
    ).select(
        F.col("f.frame_number").alias("frame_number"),
        F.col("f.timestamp").alias("timestamp"),
        F.explode_outer("f.detections").alias("d"),
    )
    flat = frames.select("frame_number", "timestamp", "d.*")
    out = clean_strings(flat)
    out = apply_null_defaults(out, NULL_DEFAULTS["people"])
    out = parse_timestamps(out, TIMESTAMP_COLUMNS["people"])
    return expand_bbox(out)


def gold(silver_df: DataFrame) -> DataFrame:
    """Per-tracker people summary (A2 + driver enrichment, one shuffle)."""
    valid = silver_df.where(
        F.col("tracker_id").isNotNull() & (F.col("tracker_id") != -1)
    )
    # F16 coalesce-cascade: entry → exit → frame timestamp; sentinel
    # defaults are *valid parse results* the reference keeps — we null
    # them for duration math but preserve presence semantics.
    sentinel = F.lit(SENTINEL_TS).cast("timestamp")
    entry = F.when(F.col("entry_time") != sentinel, F.col("entry_time"))
    exit_ = F.when(F.col("exit_time") != sentinel, F.col("exit_time"))
    ts = F.coalesce(entry, exit_, F.col("timestamp"))
    d = valid.withColumn("_ts", ts)
    return d.groupBy("tracker_id").agg(
        mode_expr("age", "age", exclude=["Unknown"]),
        mode_expr("gender", "gender", exclude=["Unknown"]),
        mode_expr("carrying", "carrying", exclude=["Unknown"]),
        F.avg("confidence").alias("confidence_avg"),
        F.max("in_restricted_area").alias("entered_restricted_area"),
        F.min(F.when(F.col("in_restricted_area"), F.col("_ts"))).alias(
            "restricted_area_entry_time"
        ),
        F.min("_ts").alias("first_detection"),
        F.max("_ts").alias("last_detection"),
        (F.max(F.col("_ts").cast("double")) - F.min(F.col("_ts").cast("double"))).alias(
            "duration_seconds"
        ),
        F.count("*").alias("frame_count"),
    )
