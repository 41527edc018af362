"""Parking domain: MapType slots + the sessionization flagship (W7).

Silver ≈ ``basic_preprocessing_parkingLot.py``: explode the
``slots`` map into a (frame, slot_id, occupied, …) long table — the
declared MapType schema makes the reference's to_json/from_json
struct→map coercion (F9) unnecessary — and recompute ``free_slots`` per
frame with a conditional aggregate instead of the reference's
filter + count + join-back (J2, ``:88-97``).

Gold ≈ ``advanced_preprocessing_parkingLot.py:46-123`` — but where the
reference loops one Spark job per slot and walks transitions on the
driver, this is :mod:`operators.sessionize` run once over all slots:
per-slot sessions plus the transition/occupancy summary, one shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datalake_backend_spark.operators.sessionize import sessionized_summary


def silver(raw: DataFrame) -> DataFrame:
    """(video_source, frame_number, timestamp_sec, slot_id, occupied,
    bbox, pixel_count) long table."""
    frames = raw.select(
        "video_source", F.explode("frame_detections").alias("f")
    ).select(
        "video_source",
        F.col("f.frame_number").alias("frame_number"),
        F.col("f.timestamp_sec").alias("timestamp_sec"),
        F.explode("f.slots").alias("slot_id", "slot"),
    )
    return frames.select(
        "video_source",
        "frame_number",
        "timestamp_sec",
        "slot_id",
        F.col("slot.occupied").alias("occupied"),
        F.col("slot.bbox").alias("bbox"),
        F.col("slot.pixel_count").alias("pixel_count"),
    )


def free_slots_per_frame(silver_df: DataFrame) -> DataFrame:
    """Per-frame free-slot count — single-pass conditional aggregate
    (replaces J2's filter+count+left-join)."""
    return silver_df.groupBy("video_source", "frame_number", "timestamp_sec").agg(
        F.sum((~F.col("occupied")).cast("long")).alias("free_slots"),
        F.count("*").alias("total_slots"),
    )


def gold(silver_df: DataFrame) -> DataFrame:
    """Per-slot summary matching the reference's refined shape:
    state transitions, occupied/free seconds + free %, final status,
    and the ordered parking-session array.

    One fused pass (:func:`sessionized_summary`): running summary +
    session assembly as separate branches re-scanned silver per branch
    and joined entity-sized sides back (8 exchanges at the q52 driver
    check; ~3 after the fusion)."""
    agg = sessionized_summary(
        silver_df,
        ["video_source", "slot_id"],
        "timestamp_sec",
        "occupied",
        active_value=True,
        sessions_col="parking_sessions",
    )
    return agg.select(
        "video_source",
        "slot_id",
        F.col("became_inactive").alias("became_free"),
        F.col("became_active").alias("became_occupied"),
        F.col("active_seconds").alias("total_occupied_seconds"),
        F.col("inactive_seconds").alias("total_free_seconds"),
        F.col("inactive_percentage").alias("free_percentage"),
        F.when(F.col("final_active"), F.lit("occupied"))
        .otherwise(F.lit("free"))
        .alias("slot_status"),
        "sample_count",
        "parking_sessions",
    )
