"""Pose domain: keypoint arrays, confidence filter, frame-gap durations.

Silver ≈ ``basic_preprocessing_pose.py``: ``frame``→``frame_number``
alias (P2), explode pose entries, drop confidence ≤ 0.1 (P4), keep the
33-landmark keypoint array as ``array<struct>``. Gold: per-action stats
incl. the W9 frame-gap duration (``split_pose_data/split_pose.py:80-86``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datalake_backend_spark.schemas import NULL_DEFAULTS
from datalake_backend_spark.core.cleaning import apply_null_defaults

CONFIDENCE_FLOOR = 0.1


def silver(raw: DataFrame) -> DataFrame:
    base = raw.withColumn(
        "frame_number", F.coalesce("frame_number", "frame")
    ).drop("frame")
    flat = base.select("frame_number", F.explode("pose_data").alias("p")).select(
        "frame_number",
        F.col("p.keypoints").alias("keypoints"),
        F.col("p.action").alias("action"),
        F.col("p.confidence").alias("confidence"),
    )
    flat = apply_null_defaults(flat, NULL_DEFAULTS["pose"])
    return flat.where(F.col("confidence") > CONFIDENCE_FLOOR)


def gold(silver_df: DataFrame, fps: float = 30.0) -> DataFrame:
    """Per-action summary with gap-aware duration (W9).

    Each frame contributes ``1/fps`` seconds; after a gap (a missing
    previous frame) it contributes a single frame's time. The
    contribution is computed in the same projection that feeds the
    stats aggregate — a separate durations branch + join
    re-scans silver (different column pruning defeats exchange reuse)
    and added two exchanges at the q57 driver check. The groupBy
    reuses the window's ``action`` partitioning: one Exchange."""
    from pyspark.sql import Window

    w = Window.partitionBy("action").orderBy("frame_number")
    gap = F.col("frame_number") - F.lag(F.col("frame_number")).over(w)
    frame_seconds = 1.0 / fps
    contrib = F.when(gap.isNull() | (gap > 1), F.lit(frame_seconds)).otherwise(
        gap.cast("double") * F.lit(frame_seconds)
    )
    enriched = silver_df.select(
        "action", "frame_number", "confidence", "keypoints", contrib.alias("_dur")
    )
    return enriched.groupBy("action").agg(
        F.count("*").alias("frame_count"),
        F.avg("confidence").alias("avg_confidence"),
        F.min("frame_number").alias("first_frame"),
        F.max("frame_number").alias("last_frame"),
        F.avg(
            F.aggregate(
                F.col("keypoints"),
                F.lit(0.0),
                lambda acc, kp: acc + kp.getField("visibility"),
            )
            / F.greatest(F.size("keypoints"), F.lit(1))
        ).alias("avg_visibility"),
        F.sum("_dur").alias("duration_seconds"),
    )
