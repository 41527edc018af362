"""Re-nesting: long detection rows back into frame-shaped documents.

E4/E5 (``basic_preprocessing_vehicle.py:100-145``,
``basic_processing_common.py:47-60``). The reference ``orderBy``s before
``groupBy`` and assumes ``collect_list`` preserves order — a latent bug
(SURVEY §5.1): shuffle ordering is not guaranteed. Here determinism
comes from ``array_sort`` on structs whose FIRST fields are the sort
keys, so the output is identical on any partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def renest_frames(
    df: DataFrame,
    frame_cols: list[str],
    detail_cols: list[str],
    sort_cols: list[str] | None = None,
    out_col: str = "detections",
) -> DataFrame:
    """Group detail rows under their frame: one row per frame with a
    deterministically ordered ``array<struct>`` of details.

    ``sort_cols`` (default: ``detail_cols`` order) are placed first in
    the struct so ``array_sort``'s lexicographic struct comparison sorts
    by them; they stay part of the payload, as in the reference's
    re-nested shape.
    """
    sort_cols = sort_cols or []
    ordered_fields = [*sort_cols, *[c for c in detail_cols if c not in sort_cols]]
    packed = F.struct(*[F.col(c).alias(c) for c in ordered_fields])
    return (
        df.groupBy(*frame_cols)
        .agg(F.array_sort(F.collect_list(packed)).alias(out_col))
    )
