"""Conditional counts for the per-domain gold rollups (SURVEY §2.6 A12).

The reference counts a condition by collecting a list and calling
``.count()`` on the driver (``advanced_preprocessing_safety.py:64-77``);
here it is one ``sum(when)`` inside the gold's ``groupBy().agg()``, so
map-side partial aggregation applies. The rollups themselves (A1-A6)
are each domain's ``gold()``; q04/q05 check the same rollup shape
(count, min/max, deterministic first/last via ``min_by``/``max_by``,
stddev) on the registry tables.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def count_if(cond: Column) -> Column:
    """A12/F17: ``sum(CASE WHEN cond THEN 1 ELSE 0 END)`` with a 0 (not
    null) result on empty/never-true groups."""
    return F.coalesce(F.sum(F.when(cond, 1).otherwise(0)), F.lit(0)).cast("long")
