"""Custom stateful streaming operator: incremental slot-state tracking.

The batch engine sessionizes parking occupancy with one windowed pass
(operators/sessionize.py). A live detection stream can't re-sort
history per micro-batch; this operator keeps per-slot state across
batches with ``applyInPandasWithState``: last occupancy flag, last
timestamp, accumulated occupied/free seconds and transition counts.
Each batch emits one updated summary row per slot seen in that batch —
the incremental version of ``session_summary``.

State size is O(slots) scalars — bounded regardless of stream length;
the shuffle key is the slot id, so state lives with its partition.
Rows inside a batch are processed in timestamp order; late rows older
than the last-seen timestamp are counted in ``late_rows`` and skipped
(a watermark upstream bounds how late data can be).
"""

from __future__ import annotations

from collections.abc import Iterable
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T

from datalake_backend_spark.config import _ship_package

STATE_SCHEMA = T.StructType(
    [
        T.StructField("last_occupied", T.BooleanType()),
        T.StructField("last_ts", T.DoubleType()),
        T.StructField("occupied_seconds", T.DoubleType()),
        T.StructField("free_seconds", T.DoubleType()),
        T.StructField("became_occupied", T.LongType()),
        T.StructField("became_free", T.LongType()),
        T.StructField("late_rows", T.LongType()),
    ]
)

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("slot_id", T.StringType()),
        T.StructField("occupied", T.BooleanType()),
        T.StructField("last_ts", T.DoubleType()),
        T.StructField("occupied_seconds", T.DoubleType()),
        T.StructField("free_seconds", T.DoubleType()),
        T.StructField("became_occupied", T.LongType()),
        T.StructField("became_free", T.LongType()),
        T.StructField("late_rows", T.LongType()),
    ]
)


def _track_slot(
    key: tuple[Any, ...],
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
) -> Iterable[pd.DataFrame]:
    (slot_id,) = key
    if state.exists:
        last_occ, last_ts, occ_s, free_s, n_occ, n_free, late = state.get
    else:
        last_occ, last_ts, occ_s, free_s, n_occ, n_free, late = (
            None, None, 0.0, 0.0, 0, 0, 0,
        )

    for pdf in pdfs:
        pdf = pdf.sort_values("timestamp_sec")
        for ts, occ in zip(pdf["timestamp_sec"], pdf["occupied"]):
            ts = float(ts)
            occ = bool(occ)
            if last_ts is not None and ts < last_ts:
                late += 1
                continue
            if last_ts is not None:
                delta = ts - last_ts
                if last_occ:
                    occ_s += delta
                else:
                    free_s += delta
                if occ and not last_occ:
                    n_occ += 1
                elif not occ and last_occ:
                    n_free += 1
            last_occ, last_ts = occ, ts

    state.update((last_occ, last_ts, occ_s, free_s, n_occ, n_free, late))
    yield pd.DataFrame(
        [
            {
                "slot_id": slot_id,
                "occupied": last_occ,
                "last_ts": last_ts,
                "occupied_seconds": occ_s,
                "free_seconds": free_s,
                "became_occupied": n_occ,
                "became_free": n_free,
                "late_rows": late,
            }
        ]
    )


def track_slot_state(stream: DataFrame, slot_col: str = "slot_id") -> DataFrame:
    """Apply the stateful tracker to a streaming long table with columns
    (slot_id, timestamp_sec, occupied). Update output mode. The
    package ships to the session's Python workers first: they import
    this module to run the tracker."""
    _ship_package(stream.sparkSession)
    return stream.groupBy(slot_col).applyInPandasWithState(
        _track_slot,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
