"""Adjacent-row window metrics (SURVEY §2.7 W1-W3, W5, W6).

The reference collects per-track arrays to the driver and walks
consecutive elements in Python (``advanced_preprocessing_vehicle.py:97-140``).
Here each metric is a ``lag`` over ``Window.partitionBy(entity).orderBy(time)``
followed by a hash aggregate — one shuffle on the entity key, executed
as WindowExec + partial aggregation, no driver involvement. The window
frames needed are only ``lag(1)`` and unbounded min/max, exactly the
reference's access pattern, so no rows-between frames appear anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from datalake_backend_spark.core.exact import fixed, unscale


def _w(entity_cols: list[str], order_cols: list[str]):
    return Window.partitionBy(*entity_cols).orderBy(*order_cols)


def change_count(
    df: DataFrame,
    entity_cols: list[str],
    order_cols: list[str],
    state_col: str,
    out_col: str = "changes",
) -> DataFrame:
    """Count of adjacent-row state changes per entity (W1 — lane /
    direction change count, ``advanced_preprocessing_vehicle.py:104-106``).
    Null states are treated as "no observation" (no change counted),
    matching the reference's list-walk over collected non-null values.
    """
    w = _w(entity_cols, order_cols)
    prev = F.lag(F.col(state_col)).over(w)
    changed = (
        F.col(state_col).isNotNull()
        & prev.isNotNull()
        & (F.col(state_col) != prev)
    ).cast("long")
    return (
        df.select(*entity_cols, changed.alias("_chg"))
        .groupBy(*entity_cols)
        .agg(F.sum("_chg").alias(out_col))
    )


def time_in_state(
    df: DataFrame,
    entity_cols: list[str],
    time_col: str,
    state_col: str,
    out_col: str = "seconds_in_state",
) -> DataFrame:
    """Σ Δt between consecutive timestamps attributed to the *previous*
    row's state (W2 — time-spent-per-direction,
    ``advanced_preprocessing_vehicle.py:109-115``). Returns one row per
    (entity, state)."""
    w = _w(entity_cols, [time_col])
    tsec = F.col(time_col).cast("double")
    delta = tsec - F.lag(tsec).over(w)
    prev_state = F.lag(F.col(state_col)).over(w)
    return (
        df.select(*entity_cols, delta.alias("_dt"), prev_state.alias("_st"))
        .where(F.col("_dt").isNotNull() & F.col("_st").isNotNull())
        .groupBy(*entity_cols, F.col("_st").alias(state_col))
        .agg(F.sum("_dt").alias(out_col))
    )


def conditional_duration(
    df: DataFrame,
    entity_cols: list[str],
    time_col: str,
    flag_col: str,
    out_col: str = "flagged_seconds",
) -> DataFrame:
    """Σ Δt over intervals whose *previous* row has ``flag_col`` true
    (W3 — stopped duration, ``advanced_preprocessing_vehicle.py:117-119``)."""
    w = _w(entity_cols, [time_col])
    tsec = F.col(time_col).cast("double")
    delta = tsec - F.lag(tsec).over(w)
    prev_flag = F.lag(F.col(flag_col)).over(w)
    return (
        df.select(*entity_cols, delta.alias("_dt"), prev_flag.alias("_pf"))
        .groupBy(*entity_cols)
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("_pf"), F.col("_dt"))), F.lit(0.0)
            ).alias(out_col)
        )
    )


def first_event_time(
    df: DataFrame,
    entity_cols: list[str],
    time_col: str,
    flag: Column,
    out_col: str = "first_flag_time",
) -> DataFrame:
    """Earliest timestamp where ``flag`` holds, per entity (W5 — first
    restricted-area entry, ``advanced_preprocessing_people.py:126-133``):
    ``min(when(flag, ts))`` — a plain hash aggregate, no window needed."""
    return df.groupBy(*entity_cols).agg(
        F.min(F.when(flag, F.col(time_col))).alias(out_col)
    )


def conversion_attribution(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    touch_type: str,
    conversion_type: str,
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """First/last-touch conversion attribution: for every CONVERSION
    event, the timestamps of the first and last preceding TOUCH event
    by the same user, plus how many touches preceded it — the
    marketing-attribution primitive (which click gets credit for this
    purchase?) computed in ONE per-user window pass, no self-join.

    Timestamps are emitted as integer ``unix_micros`` so the row is
    engine-neutral; ``tiebreak`` columns pin the window order under
    equal timestamps (pass a unique id). Strictly-preceding semantics:
    a touch at the conversion's own (ts, tiebreak) position does not
    count (ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING).

    Scale shape: one shuffle (the per-user window); conversions filter
    AFTER the window, so no second pass over the touches."""
    w = (
        Window.partitionBy(user_col)
        .orderBy(ts_col, *(tiebreak or []))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    us = F.unix_micros(F.col(ts_col))
    touch_us = F.when(F.col(type_col) == touch_type, us)
    out = df.withColumns(
        {
            "first_touch_us": F.min(touch_us).over(w),
            "last_touch_us": F.max(touch_us).over(w),
            "n_touches_before": F.count(touch_us).over(w),
        }
    )
    return out.where(F.col(type_col) == conversion_type).select(
        F.col(user_col).alias("user_id"),
        us.alias("conversion_us"),
        "first_touch_us",
        "last_touch_us",
        "n_touches_before",
    )


def retention_cohorts(
    df: DataFrame,
    user_col: str,
    ts_col: str,
) -> DataFrame:
    """Cohort retention triangle: users cohort by their FIRST active
    day; every later active day contributes to that cohort's
    ``day_offset`` bucket. Returns ``(cohort_day, day_offset,
    n_users)`` — the day-N retention matrix every product-analytics
    stack draws, as two hash aggregates (distinct user-days, then a
    broadcast-joinable per-user min) with integer day arithmetic only.

    Scale shape: the distinct and both groupBys all shuffle on
    ``user_col`` first, so Catalyst reuses one exchange; no window, no
    self-join — linear in events."""
    # integer div (not float floor): exact at any epoch, both engines
    day = F.expr(f"unix_micros({ts_col}) div 86400000000")
    ud = df.select(
        F.col(user_col).alias("_u"), day.alias("_day").cast("long")
    ).distinct()
    first = ud.groupBy("_u").agg(F.min("_day").alias("_cohort"))
    return (
        ud.join(first, "_u")
        .groupBy(
            F.col("_cohort").alias("cohort_day"),
            (F.col("_day") - F.col("_cohort")).alias("day_offset"),
        )
        .agg(F.count("*").alias("n_users"))
    )


def markov_transitions(
    df: DataFrame,
    keys: list[str],
    ts_col: str,
    state_col: str,
    scale: int = 10**6,
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """First-order Markov transition matrix over per-key ordered state
    sequences: for every observed (from_state, to_state) pair, the
    transition count and the row-normalized probability as a scaled
    integer (``count·scale div row_total`` — exact `div`, so the
    matrix hashes identically in any engine). The behavioral-sequence
    primitive (what do users do AFTER a purchase? which pipeline state
    follows failure?) the reference's per-track Python loops could
    only answer per entity.

    One lag window partitioned by key (a shuffle on the key), one hash
    aggregate on (from, to), one tiny aggregate for row totals joined
    back broadcast — counts are per-PAIR global, not per key."""
    w = Window.partitionBy(*keys).orderBy(ts_col, *(tiebreak or []))
    steps = (
        df.select(*keys, F.col(ts_col), *(tiebreak or []), F.col(state_col))
        .withColumn("_next", F.lead(state_col).over(w))
        .where(F.col("_next").isNotNull())
        .groupBy(
            F.col(state_col).alias("from_state"),
            F.col("_next").alias("to_state"),
        )
        .agg(F.count("*").alias("n_transitions"))
    )
    totals = steps.groupBy("from_state").agg(
        F.sum("n_transitions").alias("_row_total")
    )
    return steps.join(F.broadcast(totals), "from_state").select(
        "from_state",
        "to_state",
        "n_transitions",
        F.expr(f"(n_transitions * {scale}L) div _row_total").alias(
            "prob_scaled"
        ),
    )


def cohort_ltv(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    value_col: str,
    bucket_days: int = 7,
    scale: int = 4,
) -> DataFrame:
    """Cohort lifetime-value curve: users cohort by first-active
    period (``bucket_days``-wide, integer epoch arithmetic like
    :func:`retention_cohorts`), and every period-age reports the
    cohort's CUMULATIVE value per cohort member — the revenue
    counterpart of the retention triangle (the "when does a cohort
    pay back" curve).

    Exactness: per-(cohort, age) sums are scaled integers; the
    cumulative fold is an integer window over the per-cohort AGE rows
    (metadata-sized — ages, not events); LTV is one IEEE division by
    the cohort's fixed member count. Engine-exact.

    Scale shape: distinct + two groupBys reuse one exchange on
    ``user_col``; the only window runs over (cohorts × ages) rows."""
    period = F.expr(
        f"unix_micros({ts_col}) div {86_400_000_000 * bucket_days}"
    )
    ev = df.select(
        F.col(user_col).alias("_u"),
        period.cast("long").alias("_p"),
        fixed(value_col, scale).alias("_v"),
    )
    first = ev.groupBy("_u").agg(F.min("_p").alias("_cohort"))
    sized = first.groupBy("_cohort").agg(F.count("*").alias("n_users"))
    per_age = (
        ev.join(first, "_u")
        .groupBy(
            "_cohort", (F.col("_p") - F.col("_cohort")).alias("age")
        )
        .agg(F.sum("_v").alias("_s"))
    )
    w = Window.partitionBy("_cohort").orderBy("age").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        per_age.withColumn("_cum", F.sum("_s").over(w))
        .join(sized, "_cohort")
        .select(
            F.col("_cohort").alias("cohort_period"),
            "age",
            "n_users",
            (
                unscale("_cum", scale) / F.col("n_users").cast("double")
            ).alias("ltv_per_user"),
        )
    )


def contiguous_islands(
    df: DataFrame,
    id_col: str,
    bucket: int = 100_000,
) -> DataFrame:
    """Gaps-and-islands audit of an integer id column, summarized per
    ``bucket``-wide id range: how many ids are present, how many
    contiguous runs (islands) they form, the longest run, and the
    span's missing count — the sequence-integrity check behind "did
    the upstream exporter drop a chunk" (a healthy dense sequence is
    ONE island per bucket; fragmentation localizes the loss).

    The island id is the classic ``id − row_number()`` constant-per-
    run trick, but ranked WITHIN each bucket so the sort window is
    per-bucket (hash-partitioned, never a global sort); runs that
    cross a bucket border count once in each bucket — a deliberate
    per-bucket-local definition, identical in the twin. All-integer.
    """
    d = df.select(F.col(id_col).alias("_id")).distinct().withColumn(
        "_b", F.expr(f"_id div {bucket}")
    )
    w = Window.partitionBy("_b").orderBy("_id")
    runs = (
        d.withColumn("_grp", F.col("_id") - F.row_number().over(w))
        .groupBy("_b", "_grp")
        .agg(
            F.count("*").alias("_len"),
            F.min("_id").alias("_lo"),
            F.max("_id").alias("_hi"),
        )
    )
    return runs.groupBy(F.col("_b").alias("id_bucket")).agg(
        F.sum("_len").alias("n_present"),
        F.count("*").alias("n_islands"),
        F.max("_len").alias("longest_run"),
        (
            F.max("_hi") - F.min("_lo") + 1 - F.sum("_len")
        ).alias("n_missing_in_span"),
    )
