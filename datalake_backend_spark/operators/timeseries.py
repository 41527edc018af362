"""Hierarchical time-bucket rollups (hypertable-style continuous aggregates).

A metrics table queried at minute/hour/day granularities should not
re-scan raw events per level: compute the finest level once, then fold
each coarser level FROM the next finer one. Algebraic aggregates
(count/sum/min/max) compose exactly — bit-exact for integer/decimal
value columns; double sums can drift by float summation order
(~1e-12 relative), so cast the value to decimal first when continuous
aggregates must reconcile exactly against direct aggregation. Averages
derive from sum/count at read time. At 100 TB the finest rollup is a one-pass shuffle over the
events and every coarser level aggregates a table that is orders of
magnitude smaller.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from datalake_backend_spark.core.exact import (
    DEC,
    fixed,
    moment_sums,
    scaled_sum,
    unscale,
)
from datalake_backend_spark.core.materialize import pin

#: supported granularities, finest → coarsest (date_trunc units)
LEVELS = ("minute", "hour", "day", "week", "month")


def rollup_level(
    events: DataFrame,
    level: str,
    time_col: str = "ts",
    key_cols: list[str] | None = None,
    value_col: str = "value",
) -> DataFrame:
    """Finest-level rollup straight from events (one shuffle)."""
    key_cols = key_cols or []
    return events.groupBy(
        F.date_trunc(level, F.col(time_col)).alias("bucket"), *key_cols
    ).agg(
        F.count("*").alias("n"),
        F.sum(value_col).alias("sum_value"),
        F.min(value_col).alias("min_value"),
        F.max(value_col).alias("max_value"),
    )


def fold_up(finer: DataFrame, level: str, key_cols: list[str] | None = None) -> DataFrame:
    """Coarser rollup computed FROM a finer one (algebraic re-aggregation
    — never touches the raw events)."""
    key_cols = key_cols or []
    return finer.groupBy(
        F.date_trunc(level, F.col("bucket")).alias("bucket"), *key_cols
    ).agg(
        F.sum("n").alias("n"),
        F.sum("sum_value").alias("sum_value"),
        F.min("min_value").alias("min_value"),
        F.max("max_value").alias("max_value"),
    )


def hierarchical_rollup(
    events: DataFrame,
    levels: tuple[str, ...] = ("minute", "hour", "day"),
    time_col: str = "ts",
    key_cols: list[str] | None = None,
    value_col: str = "value",
) -> dict[str, DataFrame]:
    """All requested levels, finest computed once from events and each
    coarser level folded from the previous. ``levels`` must be ordered
    finest → coarsest (subset of :data:`LEVELS`)."""
    order = [lv for lv in LEVELS if lv in levels]
    if order != list(levels):
        raise ValueError(f"levels must be finest→coarsest, a subset of {LEVELS}")
    out: dict[str, DataFrame] = {}
    finest = rollup_level(events, levels[0], time_col, key_cols, value_col)
    out[levels[0]] = finest
    prev = finest
    for i, lv in enumerate(levels[1:], start=1):
        src = prev
        if lv == "month" and levels[i - 1] == "week":
            # ISO weeks straddle month boundaries, so a month folded from
            # week buckets mis-assigns boundary-crossing weeks wholly to
            # their start month. Fold month from the finest sub-week
            # level instead (still a rollup over a tiny table).
            sub_week = [x for x in levels[:i] if x != "week"]
            if not sub_week:
                raise ValueError(
                    "month cannot be folded from week buckets (ISO weeks "
                    "straddle month boundaries); include a sub-week level "
                    "(e.g. day) in the chain"
                )
            src = out[sub_week[-1]]
        prev = fold_up(src, lv, key_cols)
        out[lv] = prev
    return out


def interval_union(
    df: DataFrame,
    key_cols: list[str],
    start_col: str,
    end_col: str,
) -> DataFrame:
    """Per-key union of possibly-overlapping intervals: total covered
    length, island (maximal merged run) count, and overall span —
    occupancy/uptime/coverage questions where naive SUM(end - start)
    double-counts overlap.

    Gaps-and-islands in ONE window pass per key: running max of prior
    interval ends marks rows that start a new island (start strictly
    greater than everything seen), a running sum of those markers
    numbers the islands, then two hash aggregates (islands, then keys)
    finish it. All three stages reuse the same key partitioning — one
    shuffle on the key (+1 tiny one for the island rollup); integer
    inputs stay exact cross-engine.
    """
    w = Window.partitionBy(*key_cols).orderBy(
        F.col(start_col), F.col(end_col)
    )
    prior_max_end = F.max(F.col(end_col)).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    new_island = F.when(
        prior_max_end.isNull() | (F.col(start_col) > prior_max_end), 1
    ).otherwise(0)
    marked = df.select(
        *key_cols,
        F.col(start_col).alias("_s"),
        F.col(end_col).alias("_e"),
        F.sum(new_island).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("_island"),
    )
    islands = marked.groupBy(*key_cols, "_island").agg(
        F.min("_s").alias("_is"), F.max("_e").alias("_ie")
    )
    return islands.groupBy(*key_cols).agg(
        F.sum(F.col("_ie") - F.col("_is")).alias("covered"),
        F.count("*").alias("n_islands"),
        (F.max("_ie") - F.min("_is")).alias("span"),
    )


def gap_fill(
    df: DataFrame,
    keys: list[str],
    time_col: str,
    step: int,
    value_col: str,
    agg=None,
    mode: str = "ffill",
) -> DataFrame:
    """Regularize an irregular per-key series onto a fixed grid with
    forward fill: bucket observations to ``floor(t/step)*step``
    (``time_col`` is integral epoch micros), aggregate one value per
    occupied tick (``agg``, default ``max``), then generate each
    OBSERVATION's run of grid ticks up to (exclusive) the next
    observation from one ``lead()`` window and explode it — the gap's
    filler value (and, for linear mode, both interpolation neighbors)
    ride the same row. Output: keys, ``tick``, filled ``value``,
    ``was_observed``.

    Scale shape (round-14 rework): ONE exchange chain — the bucket
    aggregate then the per-key lead window; the previous formulation
    built a separate min/max-span aggregate, exploded a full per-key
    grid, LEFT-JOINED observations back, and ran fill windows over the
    joined grid (a second full pass over the aggregated data plus a
    join, and for linear mode a second descending window — the
    ascending+descending pair replaced an UnboundedFollowing frame
    that Spark re-scans per row, O(span²), measured 12.7 s vs 1.9 s at
    sf0.1). Per-gap sequences also bound the explode arrays by the
    LARGEST GAP instead of the largest whole key span. The union of
    gap runs [tick_i, tick_{i+1}) plus each key's last observation is
    exactly the min..max grid. The per-key window needs a single key's
    OBSERVATIONS in one task (time-bound it with a coarser ``step`` or
    key-splitting for multi-year series).

    ``mode='linear'`` interpolates misses between the surrounding
    observations instead of repeating the last one (``value`` becomes
    double); generated ticks strictly inside a gap interpolate between
    the gap's endpoints, which are both on the row already.

    Precondition (round-14 ADVICE): ``value_col`` must be non-NULL on
    observed rows (after ``agg`` — i.e. a bucket whose values are all
    NULL). The pre-round-14 joined-grid form marked such a tick
    ``was_observed=false`` and forward-filled PAST it (last_value
    ignorenulls); this form marks the bucket's own tick observed and
    propagates NULL through its gap run. Both are defensible
    semantics, but they differ — coalesce or filter NULL measures
    upstream if your data has all-NULL buckets (every series in this
    repo is non-NULL by construction, which is why the oracles cannot
    distinguish the two).
    """
    if mode not in ("ffill", "linear"):
        raise ValueError(f"mode must be ffill|linear, got {mode!r}")
    agg = agg or F.max
    tick = (F.floor(F.col(time_col) / step) * step).cast("long")
    obs = (
        df.withColumn("tick", tick)
        .groupBy(*keys, "tick")
        .agg(agg(value_col).alias("_v"))
    )
    w = Window.partitionBy(*keys).orderBy("tick")
    runs = obs.select(
        *keys,
        F.col("tick").alias("_t0"),
        F.col("_v").alias("_v0"),
        F.lead("tick").over(w).alias("_t1"),
        F.lead("_v").over(w).alias("_v1"),
    )
    # last observation per key (no next): emit just its own tick;
    # otherwise every tick in [_t0, _t1) — the next obs row emits _t1
    gap = runs.select(
        *keys,
        "_t0",
        "_v0",
        "_t1",
        "_v1",
        F.explode(
            F.sequence(
                F.col("_t0"),
                F.coalesce(
                    F.col("_t1") - F.lit(step).cast("long"), F.col("_t0")
                ),
                F.lit(step).cast("long"),
            )
        ).alias("tick"),
    )
    observed = F.col("tick") == F.col("_t0")
    if mode == "ffill":
        return gap.select(
            *keys,
            "tick",
            F.col("_v0").alias("value"),
            observed.alias("was_observed"),
        )
    # identical arithmetic to the joined-grid formulation (the r120
    # oracle compares these doubles bit-exactly): v0 + (v1 − v0) ·
    # ((tick − t0) / (t1 − t0)), long/long division → double
    interp = F.col("_v0") + (F.col("_v1") - F.col("_v0")) * (
        (F.col("tick") - F.col("_t0")) / (F.col("_t1") - F.col("_t0"))
    )
    return gap.select(
        *keys,
        "tick",
        F.when(observed, F.col("_v0").cast("double"))
        .otherwise(interp)
        .alias("value"),
        observed.alias("was_observed"),
    )


def rolling_robust_anomaly(
    df: DataFrame,
    keys: list[str],
    ts_col: str,
    value_col: str,
    order_tiebreak: str | None = None,
    window: int = 12,
    k: int = 5,
    min_periods: int = 8,
    scale: int = 1000,
) -> DataFrame:
    """Rolling median/MAD anomaly flags — the robust-statistics
    outlier detector (Hampel filter): a point is anomalous when it
    deviates from the rolling MEDIAN of its trailing window by more
    than ``k`` times the median absolute deviation. Median/MAD resist
    the contamination that wrecks mean/stddev detectors (one previous
    spike inflates σ and masks the next one).

    Exactness: values enter as ``FLOOR(scale·value)`` BIGINTs and both
    statistics are LOWER medians (element ``(n-1)//2`` of the sorted
    window — no averaging of middle pairs), so every comparison is
    pure integer arithmetic and any engine reproduces the flags
    bit-for-bit (oracle r149). The trailing frame EXCLUDES the current
    row — a self-including window lets a large spike drag the median
    toward itself and mask the detection.

    Scale shape: ONE shuffle on ``keys``, one sort within partitions,
    and per-row O(window log window) array work inside codegen —
    no self-join, no explode. Rows with fewer than ``min_periods``
    preceding points emit NULL statistics and a NULL flag (cold
    start), exactly mirrored in the SQL twin.
    """
    from pyspark.sql import Window

    order = [ts_col] + ([order_tiebreak] if order_tiebreak else [])
    w = (
        Window.partitionBy(*keys)
        .orderBy(*order)
        .rowsBetween(-window, -1)
    )
    v = fixed(value_col, factor=scale)
    out = df.withColumn("v_scaled", v).withColumn(
        "_win", F.array_sort(F.collect_list("v_scaled").over(w))
    )
    n = F.size("_win")
    med = F.element_at("_win", ((n - 1) / 2).cast("int") + 1)
    out = out.withColumn(
        "med", F.when(n >= min_periods, med)
    )
    dev = F.array_sort(
        F.transform("_win", lambda x: F.abs(x - F.col("med")))
    )
    mad = F.element_at(dev, ((n - 1) / 2).cast("int") + 1)
    out = out.withColumn("mad", F.when(n >= min_periods, mad))
    return out.withColumn(
        "is_anomaly",
        F.when(
            F.col("med").isNotNull(),
            F.abs(F.col("v_scaled") - F.col("med")) > k * F.col("mad"),
        ),
    ).drop("_win")


def time_weighted_avg(
    df: DataFrame,
    keys: list[str],
    ts_col: str,
    value_col: str,
    scale: int = 2,
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """Time-weighted average (TWAP): each observation holds its value
    until the NEXT observation, so the mean weights every value by its
    holding duration — the correct summary for irregularly-sampled
    state (price, queue depth, sensor reading), where the plain AVG
    over-counts bursts of rapid updates.

    Exactness: values floor-scale to integers (``10^scale``), durations
    are integer MICROSECONDS (``unix_micros`` here, ``epoch_us`` in the
    DuckDB twin), and the weighted sum accumulates in DECIMAL(38,0) —
    order-independent integer addition, so the result is bit-identical
    in any engine. Output: ``(keys..., n_obs, twap_scaled)`` where
    ``twap_scaled = floor(Σ v·Δt / Σ Δt)`` over the scaled values (the
    open-ended LAST interval carries no weight; groups with a single
    observation have no intervals and report NULL).

    Scale shape: ONE shuffle (the per-key window for ``lead``), then a
    hash aggregate — at 100 TB the window partitions by key, never
    globally sorts.

    ``tiebreak`` columns pin the lead order under EQUAL timestamps —
    without them, tied rows swap which value carries the next nonzero
    interval and the sum diverges across engines; pass a unique id."""
    w = Window.partitionBy(*keys).orderBy(ts_col, *(tiebreak or []))
    us = F.unix_micros(F.col(ts_col))
    nxt = F.lead(us).over(w)
    dt = (nxt - us).alias("_dt")
    v = fixed(value_col, scale).cast(DEC)
    stepped = df.select(
        *keys,
        us.alias("_us"),
        (v * (nxt - us).cast(DEC)).alias("_wv"),
        (nxt - us).alias("_dt"),
    )
    return (
        stepped.groupBy(*keys)
        .agg(
            F.count("*").alias("n_obs"),
            F.sum("_wv").alias("_swv"),
            F.sum("_dt").alias("_sdt"),
        )
        .select(
            *keys,
            "n_obs",
            # `div`, not floor(_swv/_sdt): decimal divide rounds
            # HALF_UP at scale 6 (floors one high within 5e-7 of an
            # integer), and for a NEGATIVE weighted sum `div`'s
            # truncation matches the DuckDB twin's `//` where floor
            # would sit one lower
            F.expr("_swv div _sdt").alias("twap_scaled"),
        )
    )


def cusum_stats(
    df: DataFrame,
    keys: list[str],
    ts_col: str,
    value_col: str,
    scale: int = 2,
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """Per-key CUSUM change-point statistic (Page's cumulative-sum
    chart — public literature): how far, and when, the series drifts
    above its own mean. The one-sided CUSUM recursion
    ``S_i = max(0, S_{i-1} + d_i)`` is not a plain prefix sum, but the
    classic identity ``S_i = R_i − min(0, min_{j≤i} R_j)`` (R = raw
    cumsum of deviations) turns it into TWO window functions — no
    recursion, no UDF, one shuffle on the key.

    Cross-engine exactness: deviations from the mean are kept as
    integers by multiplying through by the count —
    ``d_i = n·floor(v_i·10^scale) − Σ floor(v·10^scale)`` — so every
    S_i is an exact integer in units of n·10^-scale and any engine
    reproduces it bit-for-bit. Returns per key: ``n_obs``,
    ``max_cusum_scaled`` (peak upward drift, × n·10^scale),
    ``max_at_us`` (timestamp of the peak, earliest on ties — pinned by
    a rank over (S desc, ts asc, tiebreak)), and
    ``final_cusum_scaled``."""
    v = fixed(value_col, scale)
    order = [F.col(ts_col)] + [F.col(c) for c in (tiebreak or [])]
    wk = Window.partitionBy(*keys)
    wcum = wk.orderBy(*order).rowsBetween(Window.unboundedPreceding, 0)
    stepped = (
        df.select(*keys, F.col(ts_col), *(tiebreak or []), v.alias("_v"))
        .withColumn("_n", F.count("*").over(wk))
        .withColumn("_t", F.sum("_v").over(wk))
        .withColumn("_d", F.col("_n") * F.col("_v") - F.col("_t"))
        .withColumn("_r", F.sum("_d").over(wcum))
        .withColumn("_m", F.least(F.lit(0).cast("long"), F.min("_r").over(wcum)))
        .withColumn("_s", F.col("_r") - F.col("_m"))
    )
    wpick = Window.partitionBy(*keys).orderBy(F.desc("_s"), *order)
    order_desc = [F.col(ts_col).desc()] + [
        F.col(c).desc() for c in (tiebreak or [])
    ]
    wlast = Window.partitionBy(*keys).orderBy(*order_desc)
    return (
        stepped.withColumn("_rk", F.row_number().over(wpick))
        .withColumn("_rl", F.row_number().over(wlast))
        .groupBy(*keys)
        .agg(
            F.max("_n").alias("n_obs"),
            F.max("_s").alias("max_cusum_scaled"),
            F.max(
                F.when(F.col("_rk") == 1, F.unix_micros(F.col(ts_col)))
            ).alias("max_at_us"),
            F.max(F.when(F.col("_rl") == 1, F.col("_s"))).alias(
                "final_cusum_scaled"
            ),
        )
    )


def seasonal_index(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    keys: list[str] | None = None,
    period: str = "dow",
    scale: int = 4,
) -> DataFrame:
    """Multiplicative seasonal indices: per (key, season-bucket), the
    bucket's mean as a scaled-integer ratio of the key's overall mean
    — the classical ratio-to-moving-average seasonality fingerprint
    reduced to its exact, order-independent core (bucket means vs
    grand mean), the first thing a forecasting pipeline computes over
    event history. ``period``: ``dow`` (ISO 1=Mon..7=Sun) or ``hour``
    (0-23).

    Exactness: values floor-scale to integers (10^scale), means are
    truncating integer division (``div``), and the final index is
    ``bucket_mean_scaled * 10^6 div grand_mean_scaled`` — every step
    reproduces bit-for-bit in any engine (DuckDB ``//`` truncates the
    same way for non-negative operands).

    Scale shape: ONE partial-aggregable groupBy over (keys, bucket)
    and a broadcast join of the per-key grand totals (|keys| rows) —
    no window, no second scan of the fact table; at 100 TB this is a
    map-side-combine aggregate plus a metadata-sized join.
    """
    if period == "dow":
        bucket = (F.weekday(F.col(ts_col)) + F.lit(1)).alias("season")
    elif period == "hour":
        bucket = F.hour(F.col(ts_col)).alias("season")
    else:
        raise ValueError("period must be 'dow' or 'hour'")
    keys = keys or []
    scaled = fixed(value_col, scale)
    per_bucket = df.select(
        *keys, bucket, scaled.alias("_v")
    ).groupBy(*keys, "season").agg(
        F.count("*").alias("n_obs"), F.sum("_v").alias("_s")
    )
    grand = per_bucket.groupBy(*keys).agg(
        F.sum("n_obs").alias("_gn"), F.sum("_s").alias("_gs")
    )
    joined = (
        per_bucket.join(F.broadcast(grand), keys)
        if keys
        else per_bucket.crossJoin(F.broadcast(grand))
    )
    return joined.select(
        *keys,
        "season",
        "n_obs",
        F.expr("_s div n_obs").alias("bucket_mean_scaled"),
        F.expr("(_s div n_obs) * 1000000 div (_gs div _gn)").alias(
            "index_scaled"
        ),
    )


def decayed_sum(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    keys: list[str] | None = None,
    anchor: str = "2024-02-01",
    scale: int = 4,
    max_age_days: int = 62,
) -> DataFrame:
    """Exponentially time-decayed score with EXACT half-life-per-day
    decay: each observation contributes ``floor(value·10^scale) >>
    age_days`` (a right shift IS division by 2^age for non-negative
    ints), so the trending score is a bit-exact integer in any engine
    — the recency-weighting primitive behind "what is hot now"
    rankings, with none of the float-pow drift ``value·0.5^age``
    accumulates. ``anchor`` pins "now" so the result is a pure
    function of the data; ages clamp to ``max_age_days`` (shifts past
    62 are sign-bit territory and contribute 0 anyway).

    Scale shape: pure per-row arithmetic + ONE partial-aggregable
    groupBy — no window, no join."""
    keys = keys or []
    age = F.datediff(F.lit(anchor).cast("date"), F.col(ts_col).cast("date"))
    age = F.least(F.greatest(age, F.lit(0)), F.lit(max_age_days))
    s = fixed(value_col, scale)
    # pyspark's shiftright() only takes a LITERAL bit count — a
    # per-row shift needs the SQL form
    d = df.withColumn("_age", age.cast("int")).withColumn("_s", s)
    return d.groupBy(*keys).agg(
        F.count("*").alias("n_obs"),
        F.sum(F.expr("shiftright(_s, _age)")).alias("decayed_scaled"),
    )


def running_distinct(
    df: DataFrame,
    ts_col: str,
    id_col: str,
    keys: list[str] | None = None,
    word_bits: int = 32,
) -> DataFrame:
    """EXACT running distinct count per day — cumulative reach / DAU
    curves ("distinct users seen up to day d"), the query plain
    COUNT(DISTINCT) cannot answer incrementally because distinct
    counts don't merge. Bitmap words do (r192's structure): ids bucket
    into ``word_bits``-bit words per (keys, day, bucket), a windowed
    ``bit_or`` accumulates each bucket's word across days, and
    ``bit_count`` sums to the exact cumulative distinct per day.

    32-bit words, not 64: the DuckDB twin's BIGINT ``1 << 63``
    overflows the sign bit and errors, so bit 63 is unusable there.

    Scale shape: ONE groupBy to (keys, day, bucket) words — the only
    pass over the data — then the running OR windows over
    (keys, bucket) partitions whose row count is #days per bucket
    (metadata-sized), never over events. Output:
    ``(keys..., day, n_new_or_seen..)`` one row per (keys, day).
    """
    from pyspark.sql import Window

    keys = keys or []
    day = (F.unix_micros(F.col(ts_col)) / F.lit(86_400_000_000)).cast(
        "bigint"
    )
    words = (
        df.select(
            *keys,
            day.alias("day"),
            F.expr(f"{id_col} div {word_bits}").alias("bucket"),
            F.expr(
                f"shiftleft(1L, CAST(pmod({id_col}, {word_bits}) AS INT))"
            ).alias("bit"),
        )
        .groupBy(*keys, "day", "bucket")
        .agg(F.expr("bit_or(bit)").alias("word"))
    )
    w = (
        Window.partitionBy(*keys, "bucket")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    run = words.withColumn("cum_word", F.expr("bit_or(word)").over(w))
    # a bucket contributes its LATEST cumulative word to every later
    # day it appears on; days where a bucket has no new ids still
    # carry the old word because the running OR is per bucket — so the
    # per-day total needs each bucket's most recent word as of that
    # day. Bucket rows exist only on days with new activity, so roll
    # the per-day sums with a second cumulative pass over the per-day
    # DELTAS of bit_count (bit_count(cum) - bit_count(prev cum) is the
    # bucket's new-id count that day; summing deltas per day then
    # running-summing over days gives the exact cumulative distinct).
    prev = F.lag("cum_word").over(
        Window.partitionBy(*keys, "bucket").orderBy("day")
    )
    deltas = run.select(
        *keys,
        "day",
        (
            F.bit_count("cum_word")
            - F.coalesce(F.bit_count(prev), F.lit(0))
        ).alias("_new"),
    )
    per_day = deltas.groupBy(*keys, "day").agg(
        F.sum("_new").alias("n_new_ids")
    )
    w2 = (
        Window.partitionBy(*keys)
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return per_day.select(
        *keys,
        "day",
        "n_new_ids",
        F.sum("n_new_ids").over(w2).alias("n_distinct_cum"),
    )


def period_over_period(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    keys: list[str] | None = None,
    period: str = "month",
    scale: int = 4,
) -> DataFrame:
    """Period-over-period deltas — the MoM/YoY report every OLAP
    dashboard opens with. Per (keys, period-bucket): the floor-scaled
    integer value sum, the PREVIOUS period's sum (lag over the
    per-key period order), the signed absolute delta, and
    ``ratio_permille`` = current·1000 div previous (exact integer;
    NULL for the first period). Positive-over-positive integer
    division truncates identically in Spark (`div`) and DuckDB (`//`),
    so the ratio is engine-exact without touching floats or the
    floor-vs-truncate divergence signed division would hit.

    Scale shape: ONE groupBy to (keys, period) partial-aggregated
    buckets — the only pass over the data — then the lag window runs
    over per-key PERIOD rows (dozens), metadata-sized at any corpus
    size. ``period`` is any ``date_trunc`` unit (month, week, day,
    quarter, year).
    """
    keys = keys or []
    bucket = F.date_trunc(period, F.col(ts_col)).cast("date")
    agg = (
        df.select(
            *keys,
            bucket.alias("period_start"),
            fixed(value_col, scale).alias("_v"),
        )
        .groupBy(*keys, "period_start")
        .agg(F.sum("_v").alias("value_scaled"))
    )
    w = Window.partitionBy(*keys).orderBy("period_start")
    prev = F.lag("value_scaled").over(w)
    return agg.select(
        *keys,
        "period_start",
        "value_scaled",
        prev.alias("prev_scaled"),
        (F.col("value_scaled") - prev).alias("delta_scaled"),
        F.expr("value_scaled * 1000 div prev_scaled").alias(
            "ratio_permille"
        ),
    )


def activity_streaks(
    df: DataFrame,
    ts_col: str,
    id_col: str,
) -> DataFrame:
    """Consecutive-day activity streaks per id — the gaps-and-islands
    classic (login streaks, SLA uptime runs, habit analytics). Days
    with ≥1 event collapse to distinct (id, day) rows; the island key
    is ``day − row_number`` over the per-id day order (consecutive
    days share it — the Tabibitosan trick), and per id the operator
    reports total active days, number of islands, the LONGEST streak
    length, and the start day of that longest streak (earliest start
    on ties, pinned).

    Scale shape: ONE distinct to (id, day) — the only shuffle over
    the data — then both windows partition BY ID over that id's
    active-day rows (≤ #days each, metadata-sized per key), and the
    final groupBy(id) folds islands. Day = epoch_us div 86400e6, the
    engine-exact day bucket used across the registry.
    """
    day = (F.unix_micros(F.col(ts_col)) / F.lit(86_400_000_000)).cast(
        "bigint"
    )
    days = df.select(
        F.col(id_col).alias("id"), day.alias("day")
    ).distinct()
    w = Window.partitionBy("id").orderBy("day")
    islands = days.withColumn(
        "island", F.col("day") - F.row_number().over(w)
    )
    per_island = islands.groupBy("id", "island").agg(
        F.count("*").alias("streak_len"),
        F.min("day").alias("streak_start"),
    )
    return per_island.groupBy("id").agg(
        F.sum("streak_len").alias("n_active_days"),
        F.count("*").alias("n_streaks"),
        F.max("streak_len").alias("longest_streak"),
        F.min_by(
            "streak_start", F.struct(-F.col("streak_len"), F.col("streak_start"))
        ).alias("longest_start_day"),
    ).select(
        F.col("id").alias("user_id"),
        "n_active_days",
        "n_streaks",
        "longest_streak",
        "longest_start_day",
    )


def rolling_range_sum(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    keys: list[str] | None = None,
    window_days: int = 7,
    scale: int = 4,
) -> DataFrame:
    """Trailing N-day rolling sum per key — the RANGE-frame moving
    aggregate (7-day revenue, 28-day actives) that ROWS frames get
    WRONG whenever days are missing: the frame must span a VALUE
    range of the day number, not a row count, so a gap narrows the
    window instead of silently reaching further back. Spark
    ``rangeBetween(-(N-1), 0)`` over the integer day; the r213 DuckDB
    twin uses ``RANGE BETWEEN N-1 PRECEDING AND CURRENT ROW`` — both
    SQL-standard, so the frame semantics themselves are what the hash
    compares. Also emits ``n_days_in_window`` (count over the same
    frame) so a silent frame slip shows twice.

    Scale shape: ONE groupBy to (keys, day) floor-scaled partial sums
    — the only pass over the data — then the RANGE window runs over
    per-key DAY rows (metadata-sized). All-BIGINT.
    """
    keys = keys or []
    day = (F.unix_micros(F.col(ts_col)) / F.lit(86_400_000_000)).cast(
        "bigint"
    )
    daily = (
        df.select(
            *keys,
            day.alias("day"),
            fixed(value_col, scale).alias("_v"),
        )
        .groupBy(*keys, "day")
        .agg(F.sum("_v").alias("day_sum"))
    )
    w = (
        Window.partitionBy(*keys)
        .orderBy("day")
        .rangeBetween(-(window_days - 1), 0)
    )
    return daily.select(
        *keys,
        "day",
        "day_sum",
        F.sum("day_sum").over(w).alias("rolling_sum"),
        F.count("*").over(w).alias("n_days_in_window"),
    )


def sliding_distinct(
    df: DataFrame,
    ts_col: str,
    id_col: str,
    keys: list[str] | None = None,
    window_days: int = 7,
    word_bits: int = 32,
) -> DataFrame:
    """EXACT trailing-N-day distinct count per day — the WAU/MAU
    family ("distinct users in the last 7 days, every day"), which
    COUNT(DISTINCT) can only answer by re-scanning N days of raw
    events PER OUTPUT DAY. Bitmap words make the window mergeable
    (r192/r203's structure): ids fold once into per-(keys, day,
    bucket) words, each word PROPAGATES to the ≤ N−1 following days
    it should count toward (an explode by the window length —
    metadata-sized rows, bounded fan-out), a bit_or merges per
    (keys, day, bucket), and bit_count sums to the exact sliding
    distinct. Output days are clamped to days the key actually has
    events (the twin's day spine).

    The r219 DuckDB twin computes the SAME numbers by the opposite
    plan — a days×events BETWEEN join + COUNT(DISTINCT) — so a
    propagation off-by-one, a word-boundary error, or a spine drift
    breaks the hash.

    Scale shape: ONE groupBy over the data (the word fold); the
    propagate-merge-count stages all run over (keys × buckets × days)
    word rows — at 100 TB that is megabytes, and each day's WAU is an
    incremental merge away, never a 7-day rescan.
    """
    keys = keys or []
    day = (F.unix_micros(F.col(ts_col)) / F.lit(86_400_000_000)).cast(
        "bigint"
    )
    words = (
        df.select(
            *keys,
            day.alias("day"),
            F.expr(f"{id_col} div {word_bits}").alias("bucket"),
            F.expr(
                f"shiftleft(1L, CAST(pmod({id_col}, {word_bits}) AS INT))"
            ).alias("bit"),
        )
        .groupBy(*keys, "day", "bucket")
        .agg(F.expr("bit_or(bit)").alias("word"))
    )
    targets = words.select(
        *keys,
        F.explode(
            F.sequence(
                F.col("day"), F.col("day") + F.lit(window_days - 1)
            )
        ).alias("day_t"),
        "bucket",
        "word",
    )
    merged = targets.groupBy(*keys, "day_t", "bucket").agg(
        F.expr("bit_or(word)").alias("w")
    )
    per_day = merged.groupBy(*keys, "day_t").agg(
        F.sum(F.bit_count("w")).alias("n_active")
    )
    spine = df.select(*keys, day.alias("day_t")).distinct()
    return per_day.join(
        spine, on=[*keys, "day_t"], how="left_semi"
    ).select(*keys, F.col("day_t").alias("day"), "n_active")


def interval_concurrency(
    intervals: DataFrame,
    start_col: str,
    end_col: str,
) -> DataFrame:
    """Concurrency curve over CLOSED integer intervals — "how many
    orders/sessions/jobs were in flight on each day" plus its peak,
    the occupancy question behind capacity planning. The engine uses
    the SWEEP-LINE formulation: every interval emits (+1 at start,
    −1 at end+1), deltas aggregate per boundary day, and ONE global
    running sum (the two-phase ``ranking.global_running_sum`` — never
    an unpartitioned data window) yields the exact count in flight on
    each boundary day. Θ(n) work + a prefix sum over ≤ 2·distinct
    boundary days, vs the days×intervals inequality join the r221
    DuckDB twin deliberately uses — two opposite algorithms, one
    answer.

    Output: ``(day, n_open)`` for every boundary day (between
    boundaries the curve is constant, so these rows ARE the full
    step function). Peak concurrency = ``max(n_open)`` one aggregate
    away.
    """
    from datalake_backend_spark.operators.ranking import global_running_sum

    deltas = (
        intervals.select(
            F.col(start_col).cast("bigint").alias("day"),
            F.lit(1).cast("bigint").alias("_d"),
        )
        .unionByName(
            intervals.select(
                (F.col(end_col) + 1).cast("bigint").alias("day"),
                F.lit(-1).cast("bigint").alias("_d"),
            )
        )
        .groupBy("day")
        .agg(F.sum("_d").alias("delta"))
    )
    return global_running_sum(deltas, ["day"], "delta", out_col="n_open").select(
        "day", "n_open"
    )


def ohlc_bars(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    seq_col: str,
    keys: list[str] | None = None,
    bucket: str = "day",
    scale: int = 4,
) -> DataFrame:
    """OHLC candlestick bars: per key and time bucket, the open
    (first value), high, low, close (last value), tick count, and
    exact turnover — the market-data / sensor-telemetry rollup that
    turns a raw tick stream into charting bars.

    ONE hash aggregate, zero windows, zero shuffles beyond the
    groupBy: open/close use ``min_by`` / ``max_by`` over the
    composite ``struct(ts, seq)`` ordering key, so ties at the same
    timestamp resolve deterministically by ``seq_col`` (any unique
    id). Turnover sums ``floor(value·10^scale)`` BIGINTs — exact and
    engine-independent (``core.exact.scaled_sum``'s recipe). Map-side
    partial aggregation applies (plain hash agg), so at 100 TB each
    executor pre-folds its ticks before the single shuffle on
    (keys, bucket)."""
    keys = keys or []
    order = F.struct(F.col(ts_col), F.col(seq_col))
    return df.groupBy(
        *keys, F.date_trunc(bucket, F.col(ts_col)).alias("bucket_ts")
    ).agg(
        F.min_by(F.col(value_col), order).alias("open"),
        F.max(value_col).alias("high"),
        F.min(value_col).alias("low"),
        F.max_by(F.col(value_col), order).alias("close"),
        F.count("*").alias("n_ticks"),
        scaled_sum(value_col, scale).alias("turnover"),
    )


def max_drawdown(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    seq_col: str,
    keys: list[str] | None = None,
    scale: int = 4,
) -> DataFrame:
    """Maximum drawdown of the running cumulative sum of
    ``value_col`` per key: the largest peak-to-trough decline of the
    equity curve — the standard risk metric for any cumulative
    series (P&L, battery charge, reservoir level).

    All-integer and engine-exact: values scale to
    ``floor(v·10^scale)`` BIGINTs, the cumulative sum and its
    running maximum are integer window folds, and the drawdown
    ``peak − cum`` stays integer until the final exact division.
    Emits per key: ``max_drawdown``, the final cumulative value,
    the number of new-high ticks, and n.

    Scale shape: the running-max-of-cumsum recurrence is inherently
    sequential PER KEY (two ordered window folds over the key's
    ticks); parallelism comes from the key dimension, the same
    contract as ``running_total`` / ``activity_streaks``. For a
    single global series at extreme scale the two-phase
    per-partition prefix idiom (``packing.py``) applies to both
    folds; keyed telemetry never needs it."""
    keys = keys or []
    w = Window.partitionBy(*keys).orderBy(ts_col, seq_col)
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    cum = df.withColumn("_cum", F.sum(fixed(value_col, scale)).over(run))
    peaked = cum.withColumn("_peak", F.max("_cum").over(run))
    return peaked.groupBy(*keys).agg(
        unscale(F.max(F.col("_peak") - F.col("_cum")), scale).alias(
            "max_drawdown"
        ),
        unscale(
            F.max_by(F.col("_cum"), F.struct(F.col(ts_col), F.col(seq_col))),
            scale,
        ).alias("final_value"),
        F.sum(
            F.when(F.col("_cum") == F.col("_peak"), 1).otherwise(0)
        ).alias("n_new_highs"),
        F.count("*").alias("n"),
    )


def autocorrelation(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    keys: list[str] | None = None,
    lags: tuple[int, ...] = (1, 7),
    bucket: str = "day",
    scale: int = 4,
) -> DataFrame:
    """Lag-k autocorrelation of a bucketed series per key: aggregate
    to one exact scaled-integer value per (key, bucket), pair each
    bucket with the bucket ``lag`` periods earlier (pairs form only
    where BOTH exist — missing buckets drop the pair, the standard
    sample-ACF-on-observed convention), then Pearson over the integer
    pairs: the five moment sums are ``core.exact.moment_sums`` over the
    integer series (DECIMAL(38,0)), combined in one shared double
    expression, bit-exact on any engine.

    Scale shape: one hash aggregate collapses raw rows to the series;
    each lag is ONE equi-join of the series with itself on the
    shifted bucket date (no window over raw data, no per-key sort);
    moments are a second hash aggregate. Series length per key is
    bucket-granularity bounded, so the join input is metadata-sized
    relative to the raw table.

    ``bucket`` must be a calendar-date unit (day/week/month/quarter/
    year): the lag shift moves by ``lag`` BUCKETS (7·lag days for
    week, add_months for month/quarter/year), so lag-k always means
    k periods regardless of unit. Sub-day units are rejected — the
    bucket key is a DATE, which would silently merge hours."""
    keys = keys or []
    bucket_shift = {
        "day": lambda d, k: F.date_add(d, k),
        "week": lambda d, k: F.date_add(d, 7 * k),
        "month": lambda d, k: F.add_months(d, k),
        "quarter": lambda d, k: F.add_months(d, 3 * k),
        "year": lambda d, k: F.add_months(d, 12 * k),
    }
    if bucket not in bucket_shift:
        raise ValueError(
            f"autocorrelation bucket must be one of {sorted(bucket_shift)}, "
            f"got {bucket!r}"
        )
    shift = bucket_shift[bucket]
    # pinned (round-15 scan audit): every lag consumes the
    # series TWICE (shifted + current side of the self-join), so N
    # lags re-ran the raw-data groupBy 2·N times without the cache
    daily = pin(
        df.groupBy(
            *keys, F.to_date(F.date_trunc(bucket, F.col(ts_col))).alias("_d")
        ).agg(F.sum(fixed(value_col, scale)).alias("_v")),
        "timeseries.series",
    )
    outs = []
    for lag in lags:
        prev = daily.select(
            *keys,
            shift(F.col("_d"), lag).alias("_d"),
            F.col("_v").alias("_x"),
        )
        cur = daily.select(*keys, "_d", F.col("_v").alias("_y"))
        m = (
            cur.join(prev, [*keys, "_d"])
            .groupBy(*keys)
            .agg(
                F.count("*").alias("n_pairs"),
                *moment_sums(F.col("_x"), F.col("_y")),
            )
        )
        # combine in DOUBLES from per-moment casts, NOT in decimal
        # with a cast per final factor (spearman_rho's form): a
        # >2^64 exact integer converts to double differently across
        # engines (DuckDB's HUGEINT→double composes two roundings),
        # observed as a 1-ulp acf drift at sf0.1. Each moment must
        # stay within int64 for the casts to be correctly rounded on
        # both sides — pick ``scale`` so Σ(v²·10^2s) < 2^63.
        n = F.col("n_pairs").cast("double")
        sx, sy, sxy, sxx, syy = (
            F.col(c).cast("double") for c in ("_sx", "_sy", "_sxy", "_sxx", "_syy")
        )
        num = n * sxy - sx * sy
        den = F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)
        outs.append(
            m.select(
                *keys,
                F.lit(lag).alias("lag"),
                "n_pairs",
                (num / den).alias("acf"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out
