"""Distribution / histogram statistics (SURVEY §2.6 A13, O4/W8 top-k).

The reference's splitters download refined JSON with boto3 and build
attribute histograms in pure Python (``split_vehicle_data/split_vehicle.py:113-137``
and five siblings, ~30 LoC each). Each is a second-level hash aggregate
here; the global stats are a single-row aggregate over the same silver
table, sharing the scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from datalake_backend_spark.core.exact import DEC, fixed, moment_sums, unscale
from datalake_backend_spark.core.materialize import pin
from datalake_backend_spark.operators.ranking import _bucket_count, keyed_running_sum


def value_distribution(
    df: DataFrame, attr_col: str, weight_col: str | None = None
) -> DataFrame:
    """Histogram of ``attr_col`` values: ``(value, n, pct)`` — the
    splitter's gender/class/lane distributions, plus the share-of-total
    the Kibana pie charts display.

    The share-of-total is a broadcast scalar cross-join, NOT a
    partition-less window: ``OVER ()`` funnels every group through one
    WindowExec partition, a serializer at token-distribution
    cardinality; the single-row total broadcast keeps the plan fully
    parallel at any group count. The input is still scanned ONCE —
    both branches consume the same hash exchange, which AQE reuses at
    runtime (``ReusedExchange`` in the final adaptive plan; pinned by
    ``tests/test_plan_shape.py``)."""
    n = F.sum(F.col(weight_col)) if weight_col else F.count("*")
    counted = df.groupBy(F.col(attr_col).alias("value")).agg(n.cast("long").alias("n"))
    total = counted.agg(F.sum("n").alias("_total"))
    return (
        counted.crossJoin(F.broadcast(total))
        .withColumn("pct", F.col("n") / F.col("_total") * 100.0)
        .drop("_total")
    )


def numeric_summary(df: DataFrame, cols: list[str]) -> DataFrame:
    """Single-row global summary: avg/min/max/sum per numeric column
    (the splitters' statistics blocks —
    ``split_people_data/split_people.py:137-159``)."""
    aggs: list[Column] = [F.count("*").alias("n_rows")]
    for c in cols:
        aggs += [
            F.avg(c).alias(f"avg_{c}"),
            F.min(c).alias(f"min_{c}"),
            F.max(c).alias(f"max_{c}"),
            F.sum(c).alias(f"sum_{c}"),
        ]
    return df.agg(*aggs)


def top_k_per_group(
    df: DataFrame,
    group_cols: list[str],
    order_col: str,
    k: int,
    descending: bool = True,
    tie_break: list[str] | None = None,
) -> DataFrame:
    """Top-k rows per group via ``row_number`` (W8 — the Kibana
    "per-vehicle max speed" visualizations; deterministic with explicit
    tie-break columns)."""
    ordering = [F.col(order_col).desc() if descending else F.col(order_col).asc()]
    ordering += [F.col(c).asc() for c in (tie_break or [])]
    w = Window.partitionBy(*group_cols).orderBy(*ordering)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .withColumnRenamed("_rn", "rank")
    )


def approx_distinct_rollup(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    rsd: float = 0.02,
) -> DataFrame:
    """Cardinality rollup with BOTH the exact count and the HLL++
    sketch estimate (``approx_count_distinct``), per key.

    At 100 TB the sketch is the operator of record: it carries O(1)
    state per group instead of a distinct-set shuffle, merges
    register-wise (commutative/associative → deterministic regardless
    of partitioning), and composes with incremental state tables
    (operators/incremental.py) where exact COUNT(DISTINCT) cannot be
    merged at all. The exact twin here exists to measure the sketch:
    r99 asserts the estimate lands within the configured error band,
    which a wrong-register merge or hash change would break."""
    return df.groupBy(*keys).agg(
        F.countDistinct(value_col).alias("n_exact"),
        F.approx_count_distinct(value_col, rsd).alias("n_approx"),
    )


def profile_table(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """ANALYZE-style column profile: one output row per column with
    row count, null count, distinct count, and min/max rendered as
    strings — the table-health snapshot every ingest zone wants after
    a load, and the input to partition/broadcast planning decisions.

    Scale shape: a SINGLE aggregate pass computes every per-column
    statistic at once (one job, map-side partials; distinct counts are
    exact here — swap in approx_count_distinct at web scale), then one
    ``stack`` unpivots the 1-row result into the per-column layout —
    no per-column scans, no driver loop over columns.
    """
    cols = cols or df.columns
    aggs = [F.count(F.lit(1)).alias("_rows")]
    for c in cols:
        aggs += [
            F.count(c).alias(f"{c}__nn"),
            F.countDistinct(c).alias(f"{c}__nd"),
            # aggregate on the NATIVE type, render afterwards — casting
            # first would make numeric min/max lexicographic ("99">"499")
            F.min(c).cast("string").alias(f"{c}__mn"),
            F.max(c).cast("string").alias(f"{c}__mx"),
        ]
    one = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', {c}__nn, {c}__nd, {c}__mn, {c}__mx" for c in cols
    )
    return one.select(
        F.col("_rows").alias("n_rows"),
        F.expr(
            f"stack({len(cols)}, {stack_args}) AS "
            "(column, n_nonnull, n_distinct, min_str, max_str)"
        ),
    ).select(
        "column",
        "n_rows",
        (F.col("n_rows") - F.col("n_nonnull")).alias("n_nulls"),
        "n_distinct",
        "min_str",
        "max_str",
    )


def heavy_hitters(
    df: DataFrame, col: str, min_share: float = 0.001
) -> DataFrame:
    """EXACT frequent-items query without a full-cardinality shuffle:
    every value whose global share is ≥ ``min_share`` of the rows, with
    its exact count.

    Scale shape (candidate → verify, the Misra-Gries/space-saving
    two-phase): stage 1 is one Arrow ``mapInPandas`` pass per partition
    — vectorized value_counts folded across batches — that emits ONLY
    values whose local count exceeds ``n_p / k`` (k = ⌈1/min_share⌉):
    fewer than k rows leave each partition regardless of column
    cardinality. Pigeonhole guarantees completeness: if a value's
    global count exceeds N/k, some partition holds it above its local
    bar, so the candidate union contains every true heavy hitter.
    Stage 2 rescans with a broadcast semi-join on the candidate set and
    counts exactly; false candidates fall out of the final HAVING. A
    plain groupBy on a 100 TB high-cardinality column shuffles (and
    spills) one partial per distinct value; this shuffles < k·partitions
    candidate rows plus the exact counts of ≤ that many survivors.
    """
    import math
    from collections.abc import Iterator

    import pandas as pd

    k = max(1, math.ceil(1.0 / min_share))
    values = df.select(F.col(col).alias("value")).where(
        F.col("value").isNotNull()
    )

    def local_candidates(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # one pass over the partition's Arrow batches: vectorized
        # value_counts per batch folded into one dict, then emit only
        # values above the local n_p/k bar — fewer than k rows leave
        # the partition no matter the column's cardinality
        counts: dict = {}
        total = 0
        for pdf in it:
            for v, c in pdf["value"].value_counts().items():
                counts[v] = counts.get(v, 0) + int(c)
            total += len(pdf)
        # NON-strict bar: with a strict one, a value sitting at exactly
        # N/k spread perfectly evenly (c_p == n_p/k in every partition)
        # would be a heavy hitter yet a candidate nowhere. c ≥ N/k ⇒
        # some partition has c_p ≥ n_p/k, so ≥ keeps completeness.
        keep = [v for v, c in counts.items() if c * k >= total]
        yield pd.DataFrame({"value": keep})

    candidates = values.mapInPandas(
        local_candidates, values.schema
    ).distinct()
    n_total = values.count()
    threshold = math.ceil(n_total * min_share)
    return (
        values
        .join(F.broadcast(candidates), "value", "left_semi")
        .groupBy("value")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") >= threshold)
        .select(
            "value",
            "cnt",
            (F.col("cnt") / F.lit(n_total)).alias("share"),
        )
    )


def exact_percentiles(
    df: DataFrame,
    value_col: str,
    quantiles: list[tuple[int, int]],
    keys: list[str] | None = None,
) -> DataFrame:
    """Per-key EXACT linear-interpolated percentiles from ORDER
    STATISTICS — the scale-proof, engine-proof replacement for the
    built-in ``percentile``: Spark's `percentile` and DuckDB's
    `quantile_cont` share the definition but their internal position
    arithmetic can land 1 ulp apart past ~10⁵ rows/group (the
    r38/r107/spearman caveat class this operator closes). Here the
    position is EXACT RATIONAL arithmetic — for q = num/den over n
    rows, ``pos = (n−1)·num``; lower rank = ``pos div den + 1``,
    ``rem = pos mod den`` — BIGINT ``div``/``%`` all the way (round-12
    ADVICE: the earlier ``floor(pos / den)`` double division was only
    provably exact while ``(n−1)·num < 2⁵³``), the two order
    statistics are selected by integer rank, and the one interpolation
    ``lower + (rem/den)·(upper−lower)`` is an identical double
    expression any engine reproduces bit-for-bit from identical
    inputs. NULL values are dropped before the tie-aggregate, matching
    Spark ``percentile()`` and DuckDB ``quantile_cont`` NULL semantics
    (round-12 ADVICE: a NULL tie-group would otherwise occupy ranks
    and silently shift every quantile; the SQL twins mirror the
    filter).

    Scale shape: ranks come from the tie-aggregated two-phase keyed
    prefix sum (``ranking.keyed_running_sum``) — never a per-key sort
    through one reducer (the built-in `percentile` aggregate
    materializes each group's values in ONE aggregation buffer, the
    same single-reducer hazard in different clothes). One conditional
    aggregate then folds the ≤ 2·|quantiles| selected rows per key.
    Output: one row per key with a ``p_<num>_<den>`` column per
    quantile."""
    keys = keys or []
    g = (
        df.where(F.col(value_col).isNotNull())
        .groupBy(*keys, value_col)
        .agg(F.count("*").alias("_cnt"))
    )
    # each distinct value covers 1-based ranks (_hi−_cnt+1 .. _hi);
    # total_col rides the offsets metadata — no separate tot aggregate
    d = keyed_running_sum(
        g, keys, [value_col], "_cnt", out_col="_hi", total_col="_n"
    )
    aggs = []
    for i, (num, den) in enumerate(quantiles):
        # BIGINT position arithmetic via SQL div/% on a materialized
        # column (pyspark exposes no integer-div Column op)
        d = d.withColumn(
            f"_pos{i}", ((F.col("_n") - 1) * F.lit(num)).cast("bigint")
        )
        lo_rank = F.expr(f"_pos{i} div {den}") + 1
        rem = F.expr(f"_pos{i} % {den}")
        lo = F.min(
            F.when(
                (lo_rank >= F.col("_hi") - F.col("_cnt") + 1)
                & (lo_rank <= F.col("_hi")),
                F.col(value_col),
            )
        )
        hi = F.min(
            F.when(
                (lo_rank + 1 >= F.col("_hi") - F.col("_cnt") + 1)
                & (lo_rank + 1 <= F.col("_hi")),
                F.col(value_col),
            )
        )
        frac = F.max(rem).cast("double") / F.lit(float(den))
        aggs.append(
            (
                lo.cast("double")
                + frac
                * (F.coalesce(hi, lo).cast("double") - lo.cast("double"))
            ).alias(f"p_{num}_{den}")
        )
    return d.groupBy(*keys).agg(*aggs) if keys else d.groupBy().agg(*aggs)


def bucketize_by_quantiles(
    df: DataFrame,
    value_col: str,
    n_buckets: int = 4,
    keys: list[str] | None = None,
    out_col: str = "bucket",
) -> DataFrame:
    """Quantile discretization: assign each row the bucket
    ``#{boundaries b < value}`` where the boundaries are the EXACT
    interpolated percentiles at i/n (per ``keys`` group, or global) —
    ties sit in the lower bucket. Exact percentiles interpolate
    identically in Spark and DuckDB (probed by the r107 row), and the
    bucket rule is pure comparisons, so the assignment is
    cross-engine-exact.

    Scale shape: one aggregate computes ALL boundaries (per-group sort
    inside `percentile` — swap in approx_percentile at 100 TB for
    O(1/ε) state, same assignment stage), a broadcast join ships the
    tiny boundary table, and the assignment is a map-only fold over
    the n−1 boundaries."""
    keys = keys or []
    qs = ", ".join(repr(i / n_buckets) for i in range(1, n_buckets))
    b = df.groupBy(*keys).agg(
        F.expr(f"percentile({value_col}, array({qs}))").alias("_bs")
    )
    joined = df.join(F.broadcast(b), keys) if keys else df.crossJoin(
        F.broadcast(b)
    )
    return joined.withColumn(
        out_col,
        F.aggregate(
            F.col("_bs"),
            F.lit(0),
            lambda acc, x: acc + (F.col(value_col) > x).cast("int"),
        ),
    ).drop("_bs")


def distribution_shift(
    df_a: DataFrame, df_b: DataFrame, col: str
) -> DataFrame:
    """Per-value drift between two snapshots of a categorical column:
    ``(value, cnt_a, cnt_b, shift_num)`` where ``shift_num =
    |cnt_a·n_b − cnt_b·n_a|`` — the INTEGER numerator of
    ``|share_a − share_b|`` over the common denominator ``n_a·n_b``.
    Working in integers keeps every row exact in any engine; divide at
    the end (see :func:`total_variation`). Values absent from one side
    count as zero. Two hash aggregates + one outer join on the value.
    Each side's count frame is pinned (round-15 scan audit:
    the totals and the join both consume it, and without the cache each
    consumer re-ran the raw-data groupBy — 4 full input scans for 2
    aggregates)."""
    ca = pin(
        df_a.select(F.col(col).alias("value"))
        .groupBy("value")
        .agg(F.count(F.lit(1)).alias("cnt_a")),
        "distributions.counts_a",
    )
    cb = pin(
        df_b.select(F.col(col).alias("value"))
        .groupBy("value")
        .agg(F.count(F.lit(1)).alias("cnt_b")),
        "distributions.counts_b",
    )
    na = ca.agg(F.sum("cnt_a").alias("_na"))
    nb = cb.agg(F.sum("cnt_b").alias("_nb"))
    joined = (
        ca.join(cb, "value", "full_outer")
        .na.fill({"cnt_a": 0, "cnt_b": 0})
        .crossJoin(F.broadcast(na))
        .crossJoin(F.broadcast(nb))
    )
    return joined.select(
        "value",
        "cnt_a",
        "cnt_b",
        F.abs(
            F.col("cnt_a") * F.col("_nb") - F.col("cnt_b") * F.col("_na")
        ).alias("shift_num"),
        F.col("_na").alias("n_a"),
        F.col("_nb").alias("n_b"),
    )


def total_variation(df_a: DataFrame, df_b: DataFrame, col: str) -> DataFrame:
    """Total-variation distance between the two columns' distributions:
    ``TV = Σ|share_a − share_b| / 2`` — the drift-monitoring scalar a
    lake gate alarms on. The sum runs over the exact integer numerators
    (order-independent), so the single final division is the only
    float op and the result is bit-identical in any engine."""
    per = distribution_shift(df_a, df_b, col)
    return per.groupBy("n_a", "n_b").agg(
        F.sum("shift_num").alias("_num"),
        F.count(F.lit(1)).alias("n_values"),
    ).select(
        "n_a",
        "n_b",
        "n_values",
        (
            F.col("_num")
            / (F.lit(2.0) * F.col("n_a") * F.col("n_b"))
        ).alias("tv_distance"),
    )


def exact_corr(
    df: DataFrame,
    x_col: str,
    y_col: str,
    keys: list[str] | None = None,
    scale: int = 4,
) -> DataFrame:
    """Pearson correlation that is bit-identical in any engine: the
    five moments (Σx, Σy, Σxy, Σx², Σy²) accumulate as EXACT integers
    of ``floor(v·10^scale)`` (identical doubles floor identically;
    integer sums are order-independent), and only the final closed-form
    combination runs in floats — the same expression shape on both
    sides gives the same IEEE result. Native ``corr()`` accumulates
    doubles in partition order and drifts at the last ulp between
    engines/partitionings; this is the oracle-stable replacement, at
    the cost of 10^-scale input quantization."""
    keys = keys or []
    # per-row floor(v·10^s) is an integral double < 2^53 (exact); the
    # sums accumulate as DECIMAL(38,0) — Σy²·10^s overflows int64 on
    # wide-range columns (DuckDB's SUM promotes to HUGEINT, so the twin
    # is SUM(CAST(... AS HUGEINT)))
    agg = df.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n"),
        *moment_sums(F.col(x_col), F.col(y_col), scale),
    )
    sx, sy, sxy, sxx, syy = (
        unscale(c, scale) for c in ("_sx", "_sy", "_sxy", "_sxx", "_syy")
    )
    n = F.col("n")
    num = n * sxy - sx * sy
    den = F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
    return agg.select(*keys, "n", (num / den).alias("corr"))


def group_ols(
    df: DataFrame,
    x_col: str,
    y_col: str,
    keys: list[str] | None = None,
    scale: int = 4,
) -> DataFrame:
    """Per-group ordinary-least-squares fit ``y = slope·x + intercept``
    that is bit-identical in any engine — the same five integer
    moments as :func:`exact_corr` (floor-scaled, order-independent
    sums), with only the closed-form combination in floats and the
    same expression SHAPE on both sides (identical IEEE results).
    Returns ``(keys..., n, slope, intercept, r2)`` — the trend/
    drift-detection primitive (is price still linear in quantity? is
    latency creeping with load?) that native ``regr_slope`` computes
    with engine-specific double accumulation order."""
    keys = keys or []
    agg = df.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n"),
        *moment_sums(F.col(x_col), F.col(y_col), scale),
    )
    sx, sy, sxy, sxx, syy = (
        unscale(c, scale) for c in ("_sx", "_sy", "_sxy", "_sxx", "_syy")
    )
    n = F.col("n")
    num = n * sxy - sx * sy
    denx = n * sxx - sx * sx
    deny = n * syy - sy * sy
    slope = num / denx
    return agg.select(
        *keys,
        "n",
        slope.alias("slope"),
        ((sy - slope * sx) / n).alias("intercept"),
        ((num * num) / (denx * deny)).alias("r2"),
    )


def cuped_adjusted(
    df: DataFrame,
    arm_col: str,
    x_col: str,
    y_col: str,
    scale: int = 4,
) -> DataFrame:
    """CUPED variance-reduced experiment readout (Deng et al.,
    controlled-experiment variance reduction using pre-experiment data
    — public literature): per experiment arm, the raw metric mean and
    the covariate-adjusted mean ``ȳ_a − θ·(x̄_a − x̄)`` with
    ``θ = cov(X,Y)/var(X)`` estimated over ALL units — the standard
    trick that removes pre-period variance from an A/B readout without
    changing its expectation.

    Exactness: the moments are ``core.exact.moment_sums`` (floor-scaled
    DECIMAL(38,0) integers, order-independent; Σy² is not needed), and
    only the closed-form combination runs in doubles with the same
    expression SHAPE as the SQL twin (identical IEEE results). One
    unit-level aggregate, one arm-level aggregate, one broadcast of the
    1-row global moments."""
    per_arm = df.groupBy(arm_col).agg(
        F.count(F.lit(1)).alias("n"),
        *moment_sums(F.col(x_col), F.col(y_col), scale)[:4],
    )
    glob = per_arm.agg(
        F.sum("n").alias("_bn"),
        F.sum("_sx").alias("_gx"),
        F.sum("_sy").alias("_gy"),
        F.sum("_sxy").alias("_gxy"),
        F.sum("_sxx").alias("_gxx"),
    )
    bn = F.col("_bn")
    gx, gy, gxy, gxx = (unscale(c, scale) for c in ("_gx", "_gy", "_gxy", "_gxx"))
    theta = (bn * gxy - gx * gy) / (bn * gxx - gx * gx)
    n = F.col("n")
    sx, sy = unscale("_sx", scale), unscale("_sy", scale)
    return (
        per_arm.crossJoin(F.broadcast(glob))
        .select(
            arm_col,
            "n",
            (sy / n).alias("mean_y"),
            (sy / n - theta * (sx / n - gx / bn)).alias("mean_y_adj"),
            theta.alias("theta"),
        )
    )


def _chi2_cells(
    df: DataFrame, row_col: str, col_col: str, scale: int
) -> DataFrame:
    """The contingency cells of ``row_col`` × ``col_col`` — observed
    count ``o``, row total ``r``, column total ``c``, grand total ``t``
    — each with its scaled χ² term ``_term`` (see
    :func:`chi_square_contingency` for the formula and its range)."""
    cells = df.groupBy(row_col, col_col).agg(F.count("*").alias("o"))
    rows = cells.groupBy(row_col).agg(F.sum("o").alias("r"))
    cols = cells.groupBy(col_col).agg(F.sum("o").alias("c"))
    tot = cells.agg(F.sum("o").alias("t"))
    return (
        cells.join(rows, row_col)
        .join(F.broadcast(cols), col_col)
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "_term",
            F.expr(
                # square and divisor in DECIMAL(38,0); the quotient is
                # ≤ scale·T (fits bigint), so only intermediates widen.
                # Division must be EXACT: decimal `/` rounds HALF_UP at
                # scale 6, so floor(a/b) floors one high when the true
                # quotient sits within 5e-7 below an integer. The outer
                # division uses `div` (IntegralDivide: exact integer
                # quotient, truncation == floor for these non-negative
                # operands, matches DuckDB //). The INNER quotient
                # r·c·t/scale can reach T³/scale ≫ bigint, where `div`
                # silently wraps — so it uses the remainder identity
                # (a - a % b) / b, whose quotient is an exact integer
                # and therefore representable at the result scale.
                f"  (cast(o * t - r * c as {DEC})"
                f"   * cast(o * t - r * c as {DEC}))"
                f" div greatest(cast(1 as {DEC}),"
                f"  (cast(r as {DEC}) * c * t"
                f"   - (cast(r as {DEC}) * c * t) % {scale})"
                f"  / {scale})"
            ),
        )
    )


def chi_square_contingency(
    df: DataFrame,
    row_col: str,
    col_col: str,
    scale: int = 10**6,
) -> DataFrame:
    """Chi-square independence statistic between two categorical
    columns, computed ENTIRELY in BIGINT so it hashes identically in
    any engine: with observed count o, row total r, column total c and
    grand total T, each cell contributes

        floor((o·T − r·c)² / max(1, floor((r·c·T) / scale)))

    — algebraically ``scale · (o − rc/T)²/(rc/T)``. The difference
    ``o·T − r·c`` stays in BIGINT (|o·T − r·c| ≤ T², int64-safe to
    T ≈ 3·10⁹ rows) but its SQUARE and the ``r·c·T`` divisor are
    Θ(T⁴)/Θ(T³) and are accumulated in DECIMAL(38,0) like
    :func:`group_ols` — a pure-int64 square wraps silently past
    T ≈ 5·10⁴ worst case. Exact for tables up to ~3·10⁹ rows; beyond
    that, pre-aggregate. Returns one row per ``row_col`` value with its
    cells' contribution plus the shared totals — the screening
    statistic for "are these two columns independent?" (feature
    selection, drift between categorical marginals, stratification
    checks). Plain two-level hash aggregation, no shuffle beyond the
    contingency groupBy."""
    return (
        _chi2_cells(df, row_col, col_col, scale)
        .groupBy(row_col)
        .agg(
            F.sum("_term").alias("chi2_part_scaled"),
            F.count("*").alias("n_cells"),
            F.max("t").alias("n_total"),
        )
    )


def ecdf_percentile(
    probe: DataFrame,
    probe_col: str,
    ref: DataFrame,
    ref_col: str,
    keep_cols: list[str] | None = None,
    scale: int = 10**6,
) -> DataFrame:
    """Score calibration against an empirical CDF: for every probe row,
    the EXACT percentile of its value under the reference
    distribution — ``count(ref ≤ v) · scale div |ref|`` — the
    quantile-transform / model-score-calibration primitive (map a raw
    score onto the reference population's CDF).

    Scale shape: no correlated lookups, no global sort through one
    reducer. Reference and probe rows union with a weight tag (ref=1,
    probe=0) and the inclusive prefix weight sum comes from the
    two-phase kernel (``ranking.keyed_running_sum`` — value-derived
    buckets, per-bucket windows, metadata offsets; round-13 replaced
    this operator's own ``localCheckpoint`` + ``spark_partition_id``
    variant, the forced-materialization cost the kernel rework
    removed everywhere else). Equal values: reference rows order
    before probe rows within a tie (secondary key −w), so ``≤`` is
    inclusive; probe rows contribute weight 0, so probes never
    perturb each other. ``|ref|`` rides the kernel's ``total_col``
    metadata. Exact `div` keeps the scaled percentile
    engine-independent."""
    keep = keep_cols or []
    # fail fast on an empty reference: `pct div _nr` with _nr=0 is NULL
    # in Spark, which would quietly yield all-NULL percentiles instead
    # of an error (same hazard class as personalized_pagerank's
    # empty-seed guard; the eager probe is one tiny job)
    if ref.isEmpty():
        raise ValueError("ecdf_percentile needs a non-empty reference frame")
    u = ref.select(
        F.col(ref_col).cast("double").alias("_v"),
        F.lit(1).cast("bigint").alias("_w"),
        *[F.lit(None).cast(probe.schema[c].dataType).alias(c) for c in keep],
    ).unionByName(
        probe.select(
            F.col(probe_col).cast("double").alias("_v"),
            F.lit(0).cast("bigint").alias("_w"),
            *keep,
        )
    )
    # secondary order key −w puts ref rows (w=1) before probe rows
    # (w=0) inside a value tie, making the prefix count inclusive
    cum = keyed_running_sum(
        u.withColumn("_negw", -F.col("_w")),
        [],
        ["_v", "_negw"],
        "_w",
        out_col="_cnt",
        total_col="_nr",
    )
    return cum.where(F.col("_w") == 0).select(
        *keep,
        F.col("_v").alias(probe_col),
        F.expr(f"(_cnt * {scale}L) div _nr").alias("pct_scaled"),
    )


def welch_ttest(
    df: DataFrame,
    arm_col: str,
    value_col: str,
    keys: list[str] | None = None,
    scale: int = 4,
) -> DataFrame:
    """Per-group Welch two-sample t statistic that is bit-identical in
    any engine — the A/B-experiment primitive, built like
    :func:`group_ols`: per-arm integer moments (floor-scaled,
    order-independent sums), then ONE closed-form float combination
    with the identical expression shape on both sides.
    ``arm_col`` must be boolean-like (true = treatment). Returns
    ``(keys..., n_a, n_b, mean_a, mean_b, t_stat)`` where ``t =
    (mean_a − mean_b) / sqrt(var_a/n_a + var_b/n_b)`` with sample
    variances. A group with < 2 observations in either arm gets a
    NULL ``t_stat`` (and a NULL mean for an empty arm) — enforced
    with a ``when()`` guard so downstream consumers never see an
    engine-dependent Inf/NaN rendering.

    Scale shape: ONE partial-aggregable groupBy with conditional
    sums — no pivot shuffle, no self-join."""
    keys = keys or []
    arm = F.col(arm_col).cast("boolean")
    s = fixed(value_col, scale).cast(DEC)
    zero = F.lit(0).cast(DEC)
    agg = df.groupBy(*keys).agg(
        F.sum(arm.cast("bigint")).alias("n_a"),
        F.sum((~arm).cast("bigint")).alias("n_b"),
        F.sum(F.when(arm, s).otherwise(zero)).alias("_sa"),
        F.sum(F.when(~arm, s).otherwise(zero)).alias("_sb"),
        F.sum(F.when(arm, s * s).otherwise(zero)).alias("_saa"),
        F.sum(F.when(~arm, s * s).otherwise(zero)).alias("_sbb"),
    )
    sa, sb = unscale("_sa", scale), unscale("_sb", scale)
    saa, sbb = unscale("_saa", scale, 2), unscale("_sbb", scale, 2)
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    mean_a = sa / na
    mean_b = sb / nb
    var_a = (saa - sa * sa / na) / (na - 1)
    var_b = (sbb - sb * sb / nb) / (nb - 1)
    ok = (F.col("n_a") >= 2) & (F.col("n_b") >= 2)
    return agg.select(
        *keys,
        "n_a",
        "n_b",
        F.when(F.col("n_a") >= 1, mean_a).alias("mean_a"),
        F.when(F.col("n_b") >= 1, mean_b).alias("mean_b"),
        F.when(
            ok, (mean_a - mean_b) / F.sqrt(var_a / na + var_b / nb)
        ).alias("t_stat"),
    )


def winsorized_mean(
    df: DataFrame,
    value_col: str,
    id_col: str,
    keys: list[str] | None = None,
    low_pct: int = 5,
    high_pct: int = 95,
    scale: int = 4,
) -> DataFrame:
    """Per-group winsorized mean with EXACT rank-based bounds: values
    clamp to the group's [p_low, p_high] order statistics (rank over
    the deterministic (value, id) order; ``low_rank = max(1, low·n
    div 100)``, ``high_rank = min(n, high·n div 100 + 1)``) before a
    floor-scaled integer mean — the robust-metric primitive that kills
    outliers without dropping rows. Every step is integer arithmetic,
    so the clamped mean reproduces bit-for-bit in any engine.

    Scale shape: the rank is the two-phase keyed running count
    (``ranking.keyed_running_sum`` — a per-key row_number window over
    raw rows would funnel each group through one reducer, the hazard
    the round-12 sf1.0 sweep exposed in this family), a group-level
    bounds aggregate, a broadcast join of the |groups|-row bounds
    back, and the final partial-aggregable mean."""
    keys = keys or []
    if not keys:
        raise ValueError("winsorized_mean needs at least one group key")
    if not 0 <= low_pct < high_pct <= 100:
        raise ValueError("need 0 <= low_pct < high_pct <= 100")
    s = fixed(value_col, scale)
    # per-group n = grand total of _one, riding the offsets metadata
    # (total_col) — no separate count aggregate or broadcast join
    ranked = keyed_running_sum(
        df.select(*keys, value_col, id_col, s.alias("_s")).withColumn(
            "_one", F.lit(1).cast("bigint")
        ),
        keys,
        [value_col, id_col],
        "_one",
        out_col="_r",
        total_col="n",
    ).select(*keys, "_s", "_r", "n")
    lims = ranked.groupBy(*keys).agg(
        F.max(
            F.when(
                F.col("_r")
                == F.greatest(
                    F.lit(1).cast("bigint"),
                    F.expr(f"{low_pct} * n div 100"),
                ),
                F.col("_s"),
            )
        ).alias("_lo"),
        F.max(
            F.when(
                F.col("_r")
                == F.least(
                    F.col("n"), F.expr(f"{high_pct} * n div 100 + 1")
                ),
                F.col("_s"),
            )
        ).alias("_hi"),
    )
    clamped = ranked.join(F.broadcast(lims), keys).select(
        *keys,
        "n",
        F.greatest(F.least(F.col("_s"), F.col("_hi")), F.col("_lo")).alias(
            "_c"
        ),
    )
    return clamped.groupBy(*keys).agg(
        F.max("n").alias("n"),
        F.expr("sum(_c) div max(n)").alias("win_mean_scaled"),
    )


def benford_profile(
    df: DataFrame,
    value_col: str,
    keys: list[str] | None = None,
    cents: int = 2,
) -> DataFrame:
    """Benford first-significant-digit profile — the fraud/data-quality
    screen: natural multi-scale amounts follow P(d) = log10(1 + 1/d),
    fabricated or truncated columns don't. Emits per leading digit the
    count and the observed rate in permille (exact integers).

    The digit is extracted WITHOUT floating logs: ``floor(log10(v))``
    returns 2.9999999999999996 for some exact powers of ten and the
    digit silently drifts per engine — instead the value is scaled to
    an integer (``floor(v·10^cents)``) and the first character of its
    BIGINT decimal rendering is taken (both Spark and DuckDB render
    BIGINT as plain digits). Non-positive values are excluded (Benford
    is defined on positive magnitudes).

    Scale shape: one partial-aggregable groupBy; the permille needs
    the group total, attached by one broadcast join of #keys rows.
    """
    keys = keys or []
    n = fixed(value_col, cents)
    digits = df.where(F.col(value_col) > 0).select(
        *keys,
        F.substring(n.cast("string"), 1, 1).cast("int").alias("digit"),
    )
    counts = digits.groupBy(*keys, "digit").agg(
        F.count("*").alias("n_values")
    )
    totals = digits.groupBy(*keys).agg(F.count("*").alias("_tot"))
    joined = (
        counts.join(F.broadcast(totals), keys)
        if keys
        else counts.crossJoin(F.broadcast(totals))
    )
    return joined.select(
        *keys,
        "digit",
        "n_values",
        F.expr("n_values * 1000 div _tot").alias("rate_permille"),
    )


def moment_profile(
    df: DataFrame,
    value_col: str,
    keys: list[str] | None = None,
    scale: int = 4,
) -> DataFrame:
    """Per-group skewness and excess kurtosis from integer central
    moments — distribution-SHAPE profiling (heavy tails, asymmetry)
    beyond r104's min/max/mean table profile. Power sums s1..s4
    accumulate as floor-scaled DECIMAL(38,0) (order-independent), then
    ONE closed-form float combination with the identical expression
    shape in the DuckDB twin, so both statistics compare bit-exactly
    (the group_ols / welch_ttest recipe).

    skew = m3 / m2^1.5, kurtosis_excess = m4 / m2² − 3 with population
    central moments mk = E[(x − mean)^k]. Groups need ≥ 2 rows and
    nonzero variance for finite output — NULL otherwise (explicit
    when() guard, never an engine-formatted NaN).
    """
    keys = keys or []
    s = fixed(value_col, scale).cast(DEC)
    agg = df.groupBy(*keys).agg(
        F.count("*").alias("n_obs"),
        F.sum(s).alias("_s1"),
        F.sum(s * s).alias("_s2"),
        F.sum(s * s * s).alias("_s3"),
        F.sum(s * s * s * s).alias("_s4"),
    )
    n = F.col("n_obs").cast("double")
    s1, s2, s3, s4 = (unscale(f"_s{k}", scale, k) for k in range(1, 5))
    mean = s1 / n
    m2 = s2 / n - mean * mean
    m3 = s3 / n - 3 * mean * s2 / n + 2 * mean * mean * mean
    m4 = (
        s4 / n
        - 4 * mean * s3 / n
        + 6 * mean * mean * s2 / n
        - 3 * mean * mean * mean * mean
    )
    ok = (F.col("n_obs") >= 2) & (m2 > 0)
    return agg.select(
        *keys,
        "n_obs",
        mean.alias("mean"),
        F.when(ok, m2).alias("m2"),
        F.when(ok, m3 / F.sqrt(m2 * m2 * m2)).alias("skewness"),
        F.when(ok, m4 / (m2 * m2) - 3).alias("kurtosis_excess"),
    )


def cramers_v(
    df: DataFrame,
    row_col: str,
    col_col: str,
    scale: int = 10**6,
) -> DataFrame:
    """Cramér's V — the [0,1] association STRENGTH between two
    categorical columns that the raw chi-square statistic (r160) can't
    give because chi² grows with table size: V = sqrt(chi² / (T·k)),
    k = min(rows−1, cols−1). The effect-size screen for "is this
    feature actually related to that label, or just big-data
    significant?".

    The chi² numerator sums the shared per-cell term
    (:func:`_chi2_cells`, scaled by ``scale``) PLUS the
    exact zero-cell correction that the observed-cells-only partials
    drop: a cell with o = 0 contributes (0−e)²/e = e, and
    Σ_all-cells e = T, so

        chi² = Σ_observed (o−e)²/e + (T − Σ_observed e)

    — without it, a perfectly-associated 2×2 table (half its cells
    empty) reports HALF its true chi² and V ≈ 0.71 instead of 1.
    Both pieces stay in DECIMAL integers; V then comes from ONE
    closed-form float expression — exact-integer doubles through IEEE
    division and a correctly-rounded sqrt — bit-identical in any
    IEEE-754 engine (``core.exact``). Output: one row
    ``(n_total, n_row_cats, n_col_cats, chi2_scaled, cramers_v)``.

    Scale shape: one contingency groupBy over the data; everything
    after aggregates #cells rows — metadata. Cardinalities must be
    categorical (cells ≪ data), which is the operator's contract.
    """
    per_cell = (
        _chi2_cells(df, row_col, col_col, scale)
        .withColumn(
            "_e_scaled",
            # e·scale = r·c·scale/t, exact integer via the remainder
            # identity (r·c·scale overflows int64 at ~3e9-row tables)
            F.expr(
                f"(cast(r as {DEC}) * c * {scale}"
                f" - (cast(r as {DEC}) * c * {scale}) % t) / t"
            ),
        )
    )
    cols = df.groupBy().agg(
        F.countDistinct(col_col).alias("n_col_cats")
    )
    agg = per_cell.groupBy().agg(
        (
            F.sum("_term")
            + F.max("t").cast(DEC) * scale
            - F.sum("_e_scaled")
        ).alias("_chi2"),
        F.countDistinct(row_col).alias("n_row_cats"),
        F.max("t").alias("n_total"),
    )
    return (
        agg.crossJoin(F.broadcast(cols))
        .select(
            "n_total",
            "n_row_cats",
            "n_col_cats",
            F.col("_chi2").cast("double").alias("chi2_scaled"),
            F.sqrt(
                F.col("_chi2").cast("double")
                / F.lit(float(scale))
                / (
                    F.col("n_total")
                    * F.greatest(
                        F.least(
                            F.col("n_row_cats") - 1, F.col("n_col_cats") - 1
                        ),
                        F.lit(1),
                    )
                ).cast("double")
            ).alias("cramers_v"),
        )
    )


def gini_concentration(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    id_col: str,
    scale: int = 4,
) -> DataFrame:
    """Per-group Gini coefficient of a value column — the inequality /
    concentration screen (revenue concentration per brand, traffic
    concentration per source, shuffle-key skew grading). Uses the
    rank formulation over the ascending (value, id) order:

        G = (2·Σ i·xᵢ − (n+1)·Σ xᵢ) / (n·Σ xᵢ)

    with floor-scaled BIGINT values, so both integer accumulators are
    order-independent and the single final float division is
    engine-exact (numerator and denominator are exact-integer doubles;
    one IEEE division). 0 = perfectly equal, →1 = one row holds all
    the mass. ``Σ i·xᵢ`` widens to DECIMAL(38,0): rank·value reaches
    n·max_scaled, and its SUM is Θ(n²·x̄) — int64 wraps silently past
    ~10⁵ rows · 10⁹ scaled units.

    Scale shape: the rank ``i`` is a two-phase keyed running COUNT
    (``ranking.keyed_running_sum`` over a literal 1 ordered by
    (value, id)) — never a per-key row_number window, which funnels a
    whole key through one reducer exactly when the inequality question
    is interesting (few keys, many rows; the round-12 sf1.0 sweep
    measured 7.2× on 5 priority keys before this). One groupBy(keys)
    finishes.
    """
    v = fixed(value_col, scale)
    d = keyed_running_sum(
        df.withColumn("_v", v).withColumn("_one", F.lit(1).cast("bigint")),
        key_cols,
        [value_col, id_col],
        "_one",
        out_col="_i",
    ).drop("_one")
    return d.groupBy(*key_cols).agg(
        F.count("*").alias("n_rows"),
        F.sum("_v").alias("sum_scaled"),
        F.sum(
            (F.col("_i") * F.col("_v")).cast(DEC)
        ).alias("_ix"),
    ).select(
        *key_cols,
        "n_rows",
        "sum_scaled",
        (
            (
                F.lit(2) * F.col("_ix").cast("double")
                - (F.col("n_rows") + 1).cast("double")
                * F.col("sum_scaled").cast("double")
            )
            / (
                F.col("n_rows").cast("double")
                * F.col("sum_scaled").cast("double")
            )
        ).alias("gini"),
    )


def _weighted_cumulative(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    weight_col: str,
    scale: int,
) -> DataFrame:
    """Per key and distinct floor-scaled value ``_v``: the tied rows'
    weight ``_w``, the inclusive cumulative weight ``_cum`` in value
    order and the key's total weight ``_tot``.

    Ties aggregate first, then the two-phase keyed prefix sum
    (``ranking.keyed_running_sum``) runs over the distinct values — a
    per-key window over a continuous value column is a single-reducer
    sort at scale (round-12 sf1.0 sweep: 20× / exponent 1.30 on r255).
    A crossing rule picks the same value whether the cumulative is
    per-row or per-tie-group, because the group's inclusive cumulative
    equals its last row's. ``_tot`` rides the kernel's offsets
    metadata — no separate total aggregate or join."""
    g = (
        df.select(
            *key_cols,
            fixed(value_col, scale).alias("_v"),
            F.col(weight_col).cast("bigint").alias("_w"),
        )
        .groupBy(*key_cols, "_v")
        .agg(F.sum("_w").alias("_w"))
    )
    return keyed_running_sum(
        g, key_cols, ["_v"], "_w", out_col="_cum", total_col="_tot"
    )


def weighted_median(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    weight_col: str,
    scale: int = 4,
) -> DataFrame:
    """Exact per-group WEIGHTED median — "the price point where half
    the UNITS (not half the rows) sit below": the lower weighted
    median, i.e. the smallest value whose INCLUSIVE cumulative weight
    reaches half the group's total, decided by the integer
    cross-multiplication ``2·cumw ≥ totw`` (no float shares, no
    midpoint interpolation policy to disagree on). Values floor-scale
    to BIGINT; weights must already be integral AND positive — a
    zero/negative weight breaks the monotone cumulative the crossing
    rule needs (filter or abs upstream; the same contract as
    ``allocation.fifo_allocate``).

    This is :func:`weighted_quantiles` at q = 1/2 with the BIGINT
    scaled value as output; both read the same tie-aggregated
    cumulative (:func:`_weighted_cumulative`), and a min aggregate
    picks each group's crossing row.
    """
    cum = _weighted_cumulative(df, key_cols, value_col, weight_col, scale)
    return (
        cum.where(F.col("_cum") * 2 >= F.col("_tot"))
        .groupBy(*key_cols)
        .agg(
            F.min("_v").alias("weighted_median_scaled"),
            F.max("_tot").alias("total_weight"),
        )
    )


def topn_with_other(
    df: DataFrame,
    key_cols: list[str],
    label_col: str,
    value_col: str,
    n: int = 3,
) -> DataFrame:
    """Top-N labels per key with the tail rolled into ``__other__`` —
    the dashboard pie/bar contract (top 3 products per region, rest as
    "other") that a plain top-k truncates dishonestly: the tail's mass
    must stay visible, just not itemized. Input is pre-aggregated
    ``(keys, label, integral value)``; ranking is (value desc, label)
    — deterministic — and the output per (keys, bucket) carries both
    the value total and the member count (``__other__`` says how many
    labels it swallowed).

    Scale shape: ONE per-key rank window over (keys × labels) rows —
    already aggregated, metadata-sized per key — and one re-aggregate.
    All-integer, engine-exact.
    """
    w = Window.partitionBy(*key_cols).orderBy(
        F.desc(value_col), F.col(label_col)
    )
    ranked = df.withColumn("_rk", F.row_number().over(w))
    bucket = F.when(
        F.col("_rk") <= n, F.col(label_col).cast("string")
    ).otherwise(F.lit("__other__"))
    return (
        ranked.withColumn("bucket", bucket)
        .groupBy(*key_cols, "bucket")
        .agg(
            F.sum(value_col).alias("total_value"),
            F.count("*").alias("n_labels"),
        )
    )


def _doubled_ranks(
    df: DataFrame,
    value_col: str,
    keys: list[str],
    bounds: list[float] | None = None,
    n_rows: int | None = None,
    extra: list[Column] | None = None,
) -> DataFrame:
    """Per distinct value of ``value_col`` (within ``keys``), the
    DOUBLED mid-rank ``2·avg_rank`` of that value in the pooled
    ordering — an INTEGER even under ties (avg rank of a tie group is
    a half-integer, so twice it is exact BIGINT arithmetic): with
    ``c<`` values strictly below and ``c=`` tied, ``2·avg_rank =
    2·c< + c= + 1``. The prefix count runs over the GROUPED
    distinct-value rows via the two-phase keyed prefix sum
    (``ranking.keyed_running_sum``) — NOT a per-key window, which
    degenerates to one reducer per key when the value is continuous
    (distinct ≈ raw; measured 22.7× at 10× data on r243 before the
    round-12 fix). Returns ``keys + [value_col, _cnt, _rank2]``.
    ``bounds``/``n_rows`` pass straight to the kernel — callers that
    rank several columns of one shared frame (spearman) precompute
    every column's cut points in ONE job. ``extra`` aggregates ride
    the tie aggregate (Mann-Whitney's per-value arm count)."""
    g = df.groupBy(*keys, value_col).agg(
        F.count("*").alias("_cnt"), *(extra or [])
    )
    cum = keyed_running_sum(
        g, keys, [value_col], "_cnt", out_col="_incl",
        bounds=bounds, n_rows=n_rows,
    )
    # exclusive prefix = inclusive − own tie-group count
    return cum.withColumn(
        "_rank2", 2 * (F.col("_incl") - F.col("_cnt")) + F.col("_cnt") + 1
    ).drop("_incl")


def mann_whitney_u(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a: str,
    group_b: str,
    keys: list[str] | None = None,
) -> DataFrame:
    """Mann-Whitney U rank-sum test statistic between two arms —
    the nonparametric A/B companion to :func:`welch_ttest` (which the
    reference's splitters would need for any non-normal engagement
    metric). ALL-INTEGER and therefore engine-exact: mid-ranks are
    kept doubled (see :func:`_doubled_ranks`), so the doubled rank
    sum ``r2_a = Σ n_a(v)·rank2(v)``, the doubled statistic
    ``u2_a = r2_a − n_a(n_a+1)`` and its mirror
    ``u2_b = 2·n_a·n_b − u2_a`` are BIGINT; ``u_a = u2_a / 2`` is an
    exact dyadic double. The tie-correction term ``Σ (t³ − t)``
    (needed for the normal-approximation variance) is emitted as an
    exact integer so callers can finish the z-score in one division.

    Scale shape: one hash aggregate over raw data, then the TWO-PHASE
    keyed prefix sum (``ranking.keyed_running_sum``) over the per-key
    distinct-value rows, one re-aggregate. Distinct-value rows are
    ~raw-sized when the value is continuous, so a per-key window here
    was a single-reducer sort (the round-12 sf1.0 spot-sweep caught
    r243 at 22.7×/exponent 1.36); the range-partitioned prefix sum
    keeps every stage parallel at any cardinality."""
    keys = keys or []
    d = df.where(F.col(group_col).isin([group_a, group_b])).select(
        *keys,
        value_col,
        F.when(F.col(group_col) == group_a, 1)
        .otherwise(0)
        .cast("bigint")
        .alias("_is_a"),
    )
    ranked = _doubled_ranks(
        d, value_col, keys, extra=[F.sum("_is_a").alias("_na")]
    )
    # rank sums reach 2n² and the tie term n³ — past BIGINT at
    # n ≳ 1.3M rows, so accumulate in DECIMAL(38,0) (DuckDB HUGEINT)
    # and only the final dyadic halving runs in doubles
    out = ranked.groupBy(*keys).agg(
        F.sum("_na").alias("n_a"),
        F.sum(F.col("_cnt") - F.col("_na")).alias("n_b"),
        F.sum(F.col("_na").cast(DEC) * F.col("_rank2")).alias("_r2a"),
        F.sum(
            F.col("_cnt").cast(DEC) * F.col("_cnt") * F.col("_cnt")
            - F.col("_cnt").cast(DEC)
        ).alias("_tie"),
    )
    na = F.col("n_a").cast(DEC)
    nb = F.col("n_b").cast(DEC)
    u2a = F.col("_r2a") - na * (na + F.lit(1).cast(DEC))
    return out.select(
        *keys,
        "n_a",
        "n_b",
        (u2a.cast("double") / F.lit(2.0)).alias("u_a"),
        (
            (F.lit(2).cast(DEC) * na * nb - u2a).cast("double") / F.lit(2.0)
        ).alias("u_b"),
        F.col("_tie").cast("double").alias("tie_term"),
    )


def spearman_rho(
    df: DataFrame,
    x_col: str,
    y_col: str,
    keys: list[str] | None = None,
) -> DataFrame:
    """Spearman rank correlation (mid-rank tie handling) per key —
    the monotonic-association companion to :func:`exact_corr`'s
    Pearson. Engine-exact: both variables map to INTEGER doubled
    mid-ranks (:func:`_doubled_ranks`), the five moment sums over
    those integers are ``core.exact.moment_sums`` in DECIMAL(38,0)
    (DuckDB HUGEINT — doubled rank products reach 4n³, past BIGINT at
    n ≳ 1.3M rows), the closed form combines them in decimal, and
    only its three factors cast to doubles, with the IDENTICAL
    expression shape on both engines, so rho compares bit-exactly.
    Cross-engine caveat past ~2M rows per key: once a MOMENT exceeds
    2^64, DuckDB's HUGEINT→double cast composes two roundings and can
    land 1 ulp off Spark's decimal cast (observed in r245's first
    draft) — at that size compare rho at 12dp instead of by hash.

    Scale shape: two aggregate-first rank maps (window over distinct
    values only) hash-joined back to the fact rows on (keys, value) —
    the standard distributed Spearman; no raw-data window, no sort
    through one reducer.

    Round-15 fixed-cost rework (VERDICT #3): the (keys, x, y)
    projection is pinned ONCE and shared by both rank passes and
    the final join (one scan of the fact table instead of three), and
    when both variables are numeric a SINGLE job computes both
    columns' bucket cut points + the row/distinct counts, so neither
    kernel call runs its own boundary job. Cut points move from
    distinct-value to row-frequency quantiles — bucket BALANCE only,
    never results (the kernel's contract)."""
    from pyspark.sql.types import NumericType

    keys = keys or []
    fact = pin(df.select(*keys, x_col, y_col), "distributions.spearman_fact")
    both_numeric = all(
        isinstance(fact.select(c).schema.fields[0].dataType, NumericType)
        for c in (x_col, y_col)
    )
    bx = by = ndx = ndy = None
    if both_numeric:
        n_buckets = _bucket_count(fact.sparkSession)
        qs = [i / n_buckets for i in range(1, n_buckets)]
        row = fact.agg(
            F.percentile_approx(F.col(x_col).cast("double"), qs, 100).alias("_bx"),
            F.percentile_approx(F.col(y_col).cast("double"), qs, 100).alias("_by"),
            # approximate distinct counts size the kernel's read-side
            # coalesce of the grouped rank frames
            F.approx_count_distinct(F.struct(*keys, x_col)).alias("_ndx"),
            F.approx_count_distinct(F.struct(*keys, y_col)).alias("_ndy"),
        ).first()
        bx, by = list(row["_bx"] or []), list(row["_by"] or [])
        ndx, ndy = int(row["_ndx"]), int(row["_ndy"])
    rx = _doubled_ranks(
        fact, x_col, keys, bounds=bx, n_rows=ndx
    ).withColumnRenamed("_rank2", "_rx2")
    ry = _doubled_ranks(
        fact, y_col, keys, bounds=by, n_rows=ndy
    ).withColumnRenamed("_rank2", "_ry2")
    joined = (
        fact
        .join(rx.drop("_cnt"), [*keys, x_col])
        .join(ry.drop("_cnt"), [*keys, y_col])
    )
    m = joined.groupBy(*keys).agg(
        F.count("*").alias("n"), *moment_sums(F.col("_rx2"), F.col("_ry2"))
    )
    n = F.col("n").cast(DEC)
    sx, sy, sxy, sxx, syy = (
        F.col(c) for c in ("_sx", "_sy", "_sxy", "_sxx", "_syy")
    )
    # combined in decimal, one cast per factor
    num = (n * sxy - sx * sy).cast("double")
    dx = (n * sxx - sx * sx).cast("double")
    dy = (n * syy - sy * sy).cast("double")
    return m.select(
        *keys,
        "n",
        (num / (F.sqrt(dx) * F.sqrt(dy))).alias("rho"),
    )


def kmv_distinct(
    df: DataFrame,
    value_col: str,
    keys: list[str] | None = None,
    k: int = 256,
    buckets: int = 16,
) -> DataFrame:
    """KMV (k-minimum-values) distinct-count sketch per key — the
    DETERMINISTIC, cross-engine-reproducible companion to
    :func:`approx_distinct_rollup`'s HLL++ (whose register state is
    engine-specific and can only be oracle-checked by accuracy band):
    hash every value with the portable 60-bit md5 hash, keep the k
    smallest distinct hashes, estimate
    ``(k−1) · 2^60 / h_k`` (Bar-Yossef et al. 2002). Every output —
    the kth hash, the kept count, the estimate — is bit-identical on
    any engine that can md5, so the twin pins EXACT values, not a
    tolerance. When a key has fewer than k distinct values the sketch
    is exact and the estimate is the kept count itself.

    Scale shape: hash + distinct is one hash aggregate; the k minima
    and the estimate are ``incremental.kmv_minima`` and
    ``incremental.kmv_estimate``, the streaming state's own, so a
    billion-distinct key never sorts through one task and both paths
    produce the same bytes. The sketch is mergeable by construction
    (union the kept hashes, re-take the k smallest)."""
    from datalake_backend_spark.operators.incremental import (
        kmv_estimate,
        kmv_minima,
    )

    keys = keys or []
    agg = kmv_minima(df, keys, value_col, k, buckets).groupBy(*keys).agg(
        F.count("*").alias("n_kept"), F.max("_h").alias("kth_hash")
    )
    return agg.select(
        *keys,
        "n_kept",
        "kth_hash",
        kmv_estimate(F.col("n_kept"), F.col("kth_hash"), k).alias("estimate"),
    )


def key_skew_profile(
    df: DataFrame, keys: list[str], top: int = 3
) -> DataFrame:
    """Group-size skew diagnostic: the distribution of per-key row
    counts — key cardinality, max/mean/lower-median group size, the
    max/mean skew factor, and the heaviest key — the first question
    to ask before choosing a shuffle key at 100 TB (a skew factor of
    40 on the intended join key means salting or AQE skew handling,
    measured instead of discovered in a straggler task).

    Scale shape: ONE hash aggregate collapses data to (key, n) — but
    key CARDINALITY is not bounded (a billion customers at 100 TB),
    so the positional median is read off the SIZE DISTRIBUTION
    (round-15, VERDICT #4 — the round-14 global-rank kernel kept the
    scale contract but its fixed boundary-job cost was 5.3× the old
    local wall): the lower median of per-key counts is the smallest
    ``n`` whose cumulative key count reaches position
    ``(n_keys+1) div 2`` in (n, key) order — and because every key
    tied at the median's ``n`` shares that value, the positional
    row's ``n`` IS the multiset quantile of the distribution
    ``(n → #keys)``. That distribution has at most D distinct sizes
    with D·(D+1)/2 ≤ total rows, i.e. D ≤ √(2·rows) (~450k rows at
    100 TB input) — metadata-sized by construction, so its one
    cumulative window is a bounded single task, never
    key-cardinality-sized. The heaviest key is a single
    ``min(struct(-n, key))`` aggregate (max n, smaller key on ties —
    no window at all). The lower median stays positional (row
    ``(cnt+1) div 2`` in n-order) — deterministic, no interpolation,
    so the twin matches exactly."""
    sizes = df.groupBy(*keys).agg(F.count("*").alias("n"))
    key_str = F.concat_ws("|", *[F.col(c).cast("string") for c in keys])
    # persisted: the moments aggregate and the size-distribution
    # aggregate both consume the per-key counts — one raw-data shuffle
    # instead of two
    s = pin(sizes.select(key_str.alias("_key"), "n"), "distributions.key_sizes")
    # ONE global aggregate carries the moments AND the heaviest key
    # (min over the (-n, key) struct ordering = max n, smaller key on
    # ties) — round-14: these were two separate aggregates, each
    # re-running the raw-data groupBy subtree
    stats = s.agg(
        F.count("*").alias("n_keys"),
        F.sum("n").alias("n_rows"),
        F.max("n").alias("max_n"),
        (F.sum("n").cast("double") / F.count("*")).alias("mean_n"),
        (
            F.max("n").cast("double")
            / (F.sum("n").cast("double") / F.count("*"))
        ).alias("skew_factor"),
        F.min(F.struct((-F.col("n")).alias("_negn"), F.col("_key")))[
            "_key"
        ].alias("heaviest_key"),
    )
    # each selection yields exactly one row; the trailing GLOBAL
    # aggregate (max of one row = that row) makes the single-row
    # shape PROVABLE in the plan, so the broadcast joins classify as
    # the scalar idiom (HashAggregate Keys: []) rather than tripping
    # the nested-loop alarm in tools/plan_report.py
    dist = s.groupBy("n").agg(F.count("*").alias("_ck"))
    cum = dist.withColumn(
        "_cum",
        F.sum("_ck").over(
            Window.orderBy("n").rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    median = (
        cum.crossJoin(F.broadcast(stats.select("n_keys")))
        .where(F.col("_cum") >= F.expr("(n_keys + 1) div 2"))
        .agg(F.min("n").alias("median_n"))
    )
    return stats.crossJoin(F.broadcast(median)).select(
        "n_keys",
        "n_rows",
        "max_n",
        "mean_n",
        "skew_factor",
        "median_n",
        "heaviest_key",
    )


def block_jackknife(
    df: DataFrame,
    value_col: str,
    unit_col: str,
    keys: list[str] | None = None,
    blocks: int = 16,
    scale: int = 4,
    mean_scale: int = 9,
) -> DataFrame:
    """Delete-one-block jackknife standard error of the mean per key
    — the deterministic uncertainty estimate for pipeline metrics
    (no bootstrap RNG, no resampling passes): units hash into
    ``blocks`` deterministic blocks, each leave-one-block-out mean is
    an exact ratio of scaled-integer sums, and the jackknife variance
    ``(B−1)/B · Σ(m_i − m̄)²`` assembles from those.

    Determinism detail: the B leave-one-out means are doubles, and a
    float SUM over them would be partition-order-dependent — so each
    mean quantizes to ``floor(m_i · 10^mean_scale)`` (identical
    doubles floor identically) and the variance closed form runs
    over EXACT integer sums of those, engine-identical. The
    10^-mean_scale quantization is documented bias, far below any
    real metric noise.

    Scale shape: one hash aggregate to (keys, block) — B rows per
    key — then metadata-sized arithmetic; the scalar totals broadcast
    back. Same contract as ``cuped_adjusted``: raw rows are touched
    exactly once."""
    from datalake_backend_spark.datapipe.dedup import portable_hash60

    keys = keys or []
    b = F.pmod(portable_hash60(F.col(unit_col).cast("string")), F.lit(blocks))
    per_block = (
        df.withColumn("_b", b)
        .groupBy(*keys, "_b")
        .agg(
            F.sum(fixed(value_col, scale).cast(DEC)).alias("_s"),
            F.count("*").alias("_n"),
        )
    )
    totals = per_block.groupBy(*keys).agg(
        F.sum("_s").alias("_st"),
        F.sum("_n").alias("_nt"),
        F.count("*").alias("n_blocks"),
    )
    loo = per_block.join(totals, keys if keys else None, "inner") if keys else (
        per_block.crossJoin(F.broadcast(totals))
    )
    mean_i = (F.col("_st") - F.col("_s")).cast("double") / (
        F.col("_nt") - F.col("_n")
    ).cast("double")
    # quantize DEVIATIONS from the (scaled) grand mean, not the raw
    # leave-one-out means: deviations are se-sized, so their squares
    # stay far inside int64 where both engines' int→double casts are
    # correctly rounded (a raw Σm_i² passes 2^64 and trips DuckDB's
    # two-rounding HUGEINT→double cast — the r245 hazard). Shifting
    # by a constant leaves the variance untouched.
    # A key whose rows all hash into ONE block has no leave-one-out
    # sample (0/0): emit NULL instead of NaN — floor(NaN) casts to
    # NULL on Spark but ERRORS in a DuckDB HUGEINT cast.
    center = F.col("_st").cast("double") / F.col("_nt").cast("double")
    mi = F.when(
        F.col("_nt") > F.col("_n"),
        fixed(mean_i - center, mean_scale).cast(DEC),
    )
    agg = loo.withColumn("_mi", mi).groupBy(*keys).agg(
        F.max("n_blocks").alias("n_blocks"),
        F.max("_nt").alias("n"),
        (unscale(F.max("_st"), scale) / F.max("_nt").cast("double")).alias(
            "mean"
        ),
        F.sum("_mi").alias("_smi"),
        F.sum(F.col("_mi") * F.col("_mi")).alias("_smi2"),
    )
    bb = F.col("n_blocks").cast("double")
    smi = F.col("_smi").cast("double")
    smi2 = F.col("_smi2").cast("double")
    # Σ(m_i − m̄)² = Σm_i² − (Σm_i)²/B over the scaled integers; the
    # m_i carried BOTH the 10^mean_scale quantization factor and the
    # 10^scale value scaling (the leave-one-out ratio was over scaled
    # sums), so the SE unscales by both
    var_scaled = (smi2 - smi * smi / bb) * (bb - F.lit(1.0)) / bb
    se = unscale(unscale(F.sqrt(var_scaled), mean_scale), scale)
    return agg.select(*keys, "n", "n_blocks", "mean", se.alias("jackknife_se"))


def categorical_mi(
    df: DataFrame,
    x_col: str,
    y_col: str,
    round_to: int = 6,
    term_scale: int = 12,
) -> DataFrame:
    """Mutual information between two categorical columns, with the
    marginal entropies and the normalized MI — "which metadata field
    actually predicts the label" screening, the information-theoretic
    companion to :func:`cramers_v` (which measures the same table
    through the χ² lens). Natural-log units.

    Determinism: counts are exact BIGINTs and every probability is an
    IEEE division, but Σ p·ln(…) over cells would be a FLOAT SUM in
    partition order — so each cell's term quantizes to
    ``floor(term·10^term_scale)`` and the sums run over exact
    integers (the block_jackknife discipline); the final entropies /
    MI round to ``round_to`` dp, the repo's libm convention.

    Scale shape: ONE hash aggregate to the contingency cells, two
    metadata-sized re-aggregates for the marginals, broadcast total;
    everything after the first groupBy is cell-cardinality-sized. The
    cells frame is pinned (round-15 scan audit: marginals ×2
    + total + the join = FOUR consumers, each re-running the raw-data
    groupBy without the cache)."""
    cells = pin(
        df.groupBy(
            F.col(x_col).alias("_x"), F.col(y_col).alias("_y")
        ).agg(F.count("*").alias("_nxy")),
        "distributions.cells",
    )
    mx = cells.groupBy("_x").agg(F.sum("_nxy").alias("_nx"))
    my = cells.groupBy("_y").agg(F.sum("_nxy").alias("_ny"))
    total = cells.agg(F.sum("_nxy").alias("_n"))
    j = (
        cells.join(mx, "_x")
        .join(my, "_y")
        .crossJoin(F.broadcast(total))
    )
    nd = F.col("_n").cast("double")
    pxy = F.col("_nxy").cast("double") / nd
    px = F.col("_nx").cast("double") / nd
    py = F.col("_ny").cast("double") / nd
    mi_term = fixed(pxy * F.log(pxy / (px * py)), term_scale)
    # marginal entropy terms must count each margin ONCE, not once
    # per cell: weight by the cell's share of its margin so the
    # per-cell pieces sum to the margin's term exactly in the integer
    # domain is impossible — instead sum over DISTINCT margins via
    # min-tagging: only the lexicographically first cell of each
    # margin contributes its full term
    wx = Window.partitionBy("_x").orderBy("_y")
    wy = Window.partitionBy("_y").orderBy("_x")
    hx_term = F.when(
        F.row_number().over(wx) == 1,
        fixed(-px * F.log(px), term_scale),
    ).otherwise(F.lit(0))
    hy_term = F.when(
        F.row_number().over(wy) == 1,
        fixed(-py * F.log(py), term_scale),
    ).otherwise(F.lit(0))
    agg = j.select(
        mi_term.alias("_mi"), hx_term.alias("_hx"), hy_term.alias("_hy")
    ).agg(
        F.sum("_mi").alias("_smi"),
        F.sum("_hx").alias("_shx"),
        F.sum("_hy").alias("_shy"),
    )
    mi, hx, hy = (unscale(c, term_scale) for c in ("_smi", "_shx", "_shy"))
    return agg.select(
        F.round(hx, round_to).alias("h_x"),
        F.round(hy, round_to).alias("h_y"),
        F.round(mi, round_to).alias("mi"),
        F.round(mi / F.sqrt(hx * hy), round_to).alias("nmi"),
    )


def weighted_quantiles(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    weight_col: str,
    quantiles: list[tuple[int, int]] | None = None,
    scale: int = 4,
) -> DataFrame:
    """Exact per-group weighted quantiles at RATIONAL probabilities —
    :func:`weighted_median` generalized from 1/2 to any q = num/den:
    each quantile is the smallest value whose inclusive cumulative
    weight satisfies the integer cross-multiplication
    ``cumw·den ≥ totw·num`` (no float shares, no interpolation
    policy). Same contract: weights integral and positive.

    ONE two-phase keyed prefix sum serves every requested quantile
    (each is just another conditional min over the same cumulative),
    so asking for the 25/50/75/95 band costs the same shuffles as the
    median alone. Output: one row per key with a column per
    quantile, named ``q_<num>_<den>``."""
    quantiles = quantiles or [(1, 4), (1, 2), (3, 4)]
    d = _weighted_cumulative(df, key_cols, value_col, weight_col, scale)
    aggs = []
    for num, den in quantiles:
        crossed = F.col("_cum") * F.lit(den) >= F.col("_tot") * F.lit(num)
        aggs.append(
            unscale(F.min(F.when(crossed, F.col("_v"))), scale).alias(
                f"q_{num}_{den}"
            )
        )
    return d.groupBy(*key_cols).agg(*aggs)
