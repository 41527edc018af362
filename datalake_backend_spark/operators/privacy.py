"""Privacy auditing and anonymization for served/exported data.

A lake that exports training corpora or serves gold tables needs more
than PII redaction (``datapipe.text.redact_pii``): tabular releases
re-identify people through QUASI-identifier combinations (the classic
ZIP+birthdate+sex attack), which no regex can see. This module covers
the release-side contract: measure k-anonymity, then enforce it by
global recoding (coarsening a numeric quasi-identifier until every
equivalence class is population-k).

Exactness: bucketing goes through ``FLOOR(100·value)`` BIGINTs and
FLOOR division (pmod-based — Spark's ``div`` truncates toward zero and
would disagree with floor semantics on negative balances), so class
assignments are bit-identical in any engine (oracle r152).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from datalake_backend_spark.core.exact import fixed


def _floor_div(num: str, den: int) -> F.Column:
    """Floor division of a BIGINT column by a positive literal.
    Truncation-vs-floor matters on negatives: Spark ``div`` and DuckDB
    ``//`` BOTH truncate toward zero (``-7 // 2 = -3`` in DuckDB), so
    any SQL twin must emulate floor explicitly with the same pmod form
    used here: ``(v - (((v % w) + w) % w)) // w``."""
    return F.expr(f"({num} - pmod({num}, {den}L)) div {den}L")


def k_anonymity_classes(
    df: DataFrame,
    group_cols: list[str],
    numeric_col: str,
    level: int,
    base_width_cents: int = 10_000,
) -> DataFrame:
    """Equivalence classes at one generalization level: the numeric
    quasi-identifier buckets into width ``base_width_cents·2^level``
    (in cents — values enter as ``FLOOR(100·value)``), categorical
    quasi-identifiers stay as-is. Returns one row per class with its
    size ``k_size``."""
    width = base_width_cents * (1 << level)
    v = fixed(numeric_col, 2)
    return (
        df.withColumn("_vc", v)
        .withColumn("bucket", _floor_div("_vc", width))
        .groupBy(*group_cols, "bucket")
        .agg(F.count("*").alias("k_size"))
    )


def k_anonymize(
    df: DataFrame,
    group_cols: list[str],
    numeric_col: str,
    k: int = 10,
    base_width_cents: int = 10_000,
    max_level: int = 12,
    on_fail: str = "raise",
) -> tuple[DataFrame, int, bool]:
    """Global recoding to k-anonymity: find the SMALLEST generalization
    level whose every equivalence class holds ≥ k rows, and return the
    class table at that level plus the level itself. Doubling widths
    give the standard generalization ladder; global (one level for the
    whole table) rather than local recoding keeps released bucket
    semantics uniform — the choice auditors can reason about.

    The per-level probe is ONE aggregate whose result reduces to a
    single MIN — a bounded driver scalar per level with early stop
    (≤ max_level + 1 jobs, independent of table size). Returns
    ``(classes, level, achieved)``. If even ``max_level`` leaves a
    class below k (a singleton categorical class can never be fixed by
    widening the numeric bucket), the default ``on_fail='raise'``
    raises; ``on_fail='max_level'`` instead releases the max-level
    class table with ``achieved=False`` so small data sets degrade
    gracefully rather than crash the pipeline."""
    classes = None
    min_k = None
    for level in range(max_level + 1):
        classes = k_anonymity_classes(
            df, group_cols, numeric_col, level, base_width_cents
        )
        min_k = classes.agg(F.min("k_size")).first()[0]
        if min_k is not None and min_k >= k:
            return classes, level, True
    if on_fail == "max_level":
        return classes, max_level, False
    raise ValueError(
        f"no level <= {max_level} reaches k={k}; smallest class "
        f"still {min_k} — coarsen the categorical quasi-identifiers"
    )


def l_diversity_classes(
    df: DataFrame,
    group_cols: list[str],
    numeric_col: str,
    sensitive_col: str,
    level: int,
    base_width_cents: int = 10_000,
) -> DataFrame:
    """Equivalence classes at one generalization level, annotated with
    the DIVERSITY of the sensitive attribute: ``l_distinct`` = number
    of distinct sensitive values inside the class. k-anonymity alone
    leaks through the homogeneity attack — a class of 50 people who
    all share one diagnosis identifies the diagnosis without
    identifying the person — which is exactly what distinct
    l-diversity measures."""
    width = base_width_cents * (1 << level)
    v = fixed(numeric_col, 2)
    return (
        df.withColumn("_vc", v)
        .withColumn("bucket", _floor_div("_vc", width))
        .groupBy(*group_cols, "bucket")
        .agg(
            F.count("*").alias("k_size"),
            F.countDistinct(sensitive_col).alias("l_distinct"),
        )
    )


def l_diversify(
    df: DataFrame,
    group_cols: list[str],
    numeric_col: str,
    sensitive_col: str,
    l_min: int = 3,
    base_width_cents: int = 10_000,
    max_level: int = 12,
    on_fail: str = "raise",
) -> tuple[DataFrame, int, bool]:
    """Global recoding to distinct l-diversity: the SMALLEST
    generalization level whose every equivalence class contains at
    least ``l_min`` distinct sensitive values. The same doubling-width
    ladder, probe shape (one aggregate reduced to one MIN per level,
    early stop), and ``on_fail`` contract as :func:`k_anonymize` —
    ``'max_level'`` releases the coarsest table with ``achieved=False``
    when even it stays homogeneous (a class whose members genuinely
    all share one sensitive value can never be diversified by
    widening a numeric bucket)."""
    classes = None
    min_l = None
    for level in range(max_level + 1):
        classes = l_diversity_classes(
            df, group_cols, numeric_col, sensitive_col, level,
            base_width_cents,
        )
        min_l = classes.agg(F.min("l_distinct")).first()[0]
        if min_l is not None and min_l >= l_min:
            return classes, level, True
    if on_fail == "max_level":
        return classes, max_level, False
    raise ValueError(
        f"no level <= {max_level} reaches l={l_min}; least-diverse "
        f"class still {min_l} — drop or merge categorical "
        "quasi-identifiers, or suppress the homogeneous classes"
    )


def t_closeness_classes(
    df: DataFrame,
    group_cols: list[str],
    numeric_col: str,
    sensitive_col: str,
    level: int,
    base_width_cents: int = 10_000,
    scale: int = 10**6,
) -> DataFrame:
    """Equivalence classes at one generalization level, annotated with
    their CATEGORICAL t-closeness: the total-variation distance
    between the class's sensitive-value distribution and the GLOBAL
    one, ``t = ½ Σ_v |p_class(v) − p_global(v)|``. l-diversity still
    leaks through the skewness attack — a class whose 3 "distinct"
    diagnoses are 98% one rare disease differs wildly from the
    population — which is exactly what t-closeness bounds (Li,
    Venkatasubramanian & Venkitasubramanian, ICDE 2007; public
    literature).

    All-integer: with class count c_v, class size n, global count g_v
    and table size N, the TVD over the common denominator is

        t_scaled = (scale · Σ_v |c_v·N − g_v·n|) div (2·n·N)

    and values ABSENT from a class contribute ``g_v·n`` each, which
    folds to the closed form ``n·(N − Σ_present g_v)`` — so the sum
    runs over PRESENT (class, value) cells only, never a class×value
    frame. BIGINT throughout (|c·N − g·n| ≤ n·N ≤ 10¹⁸ for tables to
    ~10⁹ rows; sums accumulate in DECIMAL(38,0)), so the statistic
    hashes identically in any engine. Returns one row per class:
    ``(group_cols..., bucket, k_size, t_scaled)``.

    Scale shape: two hash aggregates (per-class-per-value counts,
    then the per-class fold) plus one BROADCAST equi-join of the
    global value distribution onto the cells — no cross join, linear
    in distinct (class, value) pairs."""
    width = base_width_cents * (1 << level)
    v = fixed(numeric_col, 2)
    keyed = df.withColumn("_vc", v).withColumn(
        "bucket", _floor_div("_vc", width)
    )
    cells = keyed.groupBy(*group_cols, "bucket", sensitive_col).agg(
        F.count("*").alias("c")
    )
    glob = keyed.groupBy(sensitive_col).agg(F.count("*").alias("g"))
    tot = keyed.agg(F.count("*").alias("NN"))  # not "N": Spark is
    # case-insensitive and "N" would collide with the class-size "n"
    per_class = (
        cells.join(F.broadcast(glob), sensitive_col)
        .groupBy(*group_cols, "bucket")
        .agg(
            F.sum("c").alias("n"),
            F.sum(F.col("g")).alias("_g_present"),
            # Σ_present |c·N − g·n| needs n, which is only known after
            # this aggregate — keep the per-cell pieces and fold below
            F.collect_list(F.struct("c", "g")).alias("_cells"),
        )
    )
    return (
        per_class.crossJoin(F.broadcast(tot))
        .withColumn(
            "_num",
            F.expr(
                # Σ_present |c·NN − g·n|  +  n·(NN − Σ_present g)
                "aggregate(_cells, cast(0 as decimal(38,0)),"
                " (acc, x) -> acc + abs(cast(x.c as decimal(38,0)) * NN"
                "                       - cast(x.g as decimal(38,0)) * n))"
                " + cast(n as decimal(38,0)) * (NN - _g_present)"
            ),
        )
        .select(
            *group_cols,
            "bucket",
            F.col("n").alias("k_size"),
            F.expr(
                # exact integer quotient (`div`, not floor(a/b)): the
                # decimal divide rounds HALF_UP at scale 6, flooring
                # one high within 5e-7 of an integer; quotient ≤ scale
                # so the bigint result cannot overflow
                f"({scale} * _num) div (2 * n * NN)"
            ).alias("t_scaled"),
        )
    )
