"""Model-evaluation aggregates: exact counts, integer-permille rates.

Scores come from upstream operators (nb_quality_score, lm_doc_score,
similarity ranks); this module turns (score, label) pairs into the
reports an eval harness reads — gains tables live in
``operators/ranking.py`` (score_deciles); this file holds the
threshold-sweep confusion matrix. Everything is BIGINT counts and
cross-multiplied permille floors, so any engine reproduces the report
bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from datalake_backend_spark.core.exact import DEC, fixed, scaled_sum, unscale


def confusion_at_thresholds(
    df: DataFrame,
    score_col: str,
    label_col,
    thresholds: list[int],
) -> DataFrame:
    """Confusion matrix at each decision threshold — ONE pass over the
    data: the thresholds (a small literal list) explode against every
    row, predictions are ``score ≥ threshold``, and per threshold the
    exact TP/FP/FN/TN counts plus precision/recall/accuracy in
    integer permille (NULL when the denominator is 0, e.g. precision
    at a threshold nothing clears). The PR-curve-at-k-operating-points
    report, engine-exact.

    Scale shape: the explode multiplies rows by |thresholds| (a
    handful) INSIDE the map stage; one hash aggregate follows. No
    joins, no windows.
    """
    if not thresholds:
        raise ValueError("need >= 1 threshold")
    label = F.col(label_col) if isinstance(label_col, str) else label_col
    t = F.explode(
        F.array(*[F.lit(int(x)).cast("bigint") for x in thresholds])
    ).alias("threshold")
    d = df.select(
        F.col(score_col).alias("_s"), label.cast("boolean").alias("_y"), t
    ).withColumn("_p", F.col("_s") >= F.col("threshold"))

    def n(cond: Column) -> Column:
        return F.sum(cond.cast("bigint"))

    per = d.groupBy("threshold").agg(
        n(F.col("_p") & F.col("_y")).alias("tp"),
        n(F.col("_p") & ~F.col("_y")).alias("fp"),
        n(~F.col("_p") & F.col("_y")).alias("fn"),
        n(~F.col("_p") & ~F.col("_y")).alias("tn"),
    )
    return per.select(
        "threshold",
        "tp",
        "fp",
        "fn",
        "tn",
        F.when(
            F.col("tp") + F.col("fp") > 0,
            F.expr("tp * 1000 div (tp + fp)"),
        ).alias("precision_permille"),
        F.when(
            F.col("tp") + F.col("fn") > 0,
            F.expr("tp * 1000 div (tp + fn)"),
        ).alias("recall_permille"),
        F.expr("(tp + tn) * 1000 div (tp + fp + fn + tn)").alias(
            "accuracy_permille"
        ),
    )


def roc_auc(
    df: DataFrame,
    score_col: str,
    label_col: str,
    keys: list[str] | None = None,
) -> DataFrame:
    """EXACT area under the ROC curve per key, tie-aware — the
    threshold-free companion to :func:`confusion_at_thresholds`:
    AUC = P(score⁺ > score⁻) + ½·P(score⁺ = score⁻), which is
    precisely the normalized Mann-Whitney statistic
    ``U⁺ / (n⁺ · n⁻)``. Reuses ``distributions.mann_whitney_u``'s
    all-integer doubled mid-ranks, so ties contribute exactly ½ and
    the final value is one IEEE division of engine-identical
    numbers — no sampling, no trapezoid approximation, no tolerance.

    ``label_col`` must be 1 (positive) / 0 (negative). Scale shape
    inherits from mann_whitney_u: one hash aggregate, one window
    over per-key DISTINCT scores, one re-aggregate."""
    from datalake_backend_spark.operators.distributions import mann_whitney_u

    keys = keys or []
    mw = mann_whitney_u(df, score_col, label_col, 1, 0, keys=keys)
    return mw.select(
        *keys,
        F.col("n_a").alias("n_pos"),
        F.col("n_b").alias("n_neg"),
        # n⁺·n⁻ as a double PRODUCT (not a bigint product cast): the
        # bigint multiply overflows first at extreme n; double·double
        # is correctly rounded and engine-identical
        (
            F.col("u_a")
            / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
        ).alias("auc"),
    )


def diff_in_diff(
    df: DataFrame,
    group_col: str,
    period_col: str,
    value_col: str,
    treat_value: str = "treat",
    post_value: str = "post",
    scale: int = 4,
) -> DataFrame:
    """Difference-in-differences estimator from the 2×2 cell means:
    ``(T_post − T_pre) − (C_post − C_pre)`` — the quasi-experimental
    companion to ``distributions.cuped_adjusted`` when assignment
    isn't randomized (a rollout hit one cohort, the other is the
    counterfactual trend). ONE hash aggregate computes all four cell
    sums/counts via conditional aggregation (no pivot shuffle, no
    self-joins); each mean is an exact scaled-integer sum over an
    IEEE division, and the estimator combines identically-shaped
    doubles — engine-exact. Output: one row with the four means,
    four counts, and ``did``."""
    is_t = F.col(group_col) == treat_value
    is_p = F.col(period_col) == post_value
    sv = fixed(value_col, scale).cast(DEC)

    def cell(t: bool, p: bool, tag: str) -> list:
        m = (is_t if t else ~is_t) & (is_p if p else ~is_p)
        return [
            F.sum(F.when(m, sv)).alias(f"_s_{tag}"),
            F.count(F.when(m, F.lit(1))).alias(f"n_{tag}"),
        ]

    agg = df.agg(
        *cell(True, False, "t_pre"),
        *cell(True, True, "t_post"),
        *cell(False, False, "c_pre"),
        *cell(False, True, "c_post"),
    )

    def mean(tag: str):
        return unscale(f"_s_{tag}", scale) / F.col(f"n_{tag}").cast("double")

    m_tpre, m_tpost = mean("t_pre"), mean("t_post")
    m_cpre, m_cpost = mean("c_pre"), mean("c_post")
    return agg.select(
        "n_t_pre",
        "n_t_post",
        "n_c_pre",
        "n_c_post",
        m_tpre.alias("mean_t_pre"),
        m_tpost.alias("mean_t_post"),
        m_cpre.alias("mean_c_pre"),
        m_cpost.alias("mean_c_post"),
        ((m_tpost - m_tpre) - (m_cpost - m_cpre)).alias("did"),
    )


def reliability_bins(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_bins: int = 10,
    scale: int = 6,
) -> DataFrame:
    """Calibration reliability diagram: scores in [0, 1] bucket into
    ``n_bins`` equal-width bins; each bin reports its size, exact
    mean predicted score, and observed positive rate — the "is 0.8
    really 80%?" diagnostic behind Platt/isotonic recalibration, and
    the binned companion to r183's exact ECDF percentile.

    ONE hash aggregate; the mean score uses the scaled-integer-sum
    idiom, the rate is an IEEE division of BIGINTs — engine-exact.
    The top edge closes into the last bin (score = 1.0 is bin
    n_bins−1), matching every sklearn-style binning."""
    b = F.least(
        F.floor(F.col(score_col) * F.lit(n_bins)).cast("int"),
        F.lit(n_bins - 1),
    )
    return (
        df.withColumn("_b", b)
        .groupBy(F.col("_b").alias("bin"))
        .agg(
            F.count("*").alias("n"),
            (
                scaled_sum(score_col, scale) / F.count("*").cast("double")
            ).alias("mean_score"),
            (
                F.sum(F.col(label_col).cast("bigint")).cast("double")
                / F.count("*").cast("double")
            ).alias("pos_rate"),
        )
    )
