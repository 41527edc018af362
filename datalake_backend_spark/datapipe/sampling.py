"""Deterministic sampling & dataset splitting for training-data curation.

Random sampling (``df.sample``/``sampleBy``) is nondeterministic across
runs, partitionings, and engines — useless for reproducible dataset
builds. These operators derive a uniform [0, 1) fraction from a
portable 60-bit md5 hash of (key, salt) instead:

* identical results on every run, any partitioning, any cluster size;
* membership is a pure map-stage projection (no shuffle, no state);
* any SQL engine reproduces the exact row set
  (``('0x' || substr(md5(key || salt), 1, 15))::BIGINT / 2^60``);
* re-running on a grown corpus keeps prior decisions stable — a row's
  fate depends only on its own key, the leakage-safe property that
  train/test splits need (same key never straddles the split).

The salt namespaces independent decisions: sampling with one salt and
splitting with another gives independent uniform draws from the same
key.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from datalake_backend_spark.core.exact import fixed
from datalake_backend_spark.datapipe.dedup import portable_hash60
from datalake_backend_spark.operators.ranking import two_phase_top_k

#: ceiling on the per-source count collect in :func:`mix_with_temperature`
_MAX_SOURCES = 100_000

#: 2^60 — portable_hash60 is uniform on [0, 2^60).
_HASH_SPACE = float(1 << 60)


def hash_fraction(key_col: Column | str, salt: str = "") -> Column:
    """Deterministic uniform [0, 1) fraction from a key column.

    The hash input is ``CAST(key AS STRING) || salt`` so any engine can
    reproduce it; the division by 2^60 is exact-input identical in
    every IEEE-754 implementation.
    """
    c = F.col(key_col) if isinstance(key_col, str) else key_col
    h = portable_hash60(F.concat(c.cast("string"), F.lit(salt)))
    return h / F.lit(_HASH_SPACE)


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict[str, float],
    key_col: str,
    salt: str = "",
) -> DataFrame:
    """Keep a deterministic per-stratum fraction of rows.

    Strata absent from ``fractions`` are dropped (fraction 0.0) — the
    curation default, where unlisted languages/sources are excluded.
    Pure projection + filter: no shuffle, fully pushdown-friendly.
    """
    frac = F.lit(0.0)
    for value, p in fractions.items():
        frac = F.when(F.col(strata_col) == value, F.lit(float(p))).otherwise(frac)
    return df.where(hash_fraction(key_col, salt) < frac)


def deterministic_split(
    df: DataFrame,
    key_col: str,
    fractions: dict[str, float],
    salt: str = "",
    out_col: str = "split",
) -> DataFrame:
    """Assign each row to a named split by cumulative hash-fraction
    thresholds (e.g. ``{"train": 0.8, "val": 0.1, "test": 0.1}``).

    The same (key, salt) always lands in the same split — across runs
    AND across engine re-implementations — so a document can never
    leak between train and test when the corpus is rebuilt. Fractions
    must sum to ~1.0; the final split absorbs the remainder so float
    accumulation can't leave rows unassigned.
    """
    names = list(fractions)
    bounds: list[float] = []
    acc = 0.0
    for name in names[:-1]:
        acc += float(fractions[name])
        bounds.append(acc)
    frac = hash_fraction(key_col, salt)
    # nested WHENs, first matching bound wins (ascending thresholds)
    expr: Column = F.lit(names[-1])
    for name, bound in reversed(list(zip(names[:-1], bounds))):
        expr = F.when(frac < F.lit(bound), F.lit(name)).otherwise(expr)
    return df.withColumn(out_col, expr)


def split_bounds(fractions: dict[str, float]) -> list[tuple[str, float]]:
    """(name, upper_bound) pairs for all but the last split — exposed so
    SQL twins can inline the EXACT cumulative float literals Python
    computed (0.8 + 0.1 is 0.9000000000000001 in binary; the oracle
    must compare against that same double, not a fresh 0.9)."""
    names = list(fractions)
    out: list[tuple[str, float]] = []
    acc = 0.0
    for name in names[:-1]:
        acc += float(fractions[name])
        out.append((name, acc))
    return out


def assign_shards(
    df: DataFrame,
    key_col: str,
    n_shards: int,
    salt: str = "",
    out_col: str = "shard",
) -> DataFrame:
    """Deterministic training-export shard assignment:
    ``shard = portable_hash60(key || salt) % n_shards``.

    The properties a training-data writer needs, none of which
    ``repartition`` gives you: stable across runs/partitionings/engines
    (any SQL engine reproduces the set), uniform (hash-balanced, no
    hot shard), and a pure projection (no shuffle at assignment time —
    the one shuffle happens at ``partitionBy(out_col)`` write time).
    Pairs with :func:`hash_fraction` under a different salt for
    shuffle-within-shard ordering.
    """
    h = portable_hash60(F.concat(F.col(key_col).cast("string"), F.lit(salt)))
    return df.withColumn(out_col, F.pmod(h, F.lit(n_shards)).cast("int"))


def cap_per_group(
    df: DataFrame,
    group_col: str,
    cap: int,
    key_col: str,
    salt: str = "",
    buckets: int = 16,
) -> DataFrame:
    """Keep at most ``cap`` rows per group, chosen deterministically by
    the portable (key, salt) hash order — RefinedWeb-style per-domain
    balancing (no domain may dominate the corpus).

    Skew-safe: the two-phase top-k (``ranking.two_phase_top_k``) over
    ``buckets`` hash buckets, so a hot domain never sorts through one
    task; the result equals the single-window form a SQL oracle uses.
    """
    h = portable_hash60(F.concat(F.col(key_col).cast("string"), F.lit(salt)))
    return two_phase_top_k(
        df, [group_col], F.pmod(h, F.lit(buckets)), [h, F.col(key_col)], cap
    )


def mix_to_proportions(
    df: DataFrame,
    source_col: str,
    proportions: dict[str, float],
    key_col: str,
    salt: str = "mix",
) -> DataFrame:
    """Downsample a multi-source corpus to target mixing proportions
    (the Dolma/Pile source-mixing step): find the largest total ``T``
    achievable without upsampling any source — ``T = min_s(n_s / p_s)``
    — then keep each source at deterministic hash-fraction
    ``f_s = p_s·T / n_s``. Sources absent from ``proportions`` are
    dropped; the bottleneck source keeps everything (f = 1).

    Counts are realized by thresholding the per-row uniform hash, so
    achieved sizes are binomially close to the targets (exact in
    expectation) while keeping every property of
    :func:`hash_fraction`: reproducible across runs/engines/cluster
    sizes, membership decided per-row with no shuffle, and stable
    under corpus growth for rows whose source mix doesn't change.

    Scale shape: ONE count aggregate over the source column (tiny
    result, collected to compute the closed-form fractions — a scalar
    decision, not data movement), then a pure map-stage filter.
    """
    if not proportions:
        raise ValueError("proportions must be non-empty")
    total_p = sum(proportions.values())
    p = {s: v / total_p for s, v in proportions.items()}
    # collect bounded by len(proportions): the isin filter keeps only
    # the proposal's keys, and that dict already lives on the driver —
    # no additional cap needed (audited round 9)
    counts = {
        r[0]: r[1]
        for r in df.where(F.col(source_col).isin(list(p)))
        .groupBy(source_col)
        .count()
        .collect()
    }
    missing = [s for s in p if s not in counts]
    if missing:
        raise ValueError(f"sources absent from corpus: {missing}")
    t_max = min(counts[s] / p[s] for s in p)
    fracs = {s: (p[s] * t_max) / counts[s] for s in p}
    keep = F.lit(0.0)
    for s, f in fracs.items():
        keep = F.when(F.col(source_col) == s, F.lit(float(f))).otherwise(keep)
    return df.where(hash_fraction(key_col, salt) < keep)


def negative_samples(
    df: DataFrame,
    id_col: str = "doc_id",
    k: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Deterministic pseudo-random negative sampling for contrastive
    training pairs: each anchor row gets ``k`` negatives drawn
    uniformly from the corpus by a portable hash — no ``rand()``, so
    the sample is identical across runs, partitionings, and engines,
    and an anchor never draws itself.

    Scale shape: a dense 0-based rank index over ids comes from the
    same two-phase prefix sum as sequence packing (range-repartition +
    per-partition counts + a #partitions-row window — no global sort);
    each (anchor, j) computes ``target = hash(id:j:seed) mod N`` and
    equi-joins rank → id. Both sides of that join are uniform by
    construction (hash targets), so there is no skew; cost is one
    explode (k×N rows of two longs) plus one shuffle join against the
    N-row index."""
    from datalake_backend_spark.datapipe.dedup import portable_hash60
    from datalake_backend_spark.datapipe.packing import token_stream_offsets

    ids = df.select(id_col).withColumn("_one", F.lit(1))
    idx = token_stream_offsets(
        ids, key_col=id_col, token_count_col="_one", out_col="_rank"
    ).select(F.col(id_col).alias("_nid"), F.col("_rank"))
    n = idx.count()
    if n < 2:
        raise ValueError("negative sampling needs at least 2 rows")
    anchors = idx.select(
        F.col("_nid").alias(id_col), F.col("_rank").alias("_arank")
    ).select(
        id_col,
        "_arank",
        F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("neg_idx"),
    )
    target = F.pmod(
        portable_hash60(
            F.concat_ws(
                ":",
                F.col(id_col).cast("string"),
                F.col("neg_idx").cast("string"),
                F.lit(str(seed)),
            )
        ),
        F.lit(n),
    )
    # self-draw: deterministic re-aim one rank over (mod N)
    anchors = anchors.withColumn(
        "_trank",
        F.when(target == F.col("_arank"), (target + 1) % n).otherwise(target),
    )
    return (
        anchors.join(idx, anchors._trank == idx._rank)
        .select(id_col, "neg_idx", F.col("_nid").alias("neg_id"))
    )


def weighted_sample(
    df: DataFrame,
    weight_col: str | Column,
    key_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Deterministic importance sampling: keep each row independently
    with probability = its weight (clamped to [0, 1]) — the
    quality-weighted downsampling pass of curation pipelines (keep
    p = quality score, so better documents survive more often), with
    no ``rand()``: membership is ``hash_fraction(key) < weight``, so
    the selected set is identical across runs, partitionings, and
    engines, and CONSISTENT across reruns with updated weights (a row
    whose weight rises can only enter, never leave — hash_fraction is
    fixed per key). Map-only filter; one expression."""
    w = F.col(weight_col) if isinstance(weight_col, str) else weight_col
    p = F.least(F.greatest(w.cast("double"), F.lit(0.0)), F.lit(1.0))
    return df.where(hash_fraction(key_col, salt) < p)


def mix_with_temperature(
    df: DataFrame,
    source_col: str,
    key_col: str,
    alpha: float = 0.5,
    salt: str = "mixT",
) -> DataFrame:
    """Temperature-scaled source rebalancing (the multilingual
    α-sampling of mBERT/XLM-R/mT5): target proportions ``p_s ∝
    n_s^α`` flatten the source distribution — α=1 keeps it, α=0 is
    uniform, α≈0.3–0.7 up-weights small sources without drowning the
    large ones. The keep fractions reuse the largest-no-upsample rule
    (``T = min_s n_s/p_s``, ``f_s = p_s·T/n_s``); the bottleneck is
    now the SMALLEST source (it has the highest target share relative
    to its size), which keeps everything while larger sources
    downsample toward the tempered mix. Unnormalized ``p_s`` works
    because the fractions are scale-invariant in p.

    Same mechanics as :func:`mix_to_proportions`: one tiny count
    aggregate, closed-form fractions, deterministic hash-fraction
    membership (no rand(), reproducible across engines/runs). For
    α=0.5 the weights use ``sqrt`` — correctly rounded in every IEEE
    implementation, so a SQL twin lands on bit-identical fractions;
    other α go through ``pow``, whose last-ulp behavior is libm-
    specific (fine within one engine, not guaranteed cross-engine)."""
    import math

    # the per-source count collect is bounded by the DATA's source
    # cardinality, not by an argument — a caller pointing source_col
    # at a high-cardinality column (doc_id) would collect the whole
    # table; probe distinctness distributedly and fail loud
    per_source = df.groupBy(source_col).count()
    if per_source.limit(_MAX_SOURCES + 1).count() > _MAX_SOURCES:
        raise ValueError(
            f"{source_col} has more than {_MAX_SOURCES:,} distinct "
            "values — not a source/domain column; refusing the "
            "driver collect"
        )
    counts = {r[0]: r[1] for r in per_source.collect()}
    if not counts:
        raise ValueError("empty corpus")
    if alpha == 0.5:
        p = {s: math.sqrt(n) for s, n in counts.items()}
    else:
        p = {s: float(n) ** alpha for s, n in counts.items()}
    t_max = min(counts[s] / p[s] for s in p)
    fracs = {s: (p[s] * t_max) / counts[s] for s in p}
    keep = F.lit(0.0)
    for s, f in fracs.items():
        keep = F.when(F.col(source_col) == s, F.lit(float(f))).otherwise(keep)
    return df.where(hash_fraction(key_col, salt) < keep)


def quality_budget_keep(
    df: DataFrame,
    group_col: str,
    score_col: str,
    id_col: str,
    budget_pct: int = 80,
    scale: int = 4,
) -> DataFrame:
    """Nucleus-style curation: per group, keep the highest-scoring
    rows until they account for ``budget_pct`` percent of the group's
    total score mass — "spend 80% of the quality budget on the best
    documents", the top-p analogue for corpus curation (keep-best
    until the mass budget is hit, drop the long tail).

    A row is kept iff the cumulative scaled score of all STRICTLY
    better rows (score desc, id asc — a deterministic total order) is
    below ``budget_pct`` percent of the group total, so the first row
    crossing the boundary is still kept (the budget is a floor, never
    an empty group). Floor-scaled integer scores and an integer
    cross-multiplied comparison (``100·cum_before < pct·total``) make
    the kept set engine-exact.

    Scale shape: one per-group window cumsum over (score desc, id) —
    a single hash-partitioned sort per group, no global sort, no
    self-join; group totals ride the same window (unbounded frame)."""
    if not 0 < budget_pct <= 100:
        raise ValueError("budget_pct must be in (0, 100]")
    s = fixed(score_col, scale)
    w = Window.partitionBy(group_col).orderBy(
        F.desc(score_col), F.col(id_col)
    )
    d = df.withColumn("_s", s).withColumn(
        "_cum_before",
        F.coalesce(
            F.sum("_s").over(w.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ),
    ).withColumn(
        "_total",
        F.sum("_s").over(
            w.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ),
    )
    return d.where(
        F.col("_cum_before") * 100 < F.lit(budget_pct) * F.col("_total")
    ).drop("_s", "_cum_before", "_total")


def priority_sample(
    df: DataFrame,
    weight_col: str | Column,
    key_col: str,
    k: int,
    group_col: str | None = None,
    salt: str = "",
    buckets: int = 16,
) -> DataFrame:
    """Fixed-size weight-proportional sample WITHOUT replacement:
    priority sampling (Duffield, Lund & Thorup 2007) — each row gets
    priority ``w / u`` with ``u`` a deterministic uniform in (0, 1]
    from the portable (key, salt) hash, and the k highest priorities
    win. Complements :func:`weighted_sample` (Bernoulli, variable
    size): use this when the budget is "exactly k documents, favor
    high quality", e.g. eval-set carving or per-source vignettes.
    Deterministic across runs, partitionings, and engines: ``u`` is a
    correctly-rounded IEEE division of the same integers everywhere,
    and ``w / u`` of identical doubles is identical, so the selected
    SET (not just its size) is reproducible and oracle-checkable.

    Scale shape: the skew-safe two-phase top-k
    (``ranking.two_phase_top_k``) over ``buckets`` hash buckets, as in
    :func:`cap_per_group`. Ties (equal priority) break by key
    ascending."""
    w = F.col(weight_col) if isinstance(weight_col, str) else weight_col
    h = portable_hash60(F.concat(F.col(key_col).cast("string"), F.lit(salt)))
    u = (h + F.lit(1)).cast("double") / F.lit(float(1 << 60))
    return two_phase_top_k(
        df.withColumn("_prio", w.cast("double") / u),
        [group_col] if group_col else [],
        F.pmod(h, F.lit(buckets)),
        [F.desc("_prio"), F.col(key_col)],
        k,
    )
