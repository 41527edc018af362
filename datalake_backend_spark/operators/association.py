"""Market-basket association mining: pairwise item co-occurrence.

The reference has no association operator; this exists because a
training-data lakehouse keeps meeting basket-shaped questions — which
tags co-occur in documents, which parts ship together, which sources
contribute to the same session. The pairwise co-occurrence count with a
support threshold is the first (and usually only distributed) step of
every frequent-itemset algorithm (A-priori's k=2 pass).

Scale shape: ONE pass builds the per-basket distinct item array
(``groupBy(basket).collect_set(item)`` — map-side partial aggregation,
a single exchange on the basket key), pairs are generated
partition-locally from each capped array (no self-join, no second
shuffle of the items), and the pair counts aggregate on (item_a,
item_b). Pair fan-out is bounded per basket by ``max_basket_items``
(a megabasket would otherwise explode quadratically: one 10⁶-item
basket is 5·10¹¹ pairs, the skew hazard); oversized baskets are
dropped by an array-size filter before pair generation. The
aggregation buffer holds one basket's distinct item set (the cap is
applied after the set is built), so per-group memory is O(largest
basket's distinct items) — fine up to multi-million-item baskets,
the same envelope the capped pair fan-out already implied.
All-integer output — bit-exact in any engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from datalake_backend_spark.core.materialize import pin


def item_cooccurrence(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_support: int = 2,
    max_basket_items: int = 1000,
) -> DataFrame:
    """Pairs of distinct items appearing together in at least
    ``min_support`` baskets. Returns ``(item_a, item_b, n_baskets)``
    with ``item_a < item_b``; baskets holding more than
    ``max_basket_items`` distinct items are excluded (documented
    skew/explosion cap — the twin must apply the same filter)."""
    if min_support < 1:
        raise ValueError("min_support must be >= 1")
    return _pairs_from_baskets(
        _basket_items(df, basket_col, item_col),
        min_support,
        max_basket_items,
    )


def _basket_items(
    df: DataFrame, basket_col: str, item_col: str
) -> DataFrame:
    """Per-basket distinct item arrays: ``(_b, _items, _n_items)``.

    ``_n_items`` counts a NULL item as a distinct value (matching what
    ``SELECT DISTINCT basket, item`` feeds a ``COUNT(*)`` size filter),
    while ``_items`` holds only the non-NULL items — a NULL item can
    never appear in a pair (``NULL < x`` is never true), but it does
    count toward the megabasket cap."""
    item = F.col(item_col)
    return (
        df.groupBy(F.col(basket_col).alias("_b"))
        .agg(
            F.array_sort(F.collect_set(item)).alias("_items"),
            # one tiny flag next to the ONE collect_set — a second
            # collect_set just to size it doubled the agg buffer
            F.max(item.isNull().cast("int")).alias("_null_item"),
        )
        .withColumn(
            "_n_items", F.size(F.col("_items")) + F.col("_null_item")
        )
        .drop("_null_item")
    )


def _pairs_from_baskets(
    grouped: DataFrame, min_support: int, max_basket_items: int
) -> DataFrame:
    """Supported pairs from a :func:`_basket_items` frame.

    ``_items`` must be a sorted distinct array; pairs are generated
    partition-locally (``array_sort`` ordering matches the ``<``
    comparison any SQL twin applies to the raw values), so the only
    shuffle here is the final (item_a, item_b) count. A NULL basket
    never pairs (the join-based formulation dropped it; NULL = NULL is
    not true) — the filter on the grouping key pushes down to the scan
    when the frame is built inline."""
    ids = F.col("_items")
    pair_structs = F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + F.lit(2), F.size(ids)),
                lambda y: F.struct(x.alias("item_a"), y.alias("item_b")),
            ),
        )
    )
    return (
        grouped.where(
            F.col("_b").isNotNull()
            & (F.size(ids) >= 2)
            & (F.col("_n_items") <= max_basket_items)
        )
        # explode_outer: plain explode lets the optimizer infer a
        # size(...)>0 filter below the projection, which would evaluate
        # the quadratic pair transform TWICE per basket (the
        # chunk_overlap_pairs hazard). The array is non-empty by the
        # size >= 2 filter, so outer semantics are identical.
        .select(F.explode_outer(pair_structs).alias("p"))
        .select("p.item_a", "p.item_b")
        .groupBy("item_a", "item_b")
        .agg(F.count("*").alias("n_baskets"))
        .where(F.col("n_baskets") >= min_support)
    )


def association_lift(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_support: int = 2,
    max_basket_items: int = 1000,
    scale: int = 10**6,
) -> DataFrame:
    """Market-basket LIFT scoring on top of
    :func:`item_cooccurrence`: for every supported pair, how much more
    often the items co-occur than independence predicts —
    ``lift = P(a,b) / (P(a)·P(b)) = n_ab·N / (n_a·n_b)`` — the
    recommendation/affinity signal behind "customers also bought".
    Returned as the exact scaled integer ``n_ab·N·scale div
    (n_a·n_b)`` so the score is engine-independent (log-lift / PMI is
    the consumer's monotone transform; log is not div-exact).

    Scale shape: ONE deduplicating pass builds the per-basket distinct
    item arrays (shared via ``persist`` — pairs, item supports and the
    basket total all derive from it, so the raw frame is scanned
    once); the pair pass is :func:`item_cooccurrence`'s local pair
    generation over the capped arrays, supports explode the UNCAPPED
    arrays (the cap only guards the quadratic pair fan-out), and the
    basket total is a bare count of the grouped frame. Supports join
    back via broadcast (item-support table is |items| rows)."""
    # pinned: pairs, item supports and the basket total all read it
    grouped = pin(_basket_items(df, basket_col, item_col), "association.baskets")
    pairs = _pairs_from_baskets(grouped, min_support, max_basket_items)
    supp = (
        grouped.select(F.explode("_items").alias("_i"))
        .groupBy("_i")
        .agg(F.count("*").alias("_n_item"))
    )
    total = grouped.agg(F.count("*").alias("_n_total"))
    return (
        pairs.join(
            F.broadcast(supp.select(F.col("_i").alias("item_a"),
                                    F.col("_n_item").alias("_na"))),
            "item_a",
        )
        .join(
            F.broadcast(supp.select(F.col("_i").alias("item_b"),
                                    F.col("_n_item").alias("_nb"))),
            "item_b",
        )
        .crossJoin(F.broadcast(total))
        .select(
            "item_a",
            "item_b",
            "n_baskets",
            F.expr(
                f"n_baskets * _n_total * {scale}L div (_na * _nb)"
            ).alias("lift_scaled"),
        )
    )
