"""Incremental view maintenance: mergeable partial-aggregate states.

The reference recomputes gold rollups from the full silver zone on
every upload (``Send_Data_To_DataLake/processing_vehicle.py`` re-reads
and re-aggregates the whole object set). At 100 TB that is a full-table
scan per ingest. The scalable shape is the classic mergeable-state
design (the same algebra behind Spark's own partial aggregation and
every streaming materialized view): keep the gold table as per-key
STATE — count / sum / min / max (and sum-of-squares for variance) —
compute the same state for the new batch only, and MERGE the two by
key. Merging is one shuffle over the (small) state tables, never a
rescan of history; any presentation metric (avg, stddev, rates)
derives from state columns at read time.

Works batch-over-batch (upload-triggered, like the reference) or as a
``foreachBatch`` streaming consumer; pairs with
:class:`~datalake_backend_spark.sources.versioned.VersionedTable` for
an exactly-once incrementally-maintained gold zone.

Exactness: count/sum/min/max merge losslessly. Sums accumulate in
DECIMAL(18,4) so the merged result is bit-identical to a single-pass
aggregate regardless of batch split — the cross-engine float rule the
rest of the repo uses (``core/exact.py``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from datalake_backend_spark.operators.ranking import two_phase_top_k


def rollup_state(
    df: DataFrame, keys: list[str], value_cols: list[str]
) -> DataFrame:
    """Per-key aggregate STATE for a batch: for every value column,
    ``<v>_n / <v>_sum / <v>_min / <v>_max`` (count ignores NULLs, like
    SQL aggregates). One hash aggregate with map-side partials."""
    aggs = []
    for v in value_cols:
        aggs += [
            F.count(v).alias(f"{v}_n"),
            F.sum(F.col(v).cast("decimal(18,4)")).alias(f"{v}_sum"),
            F.min(v).alias(f"{v}_min"),
            F.max(v).alias(f"{v}_max"),
        ]
    return df.groupBy(*keys).agg(*aggs)


def merge_rollup_state(
    current: DataFrame, batch: DataFrame, keys: list[str]
) -> DataFrame:
    """Merge two state tables by key: counts/sums add, mins/maxes
    fold. Keys present on one side only pass through (outer union —
    new keys appear, quiet keys persist). Implemented as union +
    re-aggregate so it is one shuffle on the key and N-way merges
    compose associatively."""
    state_cols = [c for c in current.columns if c not in keys]
    if set(batch.columns) != set(current.columns):
        raise ValueError(
            f"state schemas differ: {sorted(current.columns)} vs "
            f"{sorted(batch.columns)}"
        )
    aggs = []
    for c in state_cols:
        if c.endswith("_n") or c.endswith("_sum"):
            aggs.append(F.sum(c).alias(c))
        elif c.endswith("_min"):
            aggs.append(F.min(c).alias(c))
        elif c.endswith("_max"):
            aggs.append(F.max(c).alias(c))
        else:
            raise ValueError(f"not a state column: {c}")
    return current.unionByName(batch).groupBy(*keys).agg(*aggs)


def finalize_rollup(state: DataFrame, value_cols: list[str]) -> DataFrame:
    """Presentation metrics from state: per value column the exact
    count/sum/min/max plus the derived mean (decimal sum ÷ count,
    cast to double last — order-independent)."""
    out = state
    for v in value_cols:
        # cast the exact decimal sum to double FIRST, then divide:
        # double÷int is IEEE-identical in every engine, while decimal
        # division scales differ between Spark and DuckDB
        out = out.withColumn(
            f"{v}_avg",
            F.col(f"{v}_sum").cast("double") / F.col(f"{v}_n"),
        )
    return out


def bitmap_state(
    df: DataFrame,
    keys: list[str],
    id_col: str,
    word_bits: int = 32,
) -> DataFrame:
    """Mergeable DISTINCT-COUNT state: fold ids into per-(keys, bucket)
    bitmap words (r192/r203/r219's structure). Unlike count/sum state
    (:func:`rollup_state`), a distinct count is NOT mergeable as a
    scalar — but its BITMAP is: ``bit_or`` is idempotent, commutative,
    and associative, so batches merge in any order and replays are
    harmless. THE incremental form of COUNT(DISTINCT) (exact reach /
    unique visitors under streaming ingest)."""
    return (
        df.select(
            *keys,
            F.expr(f"{id_col} div {word_bits}").alias("bucket"),
            F.expr(
                f"shiftleft(1L, CAST(pmod({id_col}, {word_bits}) AS INT))"
            ).alias("bit"),
        )
        .groupBy(*keys, "bucket")
        .agg(F.expr("bit_or(bit)").alias("word"))
    )


def merge_bitmap_state(
    current: DataFrame, batch: DataFrame, keys: list[str]
) -> DataFrame:
    """Merge bitmap states: union + per-(keys, bucket) ``bit_or`` —
    one shuffle on metadata-sized word rows, never the raw ids."""
    return (
        current.unionByName(batch)
        .groupBy(*keys, "bucket")
        .agg(F.expr("bit_or(word)").alias("word"))
    )


def finalize_bitmap(state: DataFrame, keys: list[str]) -> DataFrame:
    """Exact distinct count per key from bitmap state: sum of
    ``bit_count`` over the key's words."""
    return state.groupBy(*keys).agg(
        F.sum(F.bit_count("word")).alias("n_distinct")
    )


def kmv_minima(
    df: DataFrame, keys: list[str], id_col: str, k: int, buckets: int
) -> DataFrame:
    """Per key, the ``k`` smallest DISTINCT portable-md5 hashes ``_h``
    of ``id_col``, one row each — the two-phase top-k
    (``ranking.two_phase_top_k``) over ``buckets`` hash buckets, so a
    billion-distinct key never sorts through one task."""
    from datalake_backend_spark.datapipe.dedup import portable_hash60

    dh = df.select(
        *keys, portable_hash60(F.col(id_col).cast("string")).alias("_h")
    ).distinct()
    return two_phase_top_k(
        dh, keys, F.pmod(F.col("_h"), F.lit(buckets)), [F.col("_h")], k
    )


def kmv_estimate(n_kept: Column, kth_hash: Column, k: int) -> Column:
    """The KMV distinct-count estimate ``(k−1) · 2^60 / h_k``
    (Bar-Yossef et al. 2002) from the kept count and the k-th smallest
    hash; a key with fewer than k distinct values is counted exactly."""
    numerator = float((k - 1) * (1 << 60))
    return F.when(n_kept < k, n_kept.cast("double")).otherwise(
        F.lit(numerator) / kth_hash.cast("double")
    )


def kmv_state(
    df: DataFrame,
    keys: list[str],
    id_col: str,
    k: int = 256,
    buckets: int = 16,
) -> DataFrame:
    """Mergeable KMV sketch state: per key, the k smallest DISTINCT
    portable-md5 hashes of ``id_col`` as one sorted array — the
    bounded-size companion to :func:`bitmap_state` (exact but O(id
    range) words) for distinct counts under streaming ingest: a KMV
    union is just "union the hash sets, re-take the k smallest", so
    the state is idempotent / commutative / associative like bit_or,
    at a FIXED k·8-byte budget per key no matter the cardinality.

    The batch fold is :func:`kmv_minima`, the same as
    ``distributions.kmv_distinct``'s (whose finalize this state must
    reproduce bit-for-bit); only the ≤ k survivors per key collect
    into the array."""
    return kmv_minima(df, keys, id_col, k, buckets).groupBy(*keys).agg(
        F.array_sort(F.collect_list("_h")).alias("hashes")
    )


def merge_kmv_state(
    current: DataFrame, batch: DataFrame, keys: list[str], k: int = 256
) -> DataFrame:
    """Merge KMV states: explode both sides' arrays, dedupe, re-take
    the k smallest per key. State rows carry ≤ 2k hashes per key, so
    the single rank window runs over metadata-sized input — raw ids
    never reappear."""
    u = current.unionByName(batch).select(
        *keys, F.explode("hashes").alias("_h")
    ).distinct()
    w = Window.partitionBy(*keys).orderBy("_h")
    return (
        u.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .groupBy(*keys)
        .agg(F.array_sort(F.collect_list("_h")).alias("hashes"))
    )


def finalize_kmv(state: DataFrame, keys: list[str], k: int = 256) -> DataFrame:
    """Distinct-count estimate from KMV state — IDENTICAL output
    contract to ``distributions.kmv_distinct`` (n_kept, kth_hash,
    estimate), because a merge of per-batch k-minima IS the global
    k-minimum: the streaming path and the one-shot batch path must
    produce the same bytes."""
    n_kept = F.size("hashes").cast("long")
    kth = F.element_at(F.col("hashes"), F.size("hashes"))
    return state.select(
        *keys,
        n_kept.alias("n_kept"),
        kth.alias("kth_hash"),
        kmv_estimate(n_kept, kth, k).alias("estimate"),
    )
