"""Streaming ingest + windowed/sessionized aggregations.

Design notes for scale:

* File-source ingest lists only NEW files per micro-batch (checkpointed
  log); with ``availableNow`` it drains the backlog and stops — the
  streaming twin of the reference's upload-triggered batch, but with
  exactly-once bookkeeping instead of its latest-file heuristics
  (``Send_Data_To_DataLake/main.py:98-99``).
* Watermarks bound state: aggregation state for windows older than the
  watermark is dropped, so long-running streams don't accumulate
  unbounded hash state.
* ``session_window`` is the streaming twin of the batch gap
  sessionization (operators/sessionize.py) — same semantics, incremental
  state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery


def read_event_stream(
    spark: SparkSession, path: str, schema: T.StructType
) -> DataFrame:
    """Streaming scan over a parquet event feed (the `events` shape).

    Parquet µs timestamps with ``isAdjustedToUTC=false`` infer as
    ``TIMESTAMP_NTZ`` in Spark 4, and ``withWatermark`` rejects NTZ
    event-time columns (``EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE``). The
    batch reader normalizes NTZ → session-TZ timestamp
    (sources/readers.py ``table``); mirror that here so every streaming
    consumer gets watermark-able columns."""
    stream = spark.readStream.schema(schema).parquet(path)
    ntz = [
        f.name
        for f in stream.schema.fields
        if isinstance(f.dataType, T.TimestampNTZType)
    ]
    if ntz:
        stream = stream.withColumns({c: F.col(c).cast("timestamp") for c in ntz})
    return stream


def windowed_counts(
    events: DataFrame,
    time_col: str = "ts",
    key_col: str = "event_type",
    window: str = "5 minutes",
    slide: str | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked tumbling/sliding window counts + value sums."""
    win = (
        F.window(time_col, window, slide) if slide else F.window(time_col, window)
    )
    return (
        events.withWatermark(time_col, watermark)
        .groupBy(win.alias("w"), F.col(key_col))
        .agg(F.count("*").alias("n"), F.sum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            key_col,
            "n",
            "sum_value",
        )
    )


def session_aggregate(
    events: DataFrame,
    time_col: str = "ts",
    key_col: str = "user_id",
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming gap sessions (twin of sessionize_by_gap)."""
    return (
        events.withWatermark(time_col, watermark)
        .groupBy(F.session_window(time_col, gap).alias("s"), F.col(key_col))
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            key_col,
            "n_events",
            "sum_value",
        )
    )


def dedup_stream(
    events: DataFrame,
    key_cols: list[str],
    time_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup: keep the FIRST arrival of each key and
    drop re-deliveries (at-least-once sources, upload retries — the
    reference re-processes whole re-uploaded objects instead,
    ``Send_Data_To_DataLake/main.py:98-99``).

    ``dropDuplicatesWithinWatermark`` holds one state entry per key
    and expires entries once the watermark passes their event time, so
    dedup state is bounded by ``watermark × arrival rate`` — NOT by
    stream lifetime, which is what plain ``dropDuplicates`` on a
    stream would cost at 100 TB. Choose ``watermark`` as the maximum
    re-delivery horizon of the source (e.g. an upload retry window),
    not the stream's full history.
    """
    return events.withWatermark(time_col, watermark).dropDuplicatesWithinWatermark(
        key_cols
    )


def start_to_memory(
    df: DataFrame, name: str, output_mode: str = "append"
) -> StreamingQuery:
    """Drain ``df`` into the in-memory table ``name`` (``availableNow``)
    and return the finished query, whose ``recentProgress`` stays
    readable; query the rows with ``SELECT * FROM <name>``. A failed
    stream raises its ``StreamingQueryException``. The checkpoint lives
    in a temp dir this call owns and removes when the stream ends,
    failed or not — without one Spark creates a
    ``temporary-<uuid>`` checkpoint per run and keeps it when the query
    fails."""
    import shutil
    import tempfile

    checkpoint = tempfile.mkdtemp(prefix="memory-sink-")
    try:
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return q
    finally:
        shutil.rmtree(checkpoint, ignore_errors=True)


def _start_foreach_batch(df: DataFrame, write, checkpoint: str) -> StreamingQuery:
    """Drain ``df`` through ``write(batch, epoch_id)`` once, checkpointed
    at ``checkpoint`` — the one runner behind every foreachBatch sink."""
    return (
        df.writeStream.foreachBatch(write)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def idempotent_epoch_write(batch: DataFrame, path: str, epoch_id: int) -> None:
    """Replay-safe micro-batch parquet write: partition by the
    (checkpointed, replay-stable) ``epoch_id`` and dynamically overwrite
    ONLY that partition — a retried epoch rewrites its own directory
    instead of double-appending. An empty batch touches no partitions."""
    (
        batch.withColumn("_epoch", F.lit(epoch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("_epoch")
        .parquet(path)
    )


def start_silver_sink(
    df: DataFrame,
    path: str,
    checkpoint: str,
    transform=None,
) -> StreamingQuery:
    """Idempotent parquet sink via foreachBatch: applies the domain's
    silver transform per micro-batch (per-file batch semantics, like the
    reference's per-upload preprocessing, but checkpointed).

    foreachBatch alone is at-least-once — a micro-batch replayed after a
    crash would double-append. :func:`idempotent_epoch_write` makes the
    retry rewrite its own epoch partition. Readers see an extra
    ``_epoch`` partition column (prune or drop it downstream)."""

    def _write(batch: DataFrame, epoch_id: int) -> None:
        out = transform(batch) if transform else batch
        idempotent_epoch_write(out, path, epoch_id)

    return _start_foreach_batch(df, _write, checkpoint)


def versioned_epoch_commit(tbl, batch: DataFrame, epoch_id: int, transform=None) -> bool:
    """Append ``batch`` to ``tbl`` as an epoch-tagged snapshot commit,
    unless that epoch is already in the commit log (replay). Returns
    whether a commit happened — the exactly-once core of
    :func:`start_versioned_sink`, exposed for direct testing."""
    committed = tbl.committed_epochs()
    if epoch_id in committed:
        return False
    out = transform(batch) if transform else batch
    tbl.commit(out, mode="append", metadata={"epoch": epoch_id})
    return True


def start_versioned_sink(
    df: DataFrame,
    table_path: str,
    checkpoint: str,
    transform=None,
    compact_max_files: int | None = None,
) -> StreamingQuery:
    """Streaming sink into a :class:`~datalake_backend_spark.sources
    .versioned.VersionedTable`: every micro-batch appends one SNAPSHOT
    commit tagged with its (checkpointed, replay-stable) epoch id.

    foreachBatch is at-least-once; exactly-once comes from the commit
    log itself — a replayed epoch finds its id already tagged on a
    committed manifest and skips, so the retry is a metadata no-op
    instead of a double-append (the same idea as Delta's txn/appId
    dedup). Unlike :func:`start_silver_sink`'s epoch-partitioned
    layout, readers here get a clean schema (no ``_epoch`` column),
    snapshot isolation while the stream is live, and time travel to
    any micro-batch boundary.

    ``compact_max_files`` arms the auto-OPTIMIZE policy: after each
    commit, if the snapshot's file count exceeds the bound,
    ``maybe_compact`` folds the accumulated per-epoch dirs into
    target-size files as its own (non-epoch) version — the small-file
    answer for a long-running ingest stream. A compaction that loses a
    race is skipped (the NEXT epoch retries); readers and replays are
    unaffected either way."""
    from datalake_backend_spark.sources.versioned import (
        CommitConflict,
        VersionedTable,
    )

    tbl = VersionedTable(table_path)

    def _write(batch: DataFrame, epoch_id: int) -> None:
        versioned_epoch_commit(tbl, batch, epoch_id, transform)
        if compact_max_files is not None:
            try:
                tbl.maybe_compact(batch.sparkSession, max_files=compact_max_files)
            except CommitConflict:
                pass  # another writer landed mid-rewrite; next epoch retries

    return _start_foreach_batch(df, _write, checkpoint)


def upsert_epoch_commit(
    tbl,
    batch: DataFrame,
    epoch_id: int,
    key_cols: list[str],
    seq_col: str | None = None,
    delete_col: str | None = None,
) -> bool:
    """MERGE one micro-batch of change rows into ``tbl`` by key,
    exactly-once (epoch already in the commit log → no-op). The core of
    :func:`start_upsert_sink`, exposed for direct testing.

    Within the batch, ``seq_col`` orders multiple changes to one key
    (highest wins — ties broken by the delete flag, then by the
    remaining orderable payload columns, so replays pick the same
    winner even among equal ``(key, seq, flag)`` rows); the surviving
    row either upserts or, when ``delete_col`` is true, deletes the
    key. Marker columns never reach the table.

    The MERGE is a read-modify-write through
    ``VersionedTable.rewrite``: derived FROM the head it read, pinned to
    it, and re-derived from the new head when a concurrent writer (CLI
    OPTIMIZE, another merge) lands in between — including the
    epoch-dedup check, in case that writer WAS this epoch's replay.
    The table keeps its partition scheme."""
    from pyspark.sql import Window

    from datalake_backend_spark.operators.merge import upsert

    def _orderable(dt) -> bool:
        from pyspark.sql import types as T

        if isinstance(dt, T.MapType):
            return False
        if isinstance(dt, T.ArrayType):
            return _orderable(dt.elementType)
        if isinstance(dt, T.StructType):
            return all(_orderable(f.dataType) for f in dt.fields)
        return True

    b = batch
    if seq_col is not None:
        order = [F.col(seq_col).desc()]
        if delete_col is not None:
            order.append(F.col(delete_col).desc())
        marker = set(key_cols) | {seq_col, delete_col}
        order.extend(
            F.col(f.name).desc_nulls_last()
            for f in batch.schema.fields
            if f.name not in marker and _orderable(f.dataType)
        )
        w = Window.partitionBy(*key_cols).orderBy(*order)
        b = (
            b.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn", seq_col)
        )
    if delete_col is not None:
        deletes = b.where(F.col(delete_col)).select(*key_cols).distinct()
        ups = b.where(~F.col(delete_col)).drop(delete_col)
    else:
        deletes, ups = None, b

    def derive(base):
        new = ups if base is None else upsert(base, ups, key_cols)
        if deletes is not None:
            new = new.join(F.broadcast(deletes), key_cols, "left_anti")
        return new

    return (
        tbl.rewrite(batch.sparkSession, derive, "merge", epoch=epoch_id)
        is not None
    )


def start_upsert_sink(
    df: DataFrame,
    table_path: str,
    checkpoint: str,
    key_cols: list[str],
    seq_col: str | None = None,
    delete_col: str | None = None,
) -> StreamingQuery:
    """Streaming keyed upsert into a versioned table — APPLY CHANGES
    INTO: each micro-batch of change rows (inserts/updates, optional
    ``delete_col`` tombstones, optional ``seq_col`` intra-batch
    ordering) MERGEs into the snapshot by ``key_cols`` and commits one
    copy-on-write version. Exactly-once comes from the commit log's
    epoch tags exactly as in :func:`start_versioned_sink`; a replayed
    micro-batch is a metadata no-op, so the table never applies the
    same change twice. Readers see a consistent post-merge snapshot at
    every micro-batch boundary and can time travel across them — the
    streaming CDC-consumption path a warehouse sink needs."""
    from datalake_backend_spark.sources.versioned import VersionedTable

    tbl = VersionedTable(table_path)

    def _write(batch: DataFrame, epoch_id: int) -> None:
        upsert_epoch_commit(tbl, batch, epoch_id, key_cols, seq_col, delete_col)

    return _start_foreach_batch(df, _write, checkpoint)


def start_state_merge_sink(
    df: DataFrame,
    table_path: str,
    checkpoint: str,
    fold,
    merge,
    op: str,
) -> StreamingQuery:
    """Streaming sink that maintains a mergeable STATE table: each
    micro-batch folds alone (``fold(batch)``), merges into the current
    state snapshot (``merge(base, batch_state)``) and commits one
    epoch-tagged copy-on-write version through
    ``VersionedTable.rewrite`` — derived from the head it read, pinned
    to it, re-derived on a lost race, and a no-op for a replayed epoch.
    Readers get a consistent snapshot at every micro-batch boundary
    and can time travel to any earlier one; only the two small state
    tables shuffle, stream history is never re-scanned."""
    from datalake_backend_spark.sources.versioned import VersionedTable

    tbl = VersionedTable(table_path)

    def _write(batch: DataFrame, epoch_id: int) -> None:
        state_merge_commit(tbl, batch, epoch_id, fold, merge, op)

    return _start_foreach_batch(df, _write, checkpoint)


def state_merge_commit(tbl, batch: DataFrame, epoch_id: int, fold, merge, op: str) -> bool:
    """Fold one micro-batch and merge it into the state table,
    exactly-once. Returns whether a commit happened — the core of
    :func:`start_state_merge_sink`, exposed for direct testing."""
    bstate = fold(batch)
    return (
        tbl.rewrite(
            batch.sparkSession,
            lambda base: bstate if base is None else merge(base, bstate),
            op,
            epoch=epoch_id,
        )
        is not None
    )


def start_incremental_rollup_sink(
    df: DataFrame,
    table_path: str,
    checkpoint: str,
    keys: list[str],
    value_cols: list[str],
) -> StreamingQuery:
    """Streaming MATERIALIZED VIEW: maintain a per-key aggregate STATE
    table (`operators/incremental.py`) under a stream — each batch
    aggregates alone (`rollup_state`) and merges into the snapshot
    (`merge_rollup_state`). The streaming twin of the reference's
    reaggregate-everything-per-upload gold step."""
    from datalake_backend_spark.operators.incremental import (
        merge_rollup_state,
        rollup_state,
    )

    return start_state_merge_sink(
        df,
        table_path,
        checkpoint,
        lambda batch: rollup_state(batch, keys, value_cols),
        lambda base, state: merge_rollup_state(base, state, keys),
        "rollup-merge",
    )


def streaming_session(spark: SparkSession, shuffle_partitions: int = 8):
    """Session clone sized for stateful streaming.

    Every stateful operator materializes one state-store instance per
    shuffle partition per micro-batch — at the default batch-oriented
    partition count that fixed overhead dwarfs small/medium micro-batch
    work (measured on the q84 interval join at sf0.1: 32 partitions
    15.8 s → 4 partitions 2.4 s, identical output). Size this to the
    expected per-batch STATE volume, not to cluster CPU count; at
    100 TB-scale feeds raise it so each state partition stays within
    executor memory. The conf lives on a cloned session so
    concurrently-planned batch queries (bench threads, the driver's
    oracle sweep) never see it."""
    ns = spark.newSession()
    ns.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    return ns


def stream_static_enrich(
    stream: DataFrame,
    dim: DataFrame,
    stream_key: str,
    dim_key: str,
    dim_cols: list[str],
) -> DataFrame:
    """Stream-static enrichment: every micro-batch of ``stream`` is
    joined against the STATIC dimension ``dim`` (the lookup-table
    shape — user→account, device→model, sku→category). The static
    side is broadcast, so enrichment is stateless and map-side: no
    streaming state, no watermark requirement, and the dimension is
    re-resolved per micro-batch (a dim refreshed between batches is
    picked up — Spark re-plans the static side each trigger).
    Left join keeps stream rows whose key has no dim match, with NULL
    attributes — an enrichment must never drop events."""
    d = dim.select(
        F.col(dim_key).alias(stream_key),
        *[F.col(c) for c in dim_cols],
    )
    return stream.join(F.broadcast(d), stream_key, "left")


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key_col: str,
    left_time: str,
    right_time: str,
    max_delay: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream inner join: right-side events that occur within
    ``(left_time, left_time + max_delay]`` of a left event with the
    same key (the click→purchase attribution shape).

    Both sides carry a watermark and the join condition bounds event
    time on both ends, so Spark can expire join state — without the
    interval condition state grows unboundedly. Columns are
    prefixed ``l_``/``r_`` to keep the output schema unambiguous."""
    l = left.withWatermark(left_time, watermark).select(
        F.col(key_col).alias("l_key"),
        F.col(left_time).alias("l_ts"),
        *[
            F.col(c).alias(f"l_{c}")
            for c in left.columns
            if c not in (key_col, left_time)
        ],
    )
    r = right.withWatermark(right_time, watermark).select(
        F.col(key_col).alias("r_key"),
        F.col(right_time).alias("r_ts"),
        *[
            F.col(c).alias(f"r_{c}")
            for c in right.columns
            if c not in (key_col, right_time)
        ],
    )
    return l.join(
        r,
        (F.col("l_key") == F.col("r_key"))
        & (F.col("r_ts") > F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {max_delay}")),
    )


def start_bitmap_reach_sink(
    df: DataFrame,
    table_path: str,
    checkpoint: str,
    keys: list[str],
    id_col: str,
) -> StreamingQuery:
    """Streaming EXACT-DISTINCT materialized view: maintain per-key
    bitmap-word state (`operators/incremental.py:bitmap_state`) under
    a stream — the unique-visitors / reach counter that plain
    aggregate state cannot maintain because distinct counts don't
    merge as scalars, while their bitmaps merge with an idempotent
    ``bit_or`` (a replayed batch changes NOTHING, on top of the
    epoch-commit-log exactly-once). Only word rows (metadata-sized)
    ever shuffle."""
    from datalake_backend_spark.operators.incremental import (
        bitmap_state,
        merge_bitmap_state,
    )

    return start_state_merge_sink(
        df,
        table_path,
        checkpoint,
        lambda batch: bitmap_state(batch, keys, id_col),
        lambda base, state: merge_bitmap_state(base, state, keys),
        "bitmap-merge",
    )


def start_kmv_reach_sink(
    df: DataFrame,
    table_path: str,
    checkpoint: str,
    keys: list[str],
    id_col: str,
    k: int = 256,
) -> StreamingQuery:
    """Streaming BOUNDED-STATE distinct-count materialized view: the
    KMV companion to :func:`start_bitmap_reach_sink` — the bitmap is
    exact but its word count grows with the id range, while the KMV
    sketch holds a FIXED k hashes per key at any cardinality, and its
    union (re-take the k smallest) is just as idempotent. Each batch
    folds to per-key k-minima (two-phase rank) and merges over ≤ 2k
    rows per key. The finalized estimate is bit-identical to the
    one-shot ``distributions.kmv_distinct`` over the union of all
    batches — merging k-minima IS the global k-minimum."""
    from datalake_backend_spark.operators.incremental import (
        kmv_state,
        merge_kmv_state,
    )

    return start_state_merge_sink(
        df,
        table_path,
        checkpoint,
        lambda batch: kmv_state(batch, keys, id_col, k=k),
        lambda base, state: merge_kmv_state(base, state, keys, k=k),
        "kmv-merge",
    )
