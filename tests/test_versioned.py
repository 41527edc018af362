"""Versioned table (snapshot isolation / time travel / change feed)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from datalake_backend_spark.sources.versioned import CommitConflict, VersionedTable


@pytest.fixture()
def tbl(tmp_path):
    return VersionedTable(str(tmp_path / "t"))


def _mk(spark, rows):
    return spark.createDataFrame(rows, "key int, val string")


def test_commit_read_latest(spark, tbl):
    v1 = tbl.commit(_mk(spark, [(1, "a"), (2, "b")]))
    assert v1 == 1
    assert tbl.latest_version() == 1
    got = {(r.key, r.val) for r in tbl.read(spark).collect()}
    assert got == {(1, "a"), (2, "b")}


def test_time_travel_after_overwrite(spark, tbl):
    tbl.commit(_mk(spark, [(1, "a")]))
    tbl.commit(_mk(spark, [(9, "z")]))
    assert {r.key for r in tbl.read(spark).collect()} == {9}
    assert {r.key for r in tbl.read(spark, version=1).collect()} == {1}


def test_append_unions_snapshots(spark, tbl):
    tbl.commit(_mk(spark, [(1, "a")]))
    v2 = tbl.commit(_mk(spark, [(2, "b")]), mode="append")
    assert {r.key for r in tbl.read(spark, v2).collect()} == {1, 2}
    # v1 unaffected
    assert {r.key for r in tbl.read(spark, 1).collect()} == {1}
    assert tbl.manifest(v2)["num_rows"] == 2


def test_commit_conflict_retries_to_next_version(spark, tbl):
    tbl.commit(_mk(spark, [(1, "a")]))
    # simulate a concurrent writer that already published v2
    os.makedirs(tbl.log_dir, exist_ok=True)
    with open(tbl._manifest_path(2), "x") as fh:
        fh.write(
            '{"version": 2, "op": "overwrite", "ts": 0, "dirs": [], '
            '"num_rows": 0, "schema": {}}'
        )
    v = tbl.commit(_mk(spark, [(3, "c")]))
    assert v == 3  # loser retried past the conflicting version


def test_commit_conflict_exhausted_raises(spark, tbl, monkeypatch):
    tbl.commit(_mk(spark, [(1, "a")]))

    def racing_link(src, dst, *a, **kw):
        # every publish attempt finds the version already taken
        raise FileExistsError(dst)

    monkeypatch.setattr(os, "link", racing_link)
    with pytest.raises(CommitConflict):
        tbl.commit(_mk(spark, [(2, "b")]), max_retries=3)


def test_merge_is_copy_on_write(spark, tbl):
    tbl.commit(_mk(spark, [(1, "a"), (2, "b")]))
    v2 = tbl.merge(spark, _mk(spark, [(2, "B"), (3, "c")]), ["key"])
    assert {(r.key, r.val) for r in tbl.read(spark, v2).collect()} == {
        (1, "a"),
        (2, "B"),
        (3, "c"),
    }
    # old snapshot still intact (snapshot isolation)
    assert {(r.key, r.val) for r in tbl.read(spark, 1).collect()} == {
        (1, "a"),
        (2, "b"),
    }


def test_delete_where(spark, tbl):
    tbl.commit(_mk(spark, [(1, "a"), (2, "b"), (3, "c")]))
    v2 = tbl.delete_where(spark, F.col("key") % 2 == 0)
    assert {r.key for r in tbl.read(spark, v2).collect()} == {1, 3}
    assert tbl.manifest(v2)["op"] == "delete"


def test_change_feed_minimal_changelog(spark, tbl):
    tbl.commit(_mk(spark, [(1, "a"), (2, "b"), (3, "c")]))
    tbl.merge(spark, _mk(spark, [(2, "B"), (4, "d")]), ["key"])
    tbl.delete_where(spark, F.col("key") == 3)
    ch = {
        (r.key, r.op)
        for r in tbl.changes(spark, 1, 3, ["key"], ["val"]).collect()
    }
    assert ch == {(2, "update"), (4, "insert"), (3, "delete")}


def test_compact_same_rows_fewer_files(spark, tbl):
    df = spark.range(0, 1000).select(
        F.col("id").cast("int").alias("key"), F.lit("x").alias("val")
    )
    tbl.commit(df.repartition(8))
    for i in range(3):
        tbl.commit(_mk(spark, [(10_000 + i, "y")]), mode="append")
    before = tbl.read(spark).count()
    v = tbl.compact(spark)
    assert tbl.manifest(v)["op"] == "compact"
    assert tbl.read(spark, v).count() == before
    # 1003 tiny rows collapse into a single data dir with one file
    files = [
        f
        for d in tbl.manifest(v)["dirs"]
        for f in os.listdir(os.path.join(tbl.path, d))
        if f.endswith(".parquet")
    ]
    assert len(tbl.manifest(v)["dirs"]) == 1
    assert len(files) == 1


def test_vacuum_keeps_retained_versions_readable(spark, tbl):
    tbl.commit(_mk(spark, [(1, "a")]))
    tbl.commit(_mk(spark, [(2, "b")]))
    tbl.commit(_mk(spark, [(3, "c")]))
    removed = tbl.vacuum(retain_last=2)
    assert removed  # v1's exclusive dir is gone
    assert {r.key for r in tbl.read(spark, 2).collect()} == {2}
    assert {r.key for r in tbl.read(spark, 3).collect()} == {3}
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        tbl.read(spark, 1)


def test_vacuum_append_chain_keeps_shared_dirs(spark, tbl):
    tbl.commit(_mk(spark, [(1, "a")]))
    tbl.commit(_mk(spark, [(2, "b")]), mode="append")
    tbl.commit(_mk(spark, [(3, "c")]), mode="append")
    # v1's dir is shared by v2 and v3 manifests — vacuum must keep it
    removed = tbl.vacuum(retain_last=2)
    assert removed == []
    assert {r.key for r in tbl.read(spark, 3).collect()} == {1, 2, 3}


def test_history_records_ops_and_counts(spark, tbl):
    tbl.commit(_mk(spark, [(1, "a"), (2, "b")]))
    tbl.merge(spark, _mk(spark, [(3, "c")]), ["key"])
    tbl.delete_where(spark, F.col("key") == 1)
    hist = tbl.history()
    assert [m["op"] for m in hist] == ["overwrite", "merge", "delete"]
    assert [m["num_rows"] for m in hist] == [2, 3, 2]
    assert [m["version"] for m in hist] == [1, 2, 3]


def test_streaming_versioned_sink_exactly_once(spark, tmp_path):
    """Two micro-batches land as two epoch-tagged commits; replaying an
    epoch is a metadata no-op (no new version, no duplicate rows)."""
    import glob
    import os

    from datalake_backend_spark.streaming.pipeline import (
        start_versioned_sink,
        versioned_epoch_commit,
    )
    from datalake_backend_spark.sources.versioned import VersionedTable

    src = str(tmp_path / "src")
    for i, name in enumerate(["b1", "b2"]):
        spark.createDataFrame(
            [(i * 10 + j, f"v{i}") for j in range(5)], "key int, val string"
        ).coalesce(1).write.parquet(f"{src}/{name}")
        for f in glob.glob(f"{src}/{name}/part-*.parquet"):
            os.utime(f, (1_000_000_000 + i, 1_000_000_000 + i))

    stream = (
        spark.readStream.schema("key int, val string")
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/b*")
    )
    tpath = str(tmp_path / "tbl")
    q = start_versioned_sink(stream, tpath, str(tmp_path / "ck"))
    q.awaitTermination()

    tbl = VersionedTable(tpath)
    hist = tbl.history()
    assert [m["op"] for m in hist] == ["append", "append"]
    assert sorted(m["metadata"]["epoch"] for m in hist) == [0, 1]
    assert tbl.read(spark).count() == 10
    # snapshot at the first micro-batch boundary (time travel)
    assert tbl.read(spark, version=1).count() == 5

    # replay epoch 0: skipped, no new version
    batch0 = spark.read.parquet(f"{src}/b1")
    assert versioned_epoch_commit(tbl, batch0, 0) is False
    assert tbl.latest_version() == 2
    assert tbl.read(spark).count() == 10
    # a genuinely new epoch commits
    assert versioned_epoch_commit(tbl, batch0, 7) is True
    assert tbl.read(spark).count() == 15


def test_schema_evolution_on_append(spark, tbl):
    """Appending a widened schema flags the snapshot; reads merge
    footers so old rows null-fill the new column. Earlier versions and
    a later overwrite stay on the single-schema fast path."""
    tbl.commit(_mk(spark, [(1, "a"), (2, "b")]))
    wide = spark.createDataFrame(
        [(3, "c", 7.5)], "key int, val string, score double"
    )
    v2 = tbl.commit(wide, mode="append")
    assert tbl.manifest(v2)["mixed_schema"] is True
    got = {(r.key, r.val, r.score) for r in tbl.read(spark, v2).collect()}
    assert got == {(1, "a", None), (2, "b", None), (3, "c", 7.5)}
    # time travel to v1: original two-column schema
    assert tbl.read(spark, 1).columns == ["key", "val"]
    assert tbl.manifest(1).get("mixed_schema") is False
    # append with the SAME wide schema keeps the flag (dirs still mixed)
    v3 = tbl.commit(
        spark.createDataFrame([(4, "d", 1.0)], wide.schema), mode="append"
    )
    assert tbl.manifest(v3)["mixed_schema"] is True
    assert tbl.read(spark, v3).count() == 4
    # overwrite resets to a homogeneous snapshot
    v4 = tbl.commit(wide)
    assert tbl.manifest(v4)["mixed_schema"] is False


def test_compact_zorder_clusters_both_dims(spark, tbl):
    """OPTIMIZE ... ZORDER BY: after a z-ordered compaction each file
    covers a compact (x, y) rectangle — the sum of per-file ranges on
    BOTH dimensions is far below the scattered layout's, which is what
    makes min/max file skipping work for either predicate."""
    import glob

    n = 64
    df = (
        spark.range(0, n * n)
        .select(
            (F.col("id") % n).cast("int").alias("x"),
            (F.col("id") / n).cast("int").alias("y"),
        )
        .repartition(8)  # scatter: every file spans ~the full x/y range
    )
    tbl.commit(df)

    def mean_file_area(version):
        """Average (x-span × y-span) rectangle a file's min/max stats
        cover — the quantity min/max pruning works against."""
        areas = []
        for d in tbl.manifest(version)["dirs"]:
            for f in glob.glob(f"{tbl.path}/{d}/part-*.parquet"):
                agg = (
                    spark.read.parquet(f)
                    .agg(
                        F.min("x"), F.max("x"), F.min("y"), F.max("y")
                    )
                    .first()
                )
                areas.append((agg[1] - agg[0] + 1) * (agg[3] - agg[2] + 1))
        return sum(areas) / len(areas), len(areas)

    a0, nf0 = mean_file_area(1)
    v = tbl.compact(spark, target_bytes=4 << 10, zorder_by=("x", "y"))
    assert tbl.read(spark, v).count() == n * n
    # same multiset of rows
    assert (
        tbl.read(spark, v).exceptAll(tbl.read(spark, 1)).count() == 0
    )
    a1, nf1 = mean_file_area(v)
    assert len(tbl.manifest(v)["dirs"]) == 1 and nf1 > 1
    # scattered files each cover ~the whole 64×64 grid; z-ordered
    # files must cover much smaller rectangles (joint pruning wins)
    assert a0 > 0.9 * n * n  # scatter baseline really was unclustered
    assert a1 < a0 / 2.5, (a0, a1, nf0, nf1)


def test_streaming_matview_state_and_replay(spark, tmp_path):
    """The incremental-rollup sink folds batch states across epochs;
    each version is a consistent snapshot (time travel shows the
    first-batch-only state) and replaying a committed epoch is a
    no-op."""
    import glob
    import os

    from datalake_backend_spark.operators.incremental import finalize_rollup
    from datalake_backend_spark.sources.versioned import VersionedTable
    from datalake_backend_spark.streaming.pipeline import (
        start_incremental_rollup_sink,
    )

    src = str(tmp_path / "src")
    b1 = [("a", 1.0), ("a", 3.0), ("b", 10.0)]
    b2 = [("a", 5.0), ("c", 7.0)]
    for i, (name, rows) in enumerate([("b1", b1), ("b2", b2)]):
        spark.createDataFrame(rows, "k string, v double").coalesce(
            1
        ).write.parquet(f"{src}/{name}")
        for f in glob.glob(f"{src}/{name}/part-*.parquet"):
            os.utime(f, (1_000_000_000 + i, 1_000_000_000 + i))
    stream = (
        spark.readStream.schema("k string, v double")
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/b*")
    )
    tpath = str(tmp_path / "tbl")
    q = start_incremental_rollup_sink(
        stream, tpath, str(tmp_path / "ck"), ["k"], ["v"]
    )
    q.awaitTermination()

    tbl = VersionedTable(tpath)
    final = {
        r.k: (r.v_n, float(r.v_sum), r.v_min, r.v_max, r.v_avg)
        for r in finalize_rollup(tbl.read(spark), ["v"]).collect()
    }
    assert final == {
        "a": (3, 9.0, 1.0, 5.0, 3.0),
        "b": (1, 10.0, 10.0, 10.0, 10.0),
        "c": (1, 7.0, 7.0, 7.0, 7.0),
    }
    # time travel: version 1 is the first batch's state alone
    v1 = {
        r.k: (r.v_n, float(r.v_sum))
        for r in tbl.read(spark, version=1).collect()
    }
    assert v1 == {"a": (2, 4.0), "b": (1, 10.0)}
    assert [m["metadata"]["epoch"] for m in tbl.history()] == [0, 1]


def test_concurrent_writers_all_commits_land(spark, tbl):
    """8 threads × 3 appends race on the commit log: optimistic
    create-exclusive serializes them — every commit lands at a unique
    version, no rows lost, final num_rows is the exact total."""
    import threading

    errs = []

    def writer(t):
        try:
            for j in range(3):
                tbl.commit(
                    _mk(spark, [(t * 100 + j, f"w{t}")]),
                    mode="append",
                    max_retries=50,
                )
        except Exception as e:  # pragma: no cover
            errs.append(e)

    threads = [threading.Thread(target=writer, args=(t,)) for t in range(8)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs
    assert tbl.latest_version() == 24
    assert tbl.manifest()["num_rows"] == 24
    got = {r.key for r in tbl.read(spark).collect()}
    assert got == {t * 100 + j for t in range(8) for j in range(3)}


def test_partitioned_commits_prune_directories(spark, tbl):
    """Hive-partitioned snapshots: partition columns are recovered on
    read, a partition filter prunes at the directory level (the scan's
    partition count shrinks), appends must match the scheme, and
    append + time travel still work."""
    df = spark.range(0, 400).select(
        F.col("id").cast("int").alias("key"),
        (F.col("id") % 4).cast("int").alias("day"),
    )
    tbl.commit(df, partition_by=["day"])
    tbl.commit(
        spark.createDataFrame([(1000, 9)], "key int, day int"),
        mode="append",
        partition_by=["day"],
    )
    full = tbl.read(spark)
    assert set(full.columns) == {"key", "day"}
    assert full.count() == 401
    pruned = full.where(F.col("day") == 2)
    assert pruned.count() == 100
    # pruning evidence: the filtered scan touches fewer files
    def n_files(q):
        return q.select(
            F.input_file_name().alias("f")
        ).distinct().count()
    assert n_files(pruned) < n_files(full)
    # partition-spec EVOLUTION: an unpartitioned append is accepted —
    # its dir records spec [] while the old dirs keep ["day"], and the
    # read surfaces day from the new dir's file data
    tbl.commit(
        spark.createDataFrame([(2000, 7)], "key int, day int"),
        mode="append",
    )
    evolved = tbl.read(spark)
    assert evolved.count() == 402
    assert evolved.where(F.col("day") == 7).count() == 1
    assert tbl.manifest()["partition_specs"][tbl.manifest()["dirs"][-1]] == []
    # time travel to v1 excludes the appended partition
    assert tbl.read(spark, 1).where(F.col("day") == 9).count() == 0


def test_copy_on_write_preserves_partition_scheme(spark, tbl):
    """merge / delete_where / compact on a partitioned table re-commit
    with the SAME scheme — pruning survives every table mutation."""
    df = spark.range(0, 60).select(
        F.col("id").cast("int").alias("key"),
        (F.col("id") % 3).cast("int").alias("day"),
    )
    tbl.commit(df, partition_by=["day"])
    tbl.merge(
        spark, spark.createDataFrame([(100, 0)], "key int, day int"), ["key"]
    )
    tbl.delete_where(spark, F.col("key") == 5)
    v = tbl.compact(spark)
    for ver in (2, 3, v):
        assert tbl.manifest(ver)["partition_by"] == ["day"], ver
    got = tbl.read(spark)
    assert got.count() == 60  # +1 merge insert, -1 delete
    assert got.where(F.col("day") == 1).count() == 20


def test_create_view_binds_snapshot(spark, tbl):
    """A registered view is pinned to the manifest at registration:
    later commits don't leak into it; re-registering follows head."""
    tbl.commit(_mk(spark, [(1, "a")]))
    tbl.create_view(spark, "vt_head")
    tbl.create_view(spark, "vt_v1", version=1)
    tbl.commit(_mk(spark, [(2, "b"), (3, "c")]))
    assert spark.sql("SELECT COUNT(*) n FROM vt_v1").first().n == 1
    assert spark.sql("SELECT COUNT(*) n FROM vt_head").first().n == 1
    tbl.create_view(spark, "vt_head")  # re-bind to new head
    assert spark.sql("SELECT COUNT(*) n FROM vt_head").first().n == 2


def test_vacuum_spares_inflight_commit_dirs(spark, tbl):
    """A data directory with NO manifest yet (an in-flight commit that
    wrote data but hasn't published) must survive vacuum — deleting it
    would corrupt the commit the moment its manifest lands."""
    tbl.commit(_mk(spark, [(1, "a")]))
    tbl.commit(_mk(spark, [(2, "b")]))
    tbl.commit(_mk(spark, [(3, "c")]))
    # simulate an in-flight writer: data written, manifest not yet
    inflight = os.path.join(tbl.data_dir, "deadbeef0000")
    os.makedirs(inflight)
    open(os.path.join(inflight, "part-0.parquet"), "wb").close()
    removed = tbl.vacuum(retain_last=2)
    assert removed  # v1's expired dir went
    assert os.path.isdir(inflight)  # the unpublished dir did not


def test_manifest_records_file_stats(spark, tbl):
    """Every commit indexes per-file footer min/max/null stats (the
    Delta add-action 'stats'), and num_rows comes from the same
    footers."""
    tbl.commit(_mk(spark, [(1, "a"), (5, "b"), (3, None)]))
    man = tbl.manifest()
    assert man["num_rows"] == 3
    files = man["files"]
    assert files and all(f["path"].startswith("data/") for f in files)
    lo = min(f["stats"]["key"]["min"] for f in files if "key" in f["stats"])
    hi = max(f["stats"]["key"]["max"] for f in files if "key" in f["stats"])
    assert (lo, hi) == (1, 5)
    total_nulls = sum(
        f["stats"]["val"]["nulls"] for f in files if "val" in f["stats"]
    )
    assert total_nulls == 1


def test_read_where_skips_files(spark, tbl):
    """Appends with disjoint key ranges → a point predicate keeps only
    the matching append's files, and results equal the full filter."""
    a = spark.range(0, 100).select(
        F.col("id").cast("int").alias("key"),
        F.concat(F.lit("v"), F.col("id")).alias("val"),
    ).coalesce(1)
    b = spark.range(1000, 1100).select(
        F.col("id").cast("int").alias("key"),
        F.concat(F.lit("v"), F.col("id")).alias("val"),
    ).coalesce(1)
    tbl.commit(a)
    tbl.commit(b, mode="append")

    kept, total, n = tbl.prune_files([("key", "=", 1042)])
    assert n < total and n >= 1
    got = tbl.read_where(spark, [("key", "=", 1042)]).collect()
    assert [(r.key, r.val) for r in got] == [(1042, "v1042")]

    # range predicate across the gap keeps both sides' matches
    rows = tbl.read_where(spark, [("key", ">=", 90), ("key", "<", 1010)])
    assert rows.count() == 20

    # predicate with no possible match → zero files, empty DF, schema kept
    kept0, _, n0 = tbl.prune_files([("key", ">", 5000)])
    assert n0 == 0
    empty = tbl.read_where(spark, [("key", ">", 5000)])
    assert empty.count() == 0 and set(empty.columns) == {"key", "val"}


def test_read_where_string_stats(spark, tbl):
    tbl.commit(_mk(spark, [(1, "apple"), (2, "banana")]))
    tbl.commit(_mk(spark, [(3, "melon"), (4, "zucchini")]), mode="append")
    _, total, n = tbl.prune_files([("val", ">=", "x")])
    assert n < total
    got = {r.val for r in tbl.read_where(spark, [("val", ">=", "x")]).collect()}
    assert got == {"zucchini"}


def test_read_where_partition_pruning(spark, tbl):
    """Predicates on hive partition columns prune by PATH value; the
    recovered DataFrame still carries the partition column."""
    df = spark.range(0, 40).select(
        F.col("id").cast("int").alias("key"),
        (F.col("id") % 4).cast("int").alias("bucket"),
    )
    tbl.commit(df, partition_by=["bucket"])
    kept, total, n = tbl.prune_files([("bucket", "=", 2)])
    assert n < total
    assert all("bucket=2" in p for p in kept)
    got = tbl.read_where(spark, [("bucket", "=", 2)])
    assert got.count() == 10
    assert {r.bucket for r in got.collect()} == {2}


def test_read_where_legacy_manifest_keeps_dir(spark, tbl):
    """A manifest without a files index (pre-skipping commits) is read
    whole — skipping silently degrades to a full snapshot read."""
    import json as _json

    tbl.commit(_mk(spark, [(1, "a"), (2, "b")]))
    p = tbl._manifest_path(1)
    man = _json.load(open(p))
    del man["files"]
    os.unlink(p)
    with open(p, "w") as fh:
        _json.dump(man, fh)
    kept, total, n = tbl.prune_files([("key", "=", 99)])
    assert n == total == 1  # the whole dir survives as one unit
    assert tbl.read_where(spark, [("key", "=", 2)]).count() == 1


def test_read_where_is_conservative_on_unknown_columns(spark, tbl):
    tbl.commit(_mk(spark, [(1, "a")]))
    # a predicate naming a column with no stats must not prune... and
    # the residual filter then fails at analysis (column doesn't exist)
    kept, total, n = tbl.prune_files([("nope", "=", 1)])
    assert n == total


def test_upsert_epoch_commit_cdc_semantics(spark, tbl):
    """APPLY CHANGES INTO: seq ordering picks the winning change per
    key, tombstones delete, replays of a committed epoch are metadata
    no-ops, and marker columns never reach the table."""
    from datalake_backend_spark.streaming.pipeline import upsert_epoch_commit

    def ch(rows):
        return spark.createDataFrame(
            rows, "key int, val string, _seq int, _deleted boolean"
        )

    # epoch 0: plain inserts
    assert upsert_epoch_commit(
        tbl, ch([(1, "a", 1, False), (2, "b", 1, False)]),
        0, ["key"], "_seq", "_deleted",
    )
    assert set(tbl.read(spark).columns) == {"key", "val"}

    # epoch 1: key 1 updated then deleted (higher seq wins → gone);
    # key 2 updated twice (seq 3 wins); key 5 inserted+deleted in one
    # batch (net: never appears)
    batch = ch(
        [
            (1, "a2", 2, False),
            (1, None, 3, True),
            (2, "b2", 2, False),
            (2, "b3", 3, False),
            (5, "e", 2, False),
            (5, None, 4, True),
        ]
    )
    assert upsert_epoch_commit(tbl, batch, 1, ["key"], "_seq", "_deleted")
    got = {(r.key, r.val) for r in tbl.read(spark).collect()}
    assert got == {(2, "b3")}

    # replaying epoch 1 changes nothing — not even a new version
    head = tbl.latest_version()
    assert not upsert_epoch_commit(tbl, batch, 1, ["key"], "_seq", "_deleted")
    assert tbl.latest_version() == head
    assert {(r.key, r.val) for r in tbl.read(spark).collect()} == {(2, "b3")}


def test_expected_head_guard_raises_on_moved_head(spark, tbl):
    tbl.commit(_mk(spark, [(1, "a")]))
    head = tbl.latest_version()
    tbl.commit(_mk(spark, [(2, "b")]), mode="append")  # someone else lands
    with pytest.raises(CommitConflict):
        tbl.commit(_mk(spark, [(9, "x")]), expected_head=head)


def test_concurrent_merges_lose_no_updates(spark, tbl):
    """Two writers merging DIFFERENT keys concurrently: whoever loses
    the head race must re-derive from the winner's snapshot, so the
    final table contains BOTH updates (the pre-guard code silently
    erased the winner's)."""
    import threading

    tbl.commit(_mk(spark, [(1, "a"), (2, "b"), (3, "c")]))
    errs = []

    def do_merge(key, val):
        try:
            tbl.merge(spark, _mk(spark, [(key, val)]), ["key"])
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    ts = [
        threading.Thread(target=do_merge, args=(1, "A")),
        threading.Thread(target=do_merge, args=(4, "D")),
    ]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs, errs
    got = {(r.key, r.val) for r in tbl.read(spark).collect()}
    assert got == {(1, "A"), (2, "b"), (3, "c"), (4, "D")}
    # two merge versions actually landed (no silent clobber-and-skip)
    assert [m["op"] for m in tbl.history()] == ["overwrite", "merge", "merge"]


def test_zorder_compaction_improves_data_skipping(spark, tbl):
    """OPTIMIZE ... ZORDER BY and footer-stats skipping compose: after
    a Z-order rewrite, a point-range predicate on either clustered
    dimension prunes strictly more files than the scattered layout —
    the pair is the lakehouse lookup path."""
    df = spark.range(0, 4096).select(
        (F.col("id") % 64).cast("int").alias("x"),
        (F.col("id") / 64).cast("int").alias("y"),
        F.col("id").alias("payload"),
    ).repartition(16)  # scattered: every file spans most of x/y space
    tbl.commit(df)
    preds = [("x", ">=", 8), ("x", "<", 16)]
    _, total0, kept0 = tbl.prune_files(preds)
    tbl.compact(spark, target_bytes=8 << 10, zorder_by=("x", "y"))
    _, total1, kept1 = tbl.prune_files(preds)
    assert total1 > 1
    assert kept1 / total1 < kept0 / total0, (kept0, total0, kept1, total1)
    # and the pruned read still returns exactly the band
    assert tbl.read_where(spark, preds).count() == 4096 // 8


def test_vacuum_orphan_grace(spark, tbl):
    """Orphan dirs (crashed/conflicted commits) survive default vacuum,
    survive inside the grace window, and are reclaimed past it —
    referenced dirs are never touched either way."""
    import shutil as _sh
    import time as _t

    tbl.commit(_mk(spark, [(1, "a")]))
    live_dir = tbl.manifest()["dirs"][0]
    # fabricate an orphan: data written, manifest never published
    orphan_abs = os.path.join(tbl.path, "data", "deadbeef0000")
    _mk(spark, [(9, "z")]).write.parquet(orphan_abs)

    assert tbl.vacuum(retain_last=1) == []  # default: orphans untouched
    assert os.path.isdir(orphan_abs)
    assert tbl.vacuum(retain_last=1, orphan_grace_seconds=3600) == []
    assert os.path.isdir(orphan_abs)

    # age the orphan's files past the grace window
    for root, _d, files in os.walk(orphan_abs):
        for f in files:
            os.utime(os.path.join(root, f), (_t.time() - 7200,) * 2)
    removed = tbl.vacuum(retain_last=1, orphan_grace_seconds=3600)
    assert removed == ["data/deadbeef0000"]
    assert not os.path.isdir(orphan_abs)
    assert os.path.isdir(os.path.join(tbl.path, live_dir))
    assert {r.key for r in tbl.read(spark).collect()} == {1}
    _sh.rmtree(tbl.path, ignore_errors=True)


def test_timestamp_as_of_read(spark, tbl):
    import json as _json

    tbl.commit(_mk(spark, [(1, "a")]))
    tbl.commit(_mk(spark, [(2, "b")]))
    # pin distinct commit timestamps deterministically
    for v, ts in [(1, 1000.0), (2, 2000.0)]:
        p = tbl._manifest_path(v)
        man = _json.load(open(p))
        man["ts"] = ts
        os.unlink(p)
        with open(p, "w") as fh:
            _json.dump(man, fh)
    assert tbl.version_as_of(1500.0) == 1
    assert {r.key for r in tbl.read(spark, as_of_ts=1500.0).collect()} == {1}
    assert {r.key for r in tbl.read(spark, as_of_ts=2500.0).collect()} == {2}
    with pytest.raises(FileNotFoundError):
        tbl.version_as_of(500.0)
    with pytest.raises(ValueError):
        tbl.read(spark, version=1, as_of_ts=1500.0)


def test_maybe_compact_policy(spark, tbl):
    for i in range(4):
        rows = [(i * 3 + j, f"v{i}_{j}") for j in range(3)]
        tbl.commit(
            _mk(spark, rows).repartition(3),
            mode="append" if i else "overwrite",
        )
    n0 = tbl.file_count()
    assert n0 > 4
    assert tbl.maybe_compact(spark, max_files=100) is None  # under threshold
    v = tbl.maybe_compact(spark, max_files=4)
    assert v == tbl.latest_version()
    assert tbl.file_count() < n0
    assert {r.key for r in tbl.read(spark).collect()} == set(range(12))


def test_shallow_clone_of_partitioned_table(spark, tbl, tmp_path):
    """Regression: clone_to must remap partition_specs KEYS alongside
    the relpath'd dirs — a spec-evolved source otherwise loses its
    partition columns on every clone read (specs.get(new_dir) misses),
    and read_where on a partition column raises AnalysisException."""
    from pyspark.sql import functions as F

    v0 = spark.range(0, 40).select(
        F.col("id").cast("int").alias("key"),
        (F.col("id") % 4).cast("int").alias("day"),
    )
    tbl.commit(v0)  # spec []
    tbl.commit(
        spark.createDataFrame([(500, 5), (501, 6)], "key int, day int"),
        mode="append",
        partition_by=["day"],  # evolved spec → per-dir partition_specs
    )
    clone = tbl.clone_to(str(tmp_path / "pclone"))
    man = clone.manifest()
    # every dir key in the clone's specs refers to a dir the clone has
    assert set(man["partition_specs"]) == set(man["dirs"])
    full = clone.read(spark)
    assert full.count() == 42
    assert full.where(F.col("day") == 5).count() == 1  # recovered col
    hit = clone.read_where(spark, [("day", "=", 5)])
    assert [r.key for r in hit.collect()] == [500]
    # empty-result branch keeps the partition column in the schema too
    assert "day" in clone.read_where(spark, [("day", "=", 99)]).columns


def test_clone_tolerates_manifest_missing_spec_entry(spark, tbl, tmp_path):
    """An externally produced (or older) manifest whose explicit
    partition_specs dict lacks a dir entry READS fine (every read path
    uses specs.get) — clone_to must be equally tolerant instead of
    raising KeyError on the remap."""
    import json

    tbl.commit(_mk(spark, [(1, "a"), (2, "b")]))
    man_path = tbl._manifest_path(1)
    with open(man_path) as fh:
        man = json.load(fh)
    # truthy explicit dict that lacks the table's actual dir entry
    # (an empty dict would fall back to partition_by in _dir_specs)
    man["partition_specs"] = {"not_a_real_dir": []}
    with open(man_path, "w") as fh:
        json.dump(man, fh)
    assert tbl.read(spark).count() == 2  # read path tolerates it
    clone = tbl.clone_to(str(tmp_path / "clone_nospec"))
    assert {r.key for r in clone.read(spark).collect()} == {1, 2}


def test_shallow_clone_independent_evolution(spark, tbl, tmp_path):
    tbl.commit(_mk(spark, [(1, "a"), (2, "b")]))
    clone = tbl.clone_to(str(tmp_path / "clone"))
    assert {r.key for r in clone.read(spark).collect()} == {1, 2}
    # no data copied: the clone has no data dir of its own yet
    assert not os.path.isdir(clone.data_dir) or not os.listdir(clone.data_dir)

    # clone evolves independently; source unaffected
    clone.merge(spark, _mk(spark, [(3, "c")]), ["key"])
    assert {r.key for r in clone.read(spark).collect()} == {1, 2, 3}
    assert {r.key for r in tbl.read(spark).collect()} == {1, 2}

    # clone's vacuum never reaches into the source table
    removed = clone.vacuum(retain_last=1)
    assert all(not r.startswith("..") for r in removed)
    assert {r.key for r in tbl.read(spark).collect()} == {1, 2}
    # stats index survived the clone with remapped paths
    v1_files = clone.manifest(1).get("files")
    assert v1_files and all(f["path"].startswith("..") for f in v1_files)
    assert any("key" in f["stats"] for f in v1_files)
    with pytest.raises(ValueError):
        tbl.clone_to(str(tmp_path / "clone"))  # non-empty target


def test_streaming_sink_auto_compacts(spark, tmp_path):
    """With compact_max_files armed, accumulated per-epoch dirs fold
    into a compact version mid-stream; rows and epoch dedup survive."""
    import glob as _glob

    from datalake_backend_spark.streaming.pipeline import start_versioned_sink

    src = str(tmp_path / "src")
    for i in range(4):
        spark.createDataFrame(
            [(i * 10 + j, f"v{i}") for j in range(5)], "key int, val string"
        ).repartition(2).write.parquet(f"{src}/b{i}")
        for f in _glob.glob(f"{src}/b{i}/part-*.parquet"):
            os.utime(f, (1_000_000_000 + i, 1_000_000_000 + i))
    stream = (
        spark.readStream.schema("key int, val string")
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/b*")
    )
    tpath = str(tmp_path / "tbl")
    q = start_versioned_sink(
        stream, tpath, str(tmp_path / "ck"), compact_max_files=3
    )
    q.awaitTermination()
    tbl = VersionedTable(tpath)
    ops = [m["op"] for m in tbl.history()]
    assert "compact" in ops and ops.count("append") == 8  # 2 files/epoch
    assert tbl.read(spark).count() == 20
    assert tbl.file_count() <= 2 + 3  # compacted + at most trailing epochs


def test_compact_zorder_three_dims(spark, tbl):
    """n-column ZORDER (round-6 ask): after compact(zorder_by=3 cols)
    every file covers a compact (x, y, z) BOX — mean per-file bounding
    volume shrinks by >2.5x vs the scattered layout, so min/max
    pruning works for predicates on any of the three dimensions."""
    import glob

    n = 16  # 16^3 = 4096 rows on a full 3-d grid
    df = (
        spark.range(0, n * n * n)
        .select(
            (F.col("id") % n).cast("int").alias("x"),
            ((F.col("id") / n).cast("int") % n).alias("y"),
            (F.col("id") / (n * n)).cast("int").alias("z"),
        )
        .repartition(8)
    )
    tbl.commit(df)

    def mean_file_volume(version):
        vols = []
        for d in tbl.manifest(version)["dirs"]:
            for f in glob.glob(f"{tbl.path}/{d}/part-*.parquet"):
                a = (
                    spark.read.parquet(f)
                    .agg(
                        F.min("x"), F.max("x"),
                        F.min("y"), F.max("y"),
                        F.min("z"), F.max("z"),
                    )
                    .first()
                )
                vols.append(
                    (a[1] - a[0] + 1) * (a[3] - a[2] + 1) * (a[5] - a[4] + 1)
                )
        return sum(vols) / len(vols), len(vols)

    v0, _ = mean_file_volume(1)
    v = tbl.compact(spark, target_bytes=2 << 10, zorder_by=("x", "y", "z"))
    assert tbl.read(spark, v).count() == n * n * n
    assert tbl.read(spark, v).exceptAll(tbl.read(spark, 1)).count() == 0
    v1, nf1 = mean_file_volume(v)
    assert nf1 > 1
    assert v0 > 0.9 * n * n * n  # scatter baseline unclustered
    assert v1 < v0 / 2.5, (v0, v1, nf1)


def test_zorder_key_n_dim_bit_placement(spark):
    """Generic n-d Morton key: bit j of column i lands at j*n + i, and
    the 2-d fast path agrees with the generic stride form."""
    from datalake_backend_spark.core.geometry import zorder_key

    df = spark.createDataFrame(
        [(5, 3, 6), (0, 0, 0), (7, 7, 7)], "x int, y int, z int"
    )
    rows = df.select(
        "x", "y", "z",
        zorder_key(F.col("x"), F.col("y"), F.col("z"), bits=3),
    ).collect()
    for r in rows:
        expect = 0
        for j in range(3):
            expect |= ((r.x >> j) & 1) << (j * 3)
            expect |= ((r.y >> j) & 1) << (j * 3 + 1)
            expect |= ((r.z >> j) & 1) << (j * 3 + 2)
        assert r.zkey == expect, (r.x, r.y, r.z, r.zkey, expect)
    # 2-d fast path == generic placement law with n=2
    two = df.select(
        "x", "y", zorder_key(F.col("x"), F.col("y"), bits=3)
    ).collect()
    for r in two:
        expect = 0
        for j in range(3):
            expect |= ((r.x >> j) & 1) << (j * 2)
            expect |= ((r.y >> j) & 1) << (j * 2 + 1)
        assert r.zkey == expect
    # guardrails
    import pytest as _pytest

    with _pytest.raises(ValueError):
        zorder_key(F.col("x"), bits=8)
    with _pytest.raises(ValueError):
        zorder_key(F.col("x"), F.col("y"), F.col("z"), bits=32)


def test_upsert_epoch_commit_survives_concurrent_writer(spark, tmp_path):
    """Round-6 ask: a concurrent writer landing BETWEEN the sink's
    snapshot read and its commit must not be erased (the lost-update
    hazard ADVICE r5 flagged). Deterministic interleaving: the first
    commit attempt fires a concurrent batch MERGE right before
    publishing, so the sink's expected_head guard trips and the whole
    derive re-runs from the new head. Both writers' effects must be
    present and the history linearizable."""
    from datalake_backend_spark.sources.versioned import VersionedTable
    from datalake_backend_spark.streaming.pipeline import upsert_epoch_commit

    class Interferer(VersionedTable):
        def __init__(self, path, interfere):
            super().__init__(path)
            self._interfere = interfere
            self.conflicts = 0

        def commit(self, df, **kw):
            if self._interfere is not None:
                fire, self._interfere = self._interfere, None
                fire()
                self.conflicts += 1
            return super().commit(df, **kw)

    path = str(tmp_path / "contended")
    plain = VersionedTable(path)
    plain.commit(
        spark.createDataFrame([(1, "base1"), (2, "base2")], "key int, val string")
    )

    def concurrent_merge():
        plain.merge(
            spark,
            spark.createDataFrame([(7, "other-writer")], "key int, val string"),
            ["key"],
        )

    tbl = Interferer(path, concurrent_merge)
    batch = spark.createDataFrame(
        [(2, "updated", 1, False), (3, "new", 1, False)],
        "key int, val string, _seq int, _deleted boolean",
    )
    assert upsert_epoch_commit(tbl, batch, 0, ["key"], "_seq", "_deleted")
    assert tbl.conflicts == 1  # the interleaving really happened

    got = {(r.key, r.val) for r in plain.read(spark).collect()}
    # BOTH writers' effects survive: the concurrent merge's key 7 and
    # the epoch's upserts
    assert got == {
        (1, "base1"), (2, "updated"), (3, "new"), (7, "other-writer"),
    }
    # linearizable history: base, concurrent merge, epoch merge —
    # each a consistent snapshot; the epoch tag appears exactly once
    hist = plain.history()
    assert [m["version"] for m in hist] == [1, 2, 3]
    epochs = [m.get("metadata", {}).get("epoch") for m in hist]
    assert epochs.count(0) == 1
    # replay of epoch 0 after the contention is still a no-op
    assert not upsert_epoch_commit(
        VersionedTable(path), batch, 0, ["key"], "_seq", "_deleted"
    )
    assert plain.latest_version() == 3


def test_concurrent_upsert_sinks_threaded(spark, tmp_path):
    """Two writers × several epochs racing on ONE table (true thread
    concurrency, not injected): every epoch of both writers must land
    exactly once, no lost updates, every version readable."""
    import threading

    from datalake_backend_spark.sources.versioned import VersionedTable
    from datalake_backend_spark.streaming.pipeline import upsert_epoch_commit

    path = str(tmp_path / "race")
    VersionedTable(path).commit(
        spark.createDataFrame([(0, "seed")], "key int, val string")
    )
    errors = []

    def writer(wid: int):
        try:
            tbl = VersionedTable(path)
            for e in range(3):
                batch = spark.createDataFrame(
                    [(100 * wid + e, f"w{wid}e{e}", 1, False)],
                    "key int, val string, _seq int, _deleted boolean",
                )
                # epoch ids disjoint per writer: (wid, e) -> unique int
                upsert_epoch_commit(
                    tbl, batch, 1000 * wid + e, ["key"], "_seq", "_deleted"
                )
        except Exception as exc:  # pragma: no cover - failure detail
            errors.append((wid, exc))

    threads = [threading.Thread(target=writer, args=(w,)) for w in (1, 2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors

    tbl = VersionedTable(path)
    got = {(r.key, r.val) for r in tbl.read(spark).collect()}
    expect = {(0, "seed")} | {
        (100 * w + e, f"w{w}e{e}") for w in (1, 2) for e in range(3)
    }
    assert got == expect  # no lost updates
    hist = tbl.history()
    epochs = [
        m.get("metadata", {}).get("epoch")
        for m in hist
        if m.get("metadata", {}).get("epoch") is not None
    ]
    assert sorted(epochs) == [1000, 1001, 1002, 2000, 2001, 2002]
    # every intermediate version is a readable consistent snapshot
    for m in hist:
        assert tbl.read(spark, m["version"]).count() >= 1


def test_committed_epochs_checkpoint(spark, tmp_path):
    """committed_epochs folds only manifests NEWER than the sidecar
    checkpoint (the per-micro-batch full-log walk is what would turn a
    long stream quadratic in its own commit count), rewrites the
    checkpoint every EPOCH_CKPT_INTERVAL commits, and never loses or
    invents an epoch."""
    import json
    import os

    from datalake_backend_spark.sources.versioned import VersionedTable

    path = str(tmp_path / "ep")
    tbl = VersionedTable(path)
    tbl.EPOCH_CKPT_INTERVAL = 4
    df = spark.createDataFrame([(1, "a")], "key int, val string")
    for e in range(6):
        tbl.commit(df, mode="append", metadata={"epoch": e})
    tbl.commit(df, mode="append")  # epoch-less commit must not break
    assert tbl.committed_epochs() == set(range(6))
    ck = os.path.join(tbl.log_dir, "epochs.ckpt")
    assert os.path.exists(ck)  # interval crossed -> checkpoint written
    d = json.load(open(ck))
    assert set(d["epochs"]) == set(range(6))
    # new epochs after the checkpoint are still seen (fold of newer
    # manifests), and a corrupt checkpoint degrades to the full walk
    tbl.commit(df, mode="append", metadata={"epoch": 99})
    assert tbl.committed_epochs() == set(range(6)) | {99}
    open(ck, "w").write("not json{")
    assert VersionedTable(path).committed_epochs() == set(range(6)) | {99}
    # the checkpoint is a pure cache: deleting it changes nothing
    os.unlink(ck) if os.path.exists(ck) else None
    assert VersionedTable(path).committed_epochs() == set(range(6)) | {99}


def test_restore_is_metadata_only_commit(spark, tmp_path):
    """RESTORE TO VERSION: a new commit re-points at the target's data
    dirs (zero bytes copied), history is preserved, CDF/time-travel
    still work across it, and VACUUM after a restore protects the
    restored dirs because the head references them."""
    import glob

    from datalake_backend_spark.sources.versioned import VersionedTable

    tbl = VersionedTable(str(tmp_path / "rst"))
    mk = lambda rows: spark.createDataFrame(rows, "key int, val string")
    tbl.commit(mk([(1, "a"), (2, "b")]))       # v1
    tbl.commit(mk([(1, "a2"), (3, "c")]))      # v2 (overwrite)
    tbl.commit(mk([(9, "z")]), mode="append")  # v3
    n_files_before = len(glob.glob(f"{tbl.path}/data/*/*.parquet"))
    v = tbl.restore(1)
    assert v == 4
    # snapshot == v1 exactly; no new data files were written
    assert {(r.key, r.val) for r in tbl.read(spark).collect()} == {
        (1, "a"), (2, "b"),
    }
    assert len(glob.glob(f"{tbl.path}/data/*/*.parquet")) == n_files_before
    assert tbl.manifest(4)["op"] == "restore"
    assert tbl.manifest(4)["metadata"]["restored_from"] == 1
    # history preserved: v2/v3 still time-travelable
    assert {(r.key, r.val) for r in tbl.read(spark, 3).collect()} == {
        (1, "a2"), (3, "c"), (9, "z"),
    }
    # vacuum keeps the restored dirs (head references them)
    tbl.vacuum(retain_last=1)
    assert {(r.key, r.val) for r in tbl.read(spark).collect()} == {
        (1, "a"), (2, "b"),
    }
    # restoring to a vacuumed-away version refuses loudly
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        tbl.restore(2)


def test_fsck_detects_missing_and_drifted(spark, tmp_path):
    import glob
    import os

    from datalake_backend_spark.sources.versioned import VersionedTable

    tbl = VersionedTable(str(tmp_path / "fsck"))
    df = spark.range(0, 100).selectExpr("id AS key", "CAST(id AS STRING) AS val")
    tbl.commit(df.repartition(4))
    rep = tbl.fsck()
    assert rep["ok"], rep
    # delete one data file behind the manifest's back
    victim = glob.glob(f"{tbl.path}/data/*/part-*.parquet")[0]
    os.unlink(victim)
    rep = tbl.fsck()
    assert not rep["ok"] and len(rep["missing_files"]) == 1


def test_change_consumer_incremental_exactly_once(spark, tmp_path):
    """ChangeConsumer: poll -> apply -> ack advances the cursor; a
    crash before ack replays the SAME span (idempotent apply => exactly
    once); a consumer that falls behind catches up in ONE diff of the
    endpoint snapshots; caught-up polls return None."""
    from datalake_backend_spark.sources.versioned import (
        ChangeConsumer,
        VersionedTable,
    )

    tbl = VersionedTable(str(tmp_path / "cdc"))
    mk = lambda rows: spark.createDataFrame(rows, "key int, val string")
    tbl.commit(mk([(1, "a"), (2, "b")]))  # v1
    con = ChangeConsumer(tbl, str(tmp_path / "cursor.json"))

    # first poll: whole snapshot as inserts
    df, span = con.poll(spark, ["key"], ["val"])
    got = {(r.key, r.op) for r in df.collect()}
    assert got == {(1, "insert"), (2, "insert")} and span == (0, 1)
    # crash before ack: the same span replays
    df2, span2 = con.poll(spark, ["key"], ["val"])
    assert span2 == span and df2.count() == 2
    con.ack(span)
    assert con.poll(spark, ["key"], ["val"]) is None  # caught up

    # fall behind two versions: ONE poll covers both
    tbl.merge(spark, mk([(2, "b2"), (3, "c")]), ["key"])  # v2
    tbl.delete_where(spark, F.col("key") == 1)  # v3
    df3, span3 = con.poll(spark, ["key"], ["val"])
    got3 = {(r.key, r.op) for r in df3.collect()}
    assert span3 == (1, 3)
    assert got3 == {(1, "delete"), (2, "update"), (3, "insert")}
    con.ack(span3)
    assert con.position() == 3
    assert con.poll(spark, ["key"], ["val"]) is None


# ------------------------------------------------ deletion vectors


def _dv_tbl(spark, tmp_path, n=200):
    tbl = VersionedTable(str(tmp_path / "dv"))
    df = spark.range(n).select(
        F.col("id").cast("long"), (F.col("id") % 7).cast("long").alias("v")
    )
    tbl.commit(df.repartition(3))
    return tbl


def test_dv_delete_is_metadata_only(spark, tmp_path):
    """mode='dv' publishes a manifest-only commit: same data dirs, same
    file list, zero new data bytes — and readers see the complement."""
    tbl = _dv_tbl(spark, tmp_path)
    before = tbl.manifest(1)
    v = tbl.delete_where(spark, F.col("v") == 3, mode="dv")
    after = tbl.manifest(v)
    assert after["op"] == "delete-dv"
    assert after["dirs"] == before["dirs"]
    assert after["files"] == before["files"]
    assert after["num_rows"] == tbl.read(spark).count()
    assert tbl.read(spark).where(F.col("v") == 3).count() == 0
    # time travel still sees the deleted rows
    assert tbl.read(spark, version=1).count() == 200


def test_dv_deletes_merge_and_compose(spark, tmp_path):
    tbl = _dv_tbl(spark, tmp_path)
    tbl.delete_where(spark, F.col("v") == 3, mode="dv")
    tbl.delete_where(spark, F.col("id") < 20, mode="dv")
    got = {r.id for r in tbl.read(spark).collect()}
    exp = {i for i in range(200) if i % 7 != 3 and i >= 20}
    assert got == exp
    assert tbl.manifest()["num_rows"] == len(exp)
    # the vectors stayed structurally sound
    assert tbl.fsck()["ok"]


def test_dv_survives_append_and_dies_on_rewrite(spark, tmp_path):
    tbl = _dv_tbl(spark, tmp_path)
    tbl.delete_where(spark, F.col("v") == 3, mode="dv")
    new = spark.range(1000, 1010).select(
        F.col("id").cast("long"), F.lit(3).cast("long").alias("v")
    )
    tbl.commit(new, mode="append")
    # old v==3 rows stay deleted; appended v==3 rows are visible
    vis = tbl.read(spark).where(F.col("v") == 3)
    assert {r.id for r in vis.collect()} == set(range(1000, 1010))
    assert tbl.manifest()["dvs"]  # carried through the append
    # a full rewrite materializes the vectors away
    n = tbl.read(spark).count()
    tbl.compact(spark)
    assert tbl.manifest()["dvs"] == []
    assert tbl.read(spark).count() == n


def test_dv_noop_and_read_where(spark, tmp_path):
    tbl = _dv_tbl(spark, tmp_path)
    head = tbl.latest_version()
    assert tbl.delete_where(spark, F.col("v") == 99, mode="dv") == head
    tbl.delete_where(spark, F.col("id") < 10, mode="dv")
    rw = tbl.read_where(spark, [("v", "=", 0)])
    got = {r.id for r in rw.collect()}
    assert got == {i for i in range(10, 200) if i % 7 == 0}


def test_dv_plan_is_broadcast_hash_anti_join(spark, tmp_path):
    """The DV filter must plan as a BroadcastHashJoin keyed on the file
    basename (range check as join condition) — a nested-loop here
    would scan ranges per row."""
    tbl = _dv_tbl(spark, tmp_path)
    tbl.delete_where(spark, F.col("v") == 3, mode="dv")
    plan = tbl.read(spark)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dv_fragmentation_falls_back_to_rewrite(spark, tmp_path):
    """A delete whose vectors exceed the inline cap rewrites instead —
    the manifest never grows unboundedly."""
    tbl = _dv_tbl(spark, tmp_path)
    # every other row: 100 singleton ranges > cap of 10
    v = tbl.delete_where(
        spark, F.col("id") % 2 == 0, mode="dv", max_range_entries=10
    )
    assert tbl.manifest(v)["op"] == "delete"  # copy-on-write fallback
    assert tbl.manifest(v)["dvs"] == []
    assert tbl.read(spark).count() == 100


def test_dv_contiguous_delete_compresses_to_ranges(spark, tmp_path):
    """Range compression happens EXECUTOR-side: a contiguous 100-row
    delete lands as one [lo, hi] range per touched file in the
    manifest, never 100 singleton entries."""
    tbl = VersionedTable(str(tmp_path / "dv"))
    tbl.commit(
        spark.range(200)
        .select(F.col("id").cast("long"))
        .coalesce(2)
    )
    v = tbl.delete_where(
        spark, (F.col("id") >= 50) & (F.col("id") < 150), mode="dv"
    )
    man = tbl.manifest(v)
    assert man["op"] == "delete-dv"
    n_ranges = sum(len(e["ranges"]) for e in man["dvs"])
    assert 1 <= n_ranges <= 4  # one run per touched file
    assert {r.id for r in tbl.read(spark).collect()} == (
        set(range(50)) | set(range(150, 200))
    )


def test_dv_scattered_delete_never_materializes_rows(spark, tmp_path, monkeypatch):
    """A delete so fragmented that ranges ≈ rows (every other row of a
    200k table, default 100k cap) must fall back to copy-on-write
    WITHOUT the driver ever collecting per-row indexes: the cap is a
    take(budget+1) probe, so no driver collect sees more than
    max_range_entries + 1 rows."""
    # patch the CONCRETE class: pyspark.sql.DataFrame is the facade,
    # instances are classic.DataFrame whose own collect() would shadow
    # a patched parent attribute
    from pyspark.sql.classic.dataframe import DataFrame

    tbl = VersionedTable(str(tmp_path / "dv"))
    n = 200_002
    tbl.commit(
        spark.range(n).select(
            F.col("id").cast("long"),
            (F.col("id") % 2).cast("long").alias("v"),
        )
    )
    seen: list[int] = []
    orig = DataFrame.collect

    def spy(self):
        out = orig(self)
        seen.append(len(out))
        return out

    monkeypatch.setattr(DataFrame, "collect", spy)
    v = tbl.delete_where(spark, F.col("v") == 1, mode="dv")
    monkeypatch.setattr(DataFrame, "collect", orig)
    assert tbl.manifest(v)["op"] == "delete"  # copy-on-write fallback
    assert tbl.manifest(v)["dvs"] == []
    assert tbl.read(spark).count() == n // 2
    assert seen and max(seen) <= 100_000 + 1


def test_dv_delete_concurrent_with_append(spark, tmp_path):
    """DV positions are derived from a pinned head; a commit landing
    in between forces a re-derive, never a lost update."""
    tbl = _dv_tbl(spark, tmp_path)
    orig_publish = tbl._publish
    raced = {"done": False}

    def racing(build, op, *args, **kwargs):
        if op == "delete-dv" and not raced["done"]:
            raced["done"] = True
            extra = spark.range(500, 505).select(
                F.col("id").cast("long"), F.lit(0).cast("long").alias("v")
            )
            tbl.commit(extra, mode="append")  # moves the head
        return orig_publish(build, op, *args, **kwargs)

    tbl._publish = racing
    try:
        tbl.delete_where(spark, F.col("v") == 0, mode="dv")
    finally:
        tbl._publish = orig_publish
    assert raced["done"]
    assert [m["op"] for m in tbl.history()][-2:] == ["append", "delete-dv"]
    # BOTH effects present: append landed, and its v==0 rows were seen
    # by the re-derived delete
    assert tbl.read(spark).where(F.col("v") == 0).count() == 0
    assert tbl.read(spark).where(F.col("id") >= 500).count() == 0


def test_dv_partitioned_table(spark, tmp_path):
    tbl = VersionedTable(str(tmp_path / "dvp"))
    df = spark.range(120).select(
        F.col("id").cast("long"),
        (F.col("id") % 3).cast("string").alias("part"),
    )
    tbl.commit(df, partition_by=["part"])
    tbl.delete_where(spark, F.col("id") % 10 == 0, mode="dv")
    got = {r.id for r in tbl.read(spark).collect()}
    assert got == {i for i in range(120) if i % 10 != 0}
    # partition columns still recovered, pruning path still works
    rw = tbl.read_where(spark, [("part", "=", "1")])
    assert {r.id for r in rw.collect()} == {
        i for i in range(120) if i % 3 == 1 and i % 10 != 0
    }


def test_fsck_flags_corrupt_dv(spark, tmp_path):
    import json as _json

    tbl = _dv_tbl(spark, tmp_path)
    v = tbl.delete_where(spark, F.col("v") == 3, mode="dv")
    man = tbl.manifest(v)
    man["dvs"][0]["ranges"] = [[5, 2]]  # inverted
    with open(tbl._manifest_path(v) + ".tmp", "w") as fh:
        _json.dump(man, fh)
    os.replace(tbl._manifest_path(v) + ".tmp", tbl._manifest_path(v))
    rep = tbl.fsck(v)
    assert not rep["ok"] and rep["dv_errors"][0]["error"] == "inverted range"


# ------------------------------------------- commit CHECK constraints


def test_commit_check_constraints(spark, tmp_path):
    """Delta-style CHECK constraints on commit: violations reject the
    commit ATOMICALLY (no snapshot published, no orphan data dir) with
    zero extra jobs (observe() rides the write); clean commits record
    which rules were checked."""
    from datalake_backend_spark.operators.constraints import in_range, not_null
    from datalake_backend_spark.sources.versioned import ConstraintViolation

    tbl = VersionedTable(str(tmp_path / "chk"))
    rules = [not_null("val"), in_range("key", lo=0)]
    ok = _mk(spark, [(1, "a"), (2, "b")])
    v = tbl.commit(ok, constraints=rules)
    assert tbl.manifest(v)["metadata"]["constraints_checked"] == [
        "not_null(val)",
        "in_range(key,0,None)",
    ]
    bad = _mk(spark, [(3, "c"), (-1, "d")])
    with pytest.raises(ConstraintViolation, match="in_range"):
        tbl.commit(bad, mode="append", constraints=rules)
    assert tbl.latest_version() == v  # head unchanged
    # the rejected write left no data dir behind
    data = os.path.join(str(tmp_path / "chk"), "data")
    assert len(os.listdir(data)) == len(tbl.manifest(v)["dirs"])
    # NULLs pass value rules (the check_constraints convention) but
    # fail not_null
    nulls = _mk(spark, [(4, None)])
    with pytest.raises(ConstraintViolation, match="not_null"):
        tbl.commit(nulls, mode="append", constraints=rules)
    v2 = tbl.commit(
        _mk(spark, [(4, None)]), mode="append", constraints=[in_range("key", lo=0)]
    )
    assert tbl.read(spark).count() == 3
    # aggregate-shaped rules are refused with guidance
    from datalake_backend_spark.operators.constraints import unique

    with pytest.raises(ValueError, match="row-level"):
        tbl.commit(ok, constraints=[unique(["key"])])


def test_deep_clone_survives_source_removal(spark, tbl, tmp_path):
    """deep_clone_to: full physical copy — DV deletes carry over
    verbatim, the clone reads after the SOURCE TABLE IS DELETED (the
    exact hazard shallow clones document), evolves independently, and
    refuses a non-empty target."""
    import shutil

    tbl.commit(_mk(spark, [(1, "a"), (2, "b"), (3, "c")]))
    tbl.merge(spark, _mk(spark, [(4, "d")]), ["key"])
    tbl.delete_where(spark, "key = 2", mode="dv")
    clone = tbl.deep_clone_to(str(tmp_path / "deep"))
    assert {r.key for r in clone.read(spark).collect()} == {1, 3, 4}
    # DV entries carried verbatim (no parquet rewrite in the clone)
    assert clone.manifest(1).get("dvs")
    # independence: remove the whole source table, clone still reads
    shutil.rmtree(tbl.path)
    assert {r.key for r in clone.read(spark).collect()} == {1, 3, 4}
    clone.merge(spark, _mk(spark, [(5, "e")]), ["key"])
    assert {r.key for r in clone.read(spark).collect()} == {1, 3, 4, 5}
    with pytest.raises(ValueError):
        clone.deep_clone_to(str(tmp_path / "deep"))


def test_partition_spec_evolution_full_lifecycle(spark, tbl):
    """Iceberg-style spec evolution (round 7): start unpartitioned,
    evolve to day-partitioning on append — old data is NOT rewritten,
    each dir keeps its own spec, reads recover day from file data or
    dir names per branch, read_where prunes the partitioned dirs at
    the directory level, and a compact materializes the CURRENT spec
    across the whole table."""
    from pyspark.sql import functions as F

    v0 = spark.range(0, 100).select(
        F.col("id").cast("int").alias("key"),
        (F.col("id") % 4).cast("int").alias("day"),
    )
    tbl.commit(v0)  # spec []
    tbl.commit(
        spark.createDataFrame([(500, 5), (501, 6)], "key int, day int"),
        mode="append",
        partition_by=["day"],  # evolved spec
    )
    man = tbl.manifest()
    specs = man["partition_specs"]
    assert sorted(specs.values()) == [[], ["day"]]
    full = tbl.read(spark)
    assert full.count() == 102
    # day is queryable across both specs
    assert full.where(F.col("day") == 5).count() == 1
    assert full.where(F.col("day") == 2).count() == 25
    # selective read: the evolved dir prunes at the directory level
    kept, total, n_kept = tbl.prune_files([("day", "=", 5)])
    assert n_kept < total
    hit = tbl.read_where(spark, [("day", "=", 5)])
    assert [r.key for r in hit.collect()] == [500]
    # a full rewrite materializes the current (latest) spec everywhere
    tbl.compact(spark)
    man2 = tbl.manifest()
    assert list(man2["partition_specs"].values()) == [["day"]]
    assert tbl.read(spark).count() == 102


def test_versioned_random_walk_matches_model(spark, tbl):
    """Model-based sequencing test: a seeded 30-op random walk over
    {overwrite, append, merge, copy-delete, dv-delete, compact,
    restore} must keep read() identical to a plain python dict model
    at EVERY step, and every historical version must read back as the
    model snapshot taken when it was committed — the interleavings
    (e.g. dv-delete then merge then restore across a compact) that
    single-purpose tests never compose."""
    import random

    from pyspark.sql import functions as F

    rng = random.Random(20260815)
    model: dict[int, str] = {}
    snapshots: dict[int, dict[int, str]] = {}

    def record(version):
        snapshots[version] = dict(model)

    def check_head():
        got = {r.key: r.val for r in tbl.read(spark).collect()}
        assert got == model

    # op 1 must create the table
    model = {k: f"v{k}" for k in range(8)}
    record(tbl.commit(_mk(spark, sorted(model.items()))))
    for step in range(29):
        op = rng.choice(
            ["append", "merge", "del_copy", "del_dv", "compact", "restore"]
        )
        if op == "append":
            new = {
                k: f"a{step}" for k in rng.sample(range(100, 140), 3)
                if k not in model
            }
            if not new:
                continue
            model.update(new)
            record(
                tbl.commit(_mk(spark, sorted(new.items())), mode="append")
            )
        elif op == "merge":
            ups = {
                rng.randrange(0, 150): f"m{step}" for _ in range(4)
            }
            model.update(ups)
            record(tbl.merge(spark, _mk(spark, sorted(ups.items())), ["key"]))
        elif op in ("del_copy", "del_dv"):
            if not model:
                continue
            # delete a random existing key plus everything 2 below it
            cut = rng.choice(sorted(model))
            model = {k: v for k, v in model.items() if not (cut - 2 <= k <= cut)}
            record(
                tbl.delete_where(
                    spark,
                    (F.col("key") >= cut - 2) & (F.col("key") <= cut),
                    mode="dv" if op == "del_dv" else "copy",
                )
            )
        elif op == "compact":
            record(tbl.compact(spark))
        else:  # restore
            target = rng.choice(sorted(snapshots))
            model = dict(snapshots[target])
            record(tbl.restore(target))
        check_head()

    # every recorded version still reads back as its snapshot
    for v in sorted(snapshots):
        got = {r.key: r.val for r in tbl.read(spark, version=v).collect()}
        assert got == snapshots[v], f"version {v}"


def test_streaming_upsert_keeps_partition_scheme(spark, tbl):
    """A streaming MERGE rewrites the table under its existing
    partition scheme, exactly like a batch ``merge``."""
    from datalake_backend_spark.streaming.pipeline import upsert_epoch_commit

    df = spark.createDataFrame(
        [(1, "x"), (2, "y"), (3, "x")], "key int, part string"
    )
    tbl.commit(df, partition_by=["part"])
    tbl.merge(spark, spark.createDataFrame([(4, "y")], "key int, part string"), ["key"])
    assert tbl.manifest()["partition_by"] == ["part"]
    batch = spark.createDataFrame([(5, "z")], "key int, part string")
    assert upsert_epoch_commit(tbl, batch, 0, ["key"])
    man = tbl.manifest()
    assert man["partition_by"] == ["part"]
    assert list(man["partition_specs"].values()) == [["part"]]
    assert {(r.key, r.part) for r in tbl.read(spark).collect()} == {
        (1, "x"), (2, "y"), (3, "x"), (4, "y"), (5, "z")
    }


def _state_sink_triple(monkeypatch, name):
    """The (fold, merge, op) a public state sink hands the shared
    state-merge sink."""
    from datalake_backend_spark.streaming import pipeline

    got = {}

    def capture(df, table_path, checkpoint, fold, merge, op):
        got.update(fold=fold, merge=merge, op=op)

    monkeypatch.setattr(pipeline, "start_state_merge_sink", capture)
    args = {
        "start_incremental_rollup_sink": (["k"], ["v"]),
        "start_bitmap_reach_sink": (["k"], "v"),
        "start_kmv_reach_sink": (["k"], "v"),
    }[name]
    getattr(pipeline, name)(None, "unused", "unused", *args)
    return got["fold"], got["merge"], got["op"]


_STATE_SINKS = [
    "start_incremental_rollup_sink",
    "start_bitmap_reach_sink",
    "start_kmv_reach_sink",
]


def _state_rows(df):
    return sorted(map(str, df.collect()))


@pytest.mark.parametrize("sink", _STATE_SINKS)
def test_state_sink_replayed_epoch_is_noop(spark, tbl, monkeypatch, sink):
    from datalake_backend_spark.streaming.pipeline import state_merge_commit

    fold, merge, op = _state_sink_triple(monkeypatch, sink)
    b0 = spark.createDataFrame([("a", 1), ("a", 3), ("b", 10)], "k string, v long")
    b1 = spark.createDataFrame([("a", 5), ("c", 7)], "k string, v long")
    assert state_merge_commit(tbl, b0, 0, fold, merge, op)
    assert state_merge_commit(tbl, b1, 1, fold, merge, op)
    before = _state_rows(tbl.read(spark))
    assert not state_merge_commit(tbl, b1, 1, fold, merge, op)
    assert tbl.latest_version() == 2
    assert _state_rows(tbl.read(spark)) == before
    assert [m["op"] for m in tbl.history()] == [op, op]


@pytest.mark.parametrize("sink", _STATE_SINKS)
def test_state_sink_race_rederives_without_lost_update(spark, tbl, monkeypatch, sink):
    """A commit that lands between the derive and the publish trips the
    head guard; the batch re-derives from the new head, so the final
    state holds both batches."""
    from datalake_backend_spark.streaming.pipeline import state_merge_commit

    fold, merge, op = _state_sink_triple(monkeypatch, sink)
    b0 = spark.createDataFrame([("a", 1), ("b", 10)], "k string, v long")
    b1 = spark.createDataFrame([("a", 5), ("c", 7)], "k string, v long")
    b2 = spark.createDataFrame([("a", 2), ("b", 11)], "k string, v long")
    state_merge_commit(tbl, b0, 0, fold, merge, op)
    orig_publish = tbl._publish
    attempts = []

    def racing(build, op_, *args, **kwargs):
        attempts.append(op_)
        if len(attempts) == 1:
            # a concurrent writer commits epoch 2 first
            state_merge_commit(VersionedTable(tbl.path), b2, 2, fold, merge, op)
        return orig_publish(build, op_, *args, **kwargs)

    monkeypatch.setattr(tbl, "_publish", racing)
    assert state_merge_commit(tbl, b1, 1, fold, merge, op)
    assert len(attempts) == 2  # lost once, re-derived once
    epochs = [m["metadata"]["epoch"] for m in tbl.history()]
    assert epochs == [0, 2, 1]
    want = merge(merge(fold(b0), fold(b2)), fold(b1))
    assert _state_rows(tbl.read(spark)) == _state_rows(want)
