"""Stateful streaming slot tracker: state carries across micro-batches."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from datalake_backend_spark.streaming.stateful import track_slot_state

SLOT_SCHEMA = T.StructType(
    [
        T.StructField("slot_id", T.StringType()),
        T.StructField("timestamp_sec", T.DoubleType()),
        T.StructField("occupied", T.BooleanType()),
    ]
)


def _write_batch(spark, path, rows):
    spark.createDataFrame(rows, SLOT_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(path)


def _drain(spark, src, ck, out):
    """One availableNow pass through the stateful operator, updates
    appended to ``out`` with the epoch id (foreachBatch supports
    checkpoint recovery; memory sink does not)."""
    from pyspark.sql import functions as F

    stream = spark.readStream.schema(SLOT_SCHEMA).parquet(src)

    def sink(batch, epoch):
        batch.withColumn("epoch", F.lit(epoch)).write.mode("append").parquet(out)

    q = (
        track_slot_state(stream)
        .writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)


def test_state_accumulates_across_batches(spark, tmp_path):
    src = str(tmp_path / "slots")
    ck = str(tmp_path / "ck")
    out = str(tmp_path / "out")

    # batch 1: slot A free→occupied
    _write_batch(spark, src, [("A", 0.0, False), ("A", 10.0, True)])
    _drain(spark, src, ck, out)
    r1 = (
        spark.read.parquet(out)
        .orderBy("epoch")
        .collect()[-1]
    )
    assert r1.became_occupied == 1 and r1.occupied
    assert r1.free_seconds == 10.0 and r1.occupied_seconds == 0.0

    # batch 2 (new files, SAME checkpoint): occupied→free at t=25,
    # plus one late row (t=5) that must be counted, not applied
    _write_batch(spark, src, [("A", 25.0, False), ("A", 5.0, True)])
    _drain(spark, src, ck, out)
    rows = spark.read.parquet(out).orderBy("epoch").collect()
    assert len(rows) >= 2, "second batch emitted no update"
    r2 = rows[-1]
    # state carried over: 15 occupied seconds (10→25), transition out
    assert r2.became_free == 1
    assert r2.occupied_seconds == 15.0
    assert r2.free_seconds == 10.0
    assert not r2.occupied
    assert r2.late_rows == 1


def test_idempotent_epoch_write_replay(spark, tmp_path):
    """A replayed micro-batch (same epoch_id) overwrites its own
    partition instead of double-appending; other epochs are untouched."""
    from datalake_backend_spark.streaming.pipeline import idempotent_epoch_write

    out = str(tmp_path / "sink")
    b1 = spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
    b2 = spark.createDataFrame([(3, "c")], "id int, v string")
    idempotent_epoch_write(b1, out, epoch_id=0)
    idempotent_epoch_write(b2, out, epoch_id=1)
    assert spark.read.parquet(out).count() == 3
    # crash-replay of epoch 1: same data rewritten, no duplicates
    idempotent_epoch_write(b2, out, epoch_id=1)
    got = spark.read.parquet(out)
    assert got.count() == 3
    assert {r.id for r in got.collect()} == {1, 2, 3}


def test_interval_join_hot_key_state_expiry(spark, tmp_path):
    """Skewed stream-stream join: one hot user carries 50% of events on
    both sides. The watermarked interval join must (a) still produce
    exactly the batch-join pairs and (b) EXPIRE state as the watermark
    advances — state stays bounded even when a single key dominates,
    which is the q84 scale guarantee at 100 TB."""
    import datetime as dt
    import glob
    import json
    import os

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from datalake_backend_spark.streaming.pipeline import (
        stream_stream_interval_join,
    )

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("event_id", T.LongType()),
        ]
    )

    def island(hour: int, base_eid: int) -> list[tuple]:
        # 40 clicks per island; every other row is hot user 0
        return [
            (
                0 if i % 2 == 0 else 1 + i % 5,
                dt.datetime(2024, 1, 1, hour, i % 30),
                base_eid + i,
            )
            for i in range(40)
        ]

    cdir, bdir = str(tmp_path / "clicks"), str(tmp_path / "buys")
    for n, hour in enumerate([0, 6, 12]):  # 6h apart ⇒ watermark jumps
        clicks = island(hour, 1000 * (n + 1))
        buys = [
            (u, t + dt.timedelta(minutes=1), e + 500) for u, t, e in clicks
        ]
        spark.createDataFrame(clicks, schema).coalesce(1).write.parquet(
            f"{cdir}/b{n}"
        )
        spark.createDataFrame(buys, schema).coalesce(1).write.parquet(
            f"{bdir}/b{n}"
        )
        for d in (cdir, bdir):
            for f in glob.glob(f"{d}/b{n}/part-*.parquet"):
                os.utime(f, (1_000_000_000 + n * 100,) * 2)

    cs = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{cdir}/b*")
    )
    bs = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{bdir}/b*")
    )
    joined = stream_stream_interval_join(cs, bs, "user_id", "ts", "ts")
    q = (
        joined.writeStream.format("memory")
        .queryName("ssj_skew")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = {
        (r.l_event_id, r.r_event_id) for r in spark.table("ssj_skew").collect()
    }
    # ground truth: the same interval join as a batch query
    cdf, bdf = spark.read.parquet(f"{cdir}/b*"), spark.read.parquet(f"{bdir}/b*")
    exp = {
        (r.l, r.r)
        for r in cdf.alias("c")
        .join(
            bdf.alias("b"),
            (F.col("c.user_id") == F.col("b.user_id"))
            & (F.col("b.ts") > F.col("c.ts"))
            & (F.col("b.ts") <= F.col("c.ts") + F.expr("INTERVAL 30 minutes")),
        )
        .select(F.col("c.event_id").alias("l"), F.col("b.event_id").alias("r"))
        .collect()
    }
    assert got == exp and len(got) > 0

    progs = [
        json.loads(p.json) if hasattr(p, "json") else p
        for p in q.recentProgress
    ]
    state = [p["stateOperators"][0] for p in progs if p.get("stateOperators")]
    assert state, "no state operator progress recorded"
    # watermark expiry actually removed rows at least once...
    assert sum(s.get("numRowsRemoved", 0) for s in state) > 0
    # ...and final state holds far fewer rows than the 240 fed in
    assert state[-1]["numRowsTotal"] < 200, state[-1]["numRowsTotal"]


def test_dedup_stream_drops_cross_batch_redelivery(spark, tmp_path):
    """dropDuplicatesWithinWatermark keeps first arrivals and drops a
    second batch that re-delivers the same keys — state must survive
    across micro-batches, and the emitted rows are exactly batch 1."""
    from datalake_backend_spark.streaming.pipeline import (
        dedup_stream,
        start_to_memory,
    )

    src = str(tmp_path / "dsrc")
    # keep event times far from the epoch: the initial watermark is
    # 1970-01-01, and a row AT the watermark boundary counts as late
    rows1 = [(i, 1e6 + i, f"t{i % 3}") for i in range(30)]
    rows2 = [(i, 1e6 + i, f"t{i % 3}") for i in range(0, 30, 2)]  # re-delivery
    schema = "event_id int, sec double, event_type string"
    for name, rows in [("b1", rows1), ("b2", rows2)]:
        spark.createDataFrame(rows, schema).withColumn(
            "ts", F.timestamp_seconds(F.col("sec"))
        ).coalesce(1).write.parquet(f"{src}/{name}")
    import glob
    import os

    for i, d in enumerate(["b1", "b2"]):
        for f in glob.glob(f"{src}/{d}/part-*.parquet"):
            os.utime(f, (1_000_000_000 + i, 1_000_000_000 + i))
    stream = (
        spark.readStream.schema("event_id int, sec double, event_type string, ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/b*")
    )
    q = start_to_memory(
        dedup_stream(stream, ["event_id"], watermark="1 hour"), "dedup_t"
    )
    q.awaitTermination()
    got = spark.table("dedup_t").collect()
    assert len(got) == 30  # batch 2 emitted nothing
    assert {r.event_id for r in got} == set(range(30))
    # two micro-batches actually ran (not one merged batch)
    progs = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(progs) == 2


def test_bitmap_state_merge_idempotent(spark):
    """bitmap_state / merge_bitmap_state (operators/incremental.py;
    r227): merging the SAME batch twice changes nothing (bit_or
    idempotence — the replay-safety the streaming reach sink leans
    on), and the finalized count is the exact distinct."""
    from datalake_backend_spark.operators.incremental import (
        bitmap_state,
        finalize_bitmap,
        merge_bitmap_state,
    )

    df = spark.createDataFrame(
        [("a", 1), ("a", 33), ("a", 1), ("b", 2)], "k string, uid bigint"
    )
    st = bitmap_state(df, ["k"], "uid")
    twice = merge_bitmap_state(st, st, ["k"])
    got = {r.k: r.n_distinct for r in finalize_bitmap(twice, ["k"]).collect()}
    assert got == {"a": 2, "b": 1}  # 1 and 33 share a bucket word


def test_kmv_state_merge_idempotent_and_exact_below_k(spark):
    """kmv_state / merge_kmv_state / finalize_kmv
    (operators/incremental.py; r254): merging the SAME state twice
    changes nothing (k-min union idempotence — the replay safety the
    streaming KMV sink leans on); below k the sketch is exact and
    equals the one-shot kmv_distinct; a two-batch merge equals the
    one-shot sketch over the union (k-min mergeability)."""
    from pyspark.sql import functions as F

    from datalake_backend_spark.operators.distributions import kmv_distinct
    from datalake_backend_spark.operators.incremental import (
        finalize_kmv,
        kmv_state,
        merge_kmv_state,
    )

    df = spark.createDataFrame(
        [("a", i) for i in range(10)] + [("b", 5)], "k string, uid bigint"
    )
    st = kmv_state(df, ["k"], "uid", k=4)
    twice = merge_kmv_state(st, st, ["k"], k=4)
    once = {tuple(r) for r in finalize_kmv(st, ["k"], k=4).collect()}
    again = {tuple(r) for r in finalize_kmv(twice, ["k"], k=4).collect()}
    assert once == again
    got_b = [r for r in once if r[0] == "b"][0]
    assert got_b[1] == 1 and got_b[3] == 1.0  # below k → exact
    # two-batch merge == one-shot over the union
    b1 = df.where(F.col("uid") < 5)
    b2 = df.where(F.col("uid") >= 5)
    merged = merge_kmv_state(
        kmv_state(b1, ["k"], "uid", k=4),
        kmv_state(b2, ["k"], "uid", k=4),
        ["k"],
        k=4,
    )
    one_shot = kmv_distinct(df, "uid", ["k"], k=4)
    assert {tuple(r) for r in finalize_kmv(merged, ["k"], k=4).collect()} == {
        tuple(r) for r in one_shot.collect()
    }
