"""Streaming surface, JSON sinks, and serving-view tests."""

from __future__ import annotations

import json

from pyspark.sql import functions as F
from pyspark.sql import types as T

from datalake_backend_spark.pipelines import get_pipeline
from datalake_backend_spark.serving.views import (
    register_gold,
    register_serving_views,
)
from datalake_backend_spark.sources.readers import read_raw_json
from datalake_backend_spark.sources.writers import (
    json_array_document,
    single_row_json,
    wrapped_json_document,
    write_json_document,
)
from datalake_backend_spark.schemas import DOMAIN_SCHEMAS
from datalake_backend_spark.streaming.pipeline import (
    session_aggregate,
    start_silver_sink,
    start_to_memory,
    windowed_counts,
)
from tests.fixtures import write_fixture

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def _event_rows(spark, tmp_path):
    rows = [
        ("2024-01-01 10:00:00", 1, "view", 1.0),
        ("2024-01-01 10:02:00", 1, "view", 2.0),
        ("2024-01-01 10:50:00", 1, "purchase", 5.0),  # new session (>30m gap)
        ("2024-01-01 10:01:00", 2, "view", 3.0),
    ]
    df = spark.createDataFrame(
        [(F.lit(None),)] * 0 or rows, ["ts", "user_id", "event_type", "value"]
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    path = str(tmp_path / "events_parquet")
    df.write.parquet(path)
    return path


def test_streaming_windowed_counts(spark, tmp_path):
    """Append mode emits only windows the watermark has closed: the
    10:00 view window closes (watermark = 10:50 - 1m), the 10:50
    purchase window is still open and must be withheld — late data
    could still join it."""
    path = _event_rows(spark, tmp_path)
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(path)
    agg = windowed_counts(stream, window="5 minutes", watermark="1 minute")
    q = start_to_memory(agg, "win_counts", output_mode="append")
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("SELECT * FROM win_counts").collect()
    got = {
        (str(r.window_start), r.event_type): (r.n, r.sum_value) for r in rows
    }
    assert got[("2024-01-01 10:00:00", "view")] == (3, 6.0)
    assert ("2024-01-01 10:50:00", "purchase") not in got  # still open


def test_streaming_session_window(spark, tmp_path):
    path = _event_rows(spark, tmp_path)
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(path)
    agg = session_aggregate(stream, gap="30 minutes", watermark="1 minute")
    q = start_to_memory(agg, "sess", output_mode="append")
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("SELECT * FROM sess").collect()
    got = {(r.user_id, r.n_events) for r in rows}
    # user 1's first session (2 events) closed 10:32 < watermark 10:49;
    # the 10:50 purchase session is open → withheld; user 2's closed.
    assert got == {(1, 2), (2, 1)}


def test_streaming_file_ingest_to_silver(spark, tmp_path):
    """availableNow file-source drains a landing dir through the domain
    silver transform into parquet — the per-upload batch contract."""
    land = tmp_path / "landing"
    land.mkdir()
    write_fixture(land, "safety")

    def raw_stream():
        return (
            spark.readStream.schema(DOMAIN_SCHEMAS["safety"])
            .option("multiLine", "true")
            .json(str(land))
        )

    out = str(tmp_path / "silver")
    ck = str(tmp_path / "ck")
    q = start_silver_sink(
        raw_stream(), out, ck, transform=get_pipeline("safety").silver
    )
    q.awaitTermination(60)
    result = spark.read.parquet(out)
    assert result.count() == 4  # 4 people rows across 3 frames
    assert "tracker_id" in result.columns
    # second drain with no new files appends nothing (checkpointed)
    q2 = start_silver_sink(
        raw_stream(), out, ck,
        transform=get_pipeline("safety").silver,
    )
    q2.awaitTermination(60)
    assert spark.read.parquet(out).count() == 4


def test_json_document_sinks(spark, tmp_path):
    df = spark.createDataFrame(
        [(2, "b"), (1, "a")], ["frame_number", "val"]
    )
    doc = json_array_document(df, sort_cols=["frame_number"]).collect()[0].json
    parsed = json.loads(doc)
    assert [d["frame_number"] for d in parsed] == [1, 2]

    wrapped = wrapped_json_document(df, "frame_detections", ["frame_number"])
    parsed2 = json.loads(wrapped.collect()[0].json)
    assert list(parsed2) == ["frame_detections"]
    assert len(parsed2["frame_detections"]) == 2

    single = json.loads(single_row_json(df.orderBy("frame_number")).collect()[0].json)
    assert single == {"frame_number": 1, "val": "a"}

    out = str(tmp_path / "doc_out")
    write_json_document(wrapped, out)
    text = spark.read.text(out).collect()[0].value
    assert json.loads(text) == parsed2


def test_serving_views(spark, tmp_path):
    for domain in ("vehicle", "parking", "people", "safety"):
        path = write_fixture(tmp_path, domain)
        raw = read_raw_json(spark, path, domain=domain)
        pipe = get_pipeline(domain)
        register_gold(spark, domain, pipe.gold(pipe.silver(raw)))
    created = register_serving_views(spark)
    # at least every view over the four domains registered above (other
    # tests may have registered more gold views in this shared session)
    assert {
        "serving_vehicle_totals", "serving_vehicle_type_dist",
        "serving_parking_totals", "serving_parking_slot_metrics",
        "serving_people_totals", "serving_people_gender_dist",
        "serving_safety_violations",
    } <= set(created)

    totals = spark.sql("SELECT * FROM serving_vehicle_totals").collect()[0]
    assert totals.total_vehicles == 1
    assert totals.total_red_light_violations == 1

    slots = {
        r.slot_id: r for r in spark.sql(
            "SELECT * FROM serving_parking_slot_metrics"
        ).collect()
    }
    assert slots["A"].n_sessions == 1 and slots["C"].n_sessions == 0

    viol = spark.sql("SELECT * FROM serving_safety_violations").collect()[0]
    assert viol.mask == 2 and viol.hardhat == 1

    people = spark.sql("SELECT * FROM serving_people_totals").collect()[0]
    assert people.total_people == 2 and people.restricted_entries == 1


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """Pairs emitted by the watermarked stream-stream join equal the
    batch interval join on the same rows (strict lower bound, inclusive
    upper bound, per-key)."""
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
    base = "2024-01-01 00:"
    rows = [
        (1, f"{base}00:00", 10),  # click
        (1, f"{base}20:00", 11),  # click
        (2, f"{base}00:00", 12),  # click
    ]
    buys = [
        (1, f"{base}25:00", 20),  # joins both clicks of user 1
        (1, f"{base}31:00", 21),  # joins only the 20:00 click (>30m after first)
        (2, f"{base}00:00", 22),  # same instant: strict > excludes it
    ]
    clicks_df = spark.createDataFrame(
        [(u, __import__("datetime").datetime.fromisoformat(t), e) for u, t, e in rows],
        schema,
    )
    buys_df = spark.createDataFrame(
        [(u, __import__("datetime").datetime.fromisoformat(t), e) for u, t, e in buys],
        schema,
    )
    cdir, bdir = str(tmp_path / "c"), str(tmp_path / "b")
    clicks_df.write.parquet(cdir)
    buys_df.write.parquet(bdir)
    cs = spark.readStream.schema(schema).parquet(cdir)
    bs = spark.readStream.schema(schema).parquet(bdir)
    joined = stream_stream_interval_join(cs, bs, "user_id", "ts", "ts")
    q = (
        joined.writeStream.format("memory")
        .queryName("ssj_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.l_event_id, r.r_event_id)
        for r in spark.table("ssj_test").collect()
    }
    assert got == {(10, 20), (11, 20), (11, 21)}


def test_stream_static_enrich_keeps_unmatched(spark, tmp_path):
    """Stream-static enrichment (streaming/pipeline.py:
    stream_static_enrich; oracle twin r158): the static dim is
    broadcast per micro-batch and the join is LEFT — an event whose
    key has no dim row must survive with NULL attributes, never be
    dropped."""
    from datalake_backend_spark.streaming.pipeline import (
        stream_static_enrich,
    )

    sdir = str(tmp_path / "ev")
    spark.createDataFrame(
        [(1, 100), (2, 200), (3, 999)], "event_id long, user_id long"
    ).write.parquet(sdir)
    dim = spark.createDataFrame(
        [(100, "gold"), (200, "basic")], "uid long, tier string"
    )
    stream = spark.readStream.schema("event_id long, user_id long").parquet(sdir)
    out = stream_static_enrich(stream, dim, "user_id", "uid", ["tier"])
    q = (
        out.writeStream.format("memory")
        .queryName("sse_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {(r.event_id, r.tier) for r in spark.table("sse_test").collect()}
    assert got == {(1, "gold"), (2, "basic"), (3, None)}


def test_start_to_memory_failed_stream_leaves_no_checkpoint(spark, tmp_path, monkeypatch):
    """A memory-sink stream runs under a checkpoint dir start_to_memory
    owns: a stream that fails raises, and neither that dir nor a Spark
    ``temporary-*`` checkpoint is left behind."""
    import os
    import tempfile

    import pytest
    from pyspark.errors import StreamingQueryException

    owned = tmp_path / "owned"
    owned.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(owned))
    jvm_tmp = spark.sparkContext._jvm.System.getProperty("java.io.tmpdir")

    def spark_temps():
        return {n for n in os.listdir(jvm_tmp) if n.startswith("temporary-")}

    before = spark_temps()
    path = _event_rows(spark, tmp_path)
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(path)
    failing = stream.select(F.raise_error(F.lit("boom")).alias("x"))
    with pytest.raises(StreamingQueryException):
        start_to_memory(failing, "failing_stream")
    assert os.listdir(owned) == []
    assert spark_temps() <= before
    # a stream that succeeds is returned finished, its checkpoint gone
    q = start_to_memory(stream, "ok_stream")
    assert not q.isActive and q.recentProgress
    assert os.listdir(owned) == []
    assert spark.table("ok_stream").count() == 4
