"""Engine facade E2E: the reference's upload lifecycle on one session."""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

import pytest

from datalake_backend_spark.engine import STATUS_EMPTY, STATUS_OK, Engine
from tests.fixtures import DOCS, write_fixture


@pytest.fixture(scope="module")
def engine(spark):
    return Engine(spark)


def test_vehicle_lifecycle(engine, spark, tmp_path):
    path = write_fixture(tmp_path, "vehicle")
    out = str(tmp_path / "lake")
    res = engine.process_document(path, "vehicle", out, export_index=True)
    assert res.status == STATUS_OK
    assert res.silver_rows == 4 and res.gold_rows == 1
    assert res.corrupt_docs == 0

    # zones exist and carry the right shapes
    silver = spark.read.parquet(res.outputs["silver"])
    assert "bbox_x1" in silver.columns
    processed = json.loads(spark.read.text(res.outputs["processed"]).collect()[0].value)
    # frame 4 has no detections → dropped, matching the reference's
    # plain-explode vehicle path (people preserves empties instead)
    assert [f["frame_number"] for f in processed] == [1, 2, 3]
    assert len(processed[0]["detections"]) == 2
    refined = json.loads(spark.read.text(res.outputs["refine"]).collect()[0].value)
    assert refined[0]["vehicle_type"] == "car"
    # splits + index export landed
    assert any(k.startswith("split/") for k in res.outputs)
    idx = [r.value for r in spark.read.text(res.outputs["index"]).collect()]
    assert json.loads(idx[0])["index"]["_index"] == "datalake-vehicle-data"

    # serving views work after registration
    views = engine.refresh_serving_views()
    assert "serving_vehicle_totals" in views
    assert engine.sql("SELECT total_vehicles FROM serving_vehicle_totals").collect()[
        0
    ].total_vehicles == 1


def test_empty_document_status(engine, tmp_path):
    p = tmp_path / "empty.json"
    p.write_text(json.dumps([]))
    res = engine.process_document(str(p), "vehicle", str(tmp_path / "lake2"))
    assert res.status == STATUS_EMPTY


def test_corrupt_document_counted(engine, tmp_path):
    p = tmp_path / "bad.json"
    p.write_text("{definitely not json")
    res = engine.process_document(str(p), "safety", str(tmp_path / "lake3"))
    assert res.status == STATUS_EMPTY
    assert res.corrupt_docs == 1


def _tree_bytes(root) -> dict[str, bytes]:
    """Every file under ``root``: relative path → contents."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


@contextmanager
def _job_group(sc, group: str):
    """Tag this thread's Spark jobs with ``group``; on exit, wait for the
    listener bus so the status tracker has seen every job, and untag."""
    sc.setJobGroup(group, group)
    try:
        yield sc.statusTracker()
    finally:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        for key in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(key, None)


@pytest.mark.parametrize(
    "text", ["[]", "{definitely not json"], ids=["empty", "malformed"]
)
def test_skipped_upload_leaves_zones_untouched(engine, tmp_path, text):
    """An empty or malformed upload after a valid one of the same domain
    reports STATUS_EMPTY and writes nothing to any zone."""
    out = str(tmp_path / "lake")
    ok = engine.process_document(
        write_fixture(tmp_path, "vehicle"), "vehicle", out, export_index=True
    )
    assert ok.status == STATUS_OK
    before = _tree_bytes(out)
    bad = tmp_path / "skip.json"
    bad.write_text(text)
    res = engine.process_document(str(bad), "vehicle", out, export_index=True)
    assert res.status == STATUS_EMPTY
    assert res.corrupt_docs == int(text != "[]")
    assert _tree_bytes(out) == before


def test_glob_with_one_malformed_file(engine, tmp_path):
    """A glob upload lands its valid documents and counts the bad one."""
    docs = tmp_path / "docs"
    docs.mkdir()
    write_fixture(docs, "vehicle")
    (docs / "bad.json").write_text("{definitely not json")
    res = engine.process_document(
        str(docs / "*.json"), "vehicle", str(tmp_path / "lake")
    )
    assert res.status == STATUS_OK
    assert res.corrupt_docs == 1
    assert res.silver_rows == 4 and res.gold_rows == 1


@pytest.mark.parametrize("versioned", [False, True], ids=["plain", "versioned"])
def test_sink_failure_propagates_after_siblings(
    engine, spark, tmp_path, monkeypatch, versioned
):
    """A failing sink surfaces from process_document, but only after its
    concurrent siblings finished; no writer thread outlives the call.
    A versioned gold snapshot is served from its commit on, so it stays
    registered; plain gold is registered only once every sink landed."""
    from datalake_backend_spark import engine as engine_mod
    from datalake_backend_spark.pipelines.splitter import SPLIT_SPECS

    real_write_table = engine_mod.write_table
    finished = []

    def slow_write_table(df, path, *args, **kwargs):
        if os.sep + "split" + os.sep in path:
            time.sleep(0.2)
        real_write_table(df, path, *args, **kwargs)
        finished.append(path)

    def failing_export(*args, **kwargs):
        raise RuntimeError("index sink down")

    monkeypatch.setattr(engine_mod, "write_table", slow_write_table)
    monkeypatch.setattr(engine_mod, "write_bulk_export", failing_export)
    spark.catalog.dropTempView("gold_vehicle")
    with pytest.raises(RuntimeError, match="index sink down"):
        engine.process_document(
            write_fixture(tmp_path, "vehicle"),
            "vehicle",
            str(tmp_path / "lake"),
            export_index=True,
            versioned_gold=versioned,
        )
    spec = SPLIT_SPECS["vehicle"]
    n_splits = len(spec.features) + len(spec.dist_cols) + 1  # + summary
    assert sum(os.sep + "split" + os.sep in p for p in finished) == n_splits
    assert not [t for t in threading.enumerate() if t.name.startswith("zone-writer")]
    assert spark.catalog.tableExists("gold_vehicle") == versioned


def test_upload_jobs_carry_callers_job_group(engine, spark, tmp_path):
    """Every job an upload submits, from any writer thread, carries the
    caller's job group: the ids between two marker jobs are exactly the
    group's."""
    sc = spark.sparkContext
    path = write_fixture(tmp_path, "vehicle")
    with _job_group(sc, "before-upload") as tracker:
        sc.parallelize([0], 1).count()
    (before,) = tracker.getJobIdsForGroup("before-upload")
    with _job_group(sc, "upload-under-test"):
        engine.process_document(
            path, "vehicle", str(tmp_path / "lake"), export_index=True
        )
    with _job_group(sc, "after-upload"):
        sc.parallelize([0], 1).count()
    (after,) = tracker.getJobIdsForGroup("after-upload")
    upload = set(tracker.getJobIdsForGroup("upload-under-test"))
    assert upload and upload == set(range(before + 1, after))


def test_uploads_leave_no_persisted_rdds(engine, spark, tmp_path):
    """Repeated uploads on one long-lived session cache nothing.

    Compared by RDD id, not by count: the context cleaner may unpersist
    frames that earlier tests left cached while the uploads run."""
    jsc = spark.sparkContext._jsc
    start = set(jsc.getPersistentRDDs().keys())
    for i, domain in enumerate(("vehicle", "common", "vehicle")):
        d = tmp_path / str(i)
        d.mkdir()
        res = engine.process_document(
            write_fixture(d, domain), domain, str(tmp_path / "lake")
        )
        assert res.status == STATUS_OK
    assert set(jsc.getPersistentRDDs().keys()) - start == set()


def test_serving_refresh_runs_no_jobs(engine, spark, tmp_path):
    """A dashboard refresh submits no Spark job and creates exactly the
    views whose gold source the catalog lists."""
    from datalake_backend_spark.serving.views import DASHBOARD_VIEWS, VIEW_SOURCES

    engine.process_document(
        write_fixture(tmp_path, "vehicle"), "vehicle", str(tmp_path / "lake")
    )
    listed = {t.name for t in spark.catalog.listTables() if t.name.startswith("gold_")}
    expected = [n for n in DASHBOARD_VIEWS if VIEW_SOURCES[n] in listed]
    sc = spark.sparkContext
    with _job_group(sc, "refresh-under-test") as tracker:
        created = engine.refresh_serving_views()
    assert tracker.getJobIdsForGroup("refresh-under-test") == []
    assert created == expected


@pytest.mark.parametrize("domain", sorted(DOCS))
def test_every_domain_lifecycle(engine, tmp_path, domain):
    path = write_fixture(tmp_path, domain)
    res = engine.process_document(path, domain, str(tmp_path / "lake"))
    assert res.status == STATUS_OK, domain
    assert res.gold_rows > 0


def test_object_store_conf_shape(monkeypatch):
    """S3A conf: magic committer on, no credentials invented, env and
    argument sources respected."""
    from datalake_backend_spark.config import object_store_conf

    monkeypatch.delenv("AWS_ENDPOINT_URL", raising=False)
    monkeypatch.delenv("AWS_ACCESS_KEY_ID", raising=False)
    monkeypatch.delenv("AWS_SECRET_ACCESS_KEY", raising=False)
    conf = object_store_conf()
    assert conf["spark.hadoop.fs.s3a.committer.name"] == "magic"
    assert conf["spark.hadoop.fs.s3a.fast.upload"] == "true"
    # no endpoint/credentials unless provided
    assert "spark.hadoop.fs.s3a.endpoint" not in conf
    assert "spark.hadoop.fs.s3a.access.key" not in conf

    monkeypatch.setenv("AWS_ENDPOINT_URL", "http://minio:9000")
    monkeypatch.setenv("AWS_ACCESS_KEY_ID", "k")
    monkeypatch.setenv("AWS_SECRET_ACCESS_KEY", "s")
    conf = object_store_conf()
    assert conf["spark.hadoop.fs.s3a.endpoint"] == "http://minio:9000"
    assert conf["spark.hadoop.fs.s3a.access.key"] == "k"
    assert conf["spark.hadoop.fs.s3a.secret.key"] == "s"
    assert conf["spark.hadoop.fs.s3a.path.style.access"] == "true"

    explicit = object_store_conf(endpoint="http://other:9000", ssl=True)
    assert explicit["spark.hadoop.fs.s3a.endpoint"] == "http://other:9000"
    assert explicit["spark.hadoop.fs.s3a.connection.ssl.enabled"] == "true"


def test_local_driver_heap_fits_host(monkeypatch):
    """The default local driver heap is 16g capped at half of physical
    memory, so the JVM cannot outgrow a small host; 16g where memory
    allows, 16g when the host's size cannot be read."""
    import os

    from datalake_backend_spark import config

    pages = {"SC_PAGE_SIZE": 4096}

    def sysconf(name):
        return pages[name]

    monkeypatch.setattr(os, "sysconf", sysconf)
    pages["SC_PHYS_PAGES"] = (15 << 30) // 4096  # a 15 GB host
    assert config._local_driver_mem() == "7680m"
    pages["SC_PHYS_PAGES"] = (64 << 30) // 4096
    assert config._local_driver_mem() == "16384m"

    def unknown(name):
        raise ValueError(name)

    monkeypatch.setattr(os, "sysconf", unknown)
    assert config._local_driver_mem() == "16g"


@pytest.mark.parametrize(
    "session",
    [
        'from datalake_backend_spark import get_spark\n'
        'spark = get_spark("outside", master="local[2]")',
        # the driver contract: a plain session, rows from queries()
        'from pyspark.sql import SparkSession\n'
        'spark = SparkSession.builder.master("local[2]").getOrCreate()',
    ],
    ids=["get_spark", "plain"],
)
def test_python_worker_rows_run_outside_the_repository(tmp_path, session):
    """The package reaches the session's Python workers: a registry row
    whose operators run Python on executors (r49's media decoders,
    ``mapInPandas``) works from a working directory outside the
    repository, with the package on the driver's ``sys.path`` only, not
    on ``PYTHONPATH`` — under ``get_spark()`` and under the plain
    session the driver contract passes to ``__spark_entry__``. A media
    operator over a frame that never went through ``readers.table()``
    runs first, so the map ships the package itself."""
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = tmp_path / "run.py"
    script.write_text("\n".join([
        "import sys",
        f"sys.path.insert(0, {repo!r})",
        "import __spark_entry__",
        "from datalake_backend_spark.datapipe.multimodal import (",
        "    image_stats, synthetic_image_table)",
        session,
        'docs = spark.range(3).withColumnRenamed("id", "doc_id")',
        "print(image_stats(synthetic_image_table(docs)).count())",
        f'print(__spark_entry__.queries()["r49_media_dedup"](spark, {SF_DIR!r}).count())',
        "spark.stop()",
    ]))
    env = {
        k: v
        for k, v in os.environ.items()
        if k != "PYTHONPATH" and not k.startswith("SPARK_GRAFT_")
    }
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"  # a second JVM beside the suite's
    out = subprocess.run(
        [sys.executable, str(script)], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    n_images, n_r49 = map(int, out.stdout.strip().splitlines()[-2:])
    assert n_images == 3 and n_r49 > 0


def test_versioned_gold_upload_log(engine, spark, tmp_path):
    """versioned_gold=True turns the gold zone into a commit log: each
    upload is a snapshot, re-uploads stay time-travelable, and the
    diff between two uploads of identical content is empty."""
    from datalake_backend_spark.sources.versioned import VersionedTable

    path = write_fixture(tmp_path, "vehicle")
    out = str(tmp_path / "lake")
    r1 = engine.process_document(path, "vehicle", out, versioned_gold=True)
    r2 = engine.process_document(path, "vehicle", out, versioned_gold=True)
    assert r1.status == STATUS_OK and r2.status == STATUS_OK
    assert r1.gold_rows == r2.gold_rows == 1

    tbl = VersionedTable(r2.outputs["gold"])
    assert [m["op"] for m in tbl.history()] == ["upload", "upload"]
    v1 = tbl.read(spark, 1)
    v2 = tbl.read(spark, 2)
    assert v1.count() == v2.count() == 1
    key = v1.columns[0]
    # identical re-upload → empty change feed between the versions
    assert tbl.changes(spark, 1, 2, [key]).count() == 0


def test_constraint_report_on_silver(engine, spark, tmp_path):
    """process_document(constraints=[...]) lands a per-rule report
    zone and totals violations without blocking the pipeline."""
    from pyspark.sql import functions as F

    from datalake_backend_spark.operators.constraints import (
        not_null,
        satisfies,
        unique,
    )

    path = write_fixture(tmp_path, "vehicle")
    out = str(tmp_path / "lake_c")
    res = engine.process_document(
        path,
        "vehicle",
        out,
        constraints=[
            not_null("tracker_id"),
            unique(["frame_number", "tracker_id"]),
            satisfies("impossible", F.lit(False)),  # always-violated rule
        ],
    )
    assert res.status == STATUS_OK
    rep = {
        r.rule: (r.violations, r.passed)
        for r in spark.read.parquet(res.outputs["constraint_report"]).collect()
    }
    assert rep["not_null(tracker_id)"] == (0, True)
    assert rep["unique(frame_number,tracker_id)"] == (0, True)
    assert rep["impossible"] == (res.silver_rows, False)
    assert res.constraint_violations == res.silver_rows


def test_cli_process_and_query(spark, tmp_path, capsys):
    """python -m datalake_backend_spark: process emits a JSON result
    line; query prints CSV rows; unknown query exits 2."""
    import json as _json

    from datalake_backend_spark.__main__ import main

    path = write_fixture(tmp_path, "vehicle")
    rc = main(
        ["process", "--path", path, "--domain", "vehicle",
         "--out", str(tmp_path / "lake_cli")]
    )
    out = capsys.readouterr().out.strip().splitlines()[-1]
    res = _json.loads(out)
    assert rc == 0 and res["status"] == 1 and res["silver_rows"] == 4

    rc = main(["query", "--name", "q01_pricing_summary",
               "--sf-dir", "/root/testdata/sf0.001", "--limit", "3"])
    lines = capsys.readouterr().out.strip().splitlines()
    assert rc == 0 and lines[0].startswith("l_returnflag") and len(lines) > 1

    assert main(["query", "--name", "nope"]) == 2


def test_cli_lakehouse_maintenance(spark, tmp_path, capsys):
    """optimize / vacuum / history subcommands drive a VersionedTable."""
    import json as _json

    from datalake_backend_spark.__main__ import main
    from datalake_backend_spark.sources.versioned import VersionedTable

    t = str(tmp_path / "vt")
    tbl = VersionedTable(t)
    for i in range(3):
        tbl.commit(
            spark.createDataFrame([(i, "x")], "k int, v string").repartition(2),
            mode="append" if i else "overwrite",
        )
    assert main(["optimize", "--table", t]) == 0
    res = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["version"] == 4 and res["files"] >= 1

    assert main(["history", "--table", t]) == 0
    lines = [
        _json.loads(line)
        for line in capsys.readouterr().out.strip().splitlines()
    ]
    assert [m["op"] for m in lines] == ["overwrite", "append", "append", "compact"]

    assert main(["vacuum", "--table", t, "--retain-last", "1"]) == 0
    rem = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rem["removed"]  # pre-compact dirs expired
    assert tbl.read(spark).count() == 3


def test_process_media_dir(spark, tmp_path):
    """Media-ingest composition: directory -> mediafile source ->
    exact dedup -> perceptual dedup -> versioned media zone. The
    re-encoded image copy (PNG of the same pixels) survives exact
    dedup but collapses perceptually; the byte-identical copy
    collapses in the exact pass; the distinct files all survive."""
    import numpy as np

    from datalake_backend_spark.datapipe.multimodal import (
        encode_png,
        encode_ppm,
        encode_wav,
    )
    from datalake_backend_spark.engine import Engine
    from datalake_backend_spark.sources.versioned import VersionedTable

    d = tmp_path / "incoming"
    d.mkdir()
    rng = np.random.default_rng(21)
    img = rng.integers(0, 255, (16, 18, 3), dtype=np.uint8)
    other = rng.integers(0, 255, (16, 18, 3), dtype=np.uint8)
    (d / "1.ppm").write_bytes(encode_ppm(img))
    (d / "2.ppm").write_bytes(encode_ppm(img))  # byte-identical dup
    (d / "3.png").write_bytes(encode_png(img))  # re-encoded dup
    (d / "4.ppm").write_bytes(encode_ppm(other))  # distinct
    mono = rng.integers(-2048, 2048, (200, 1)).astype(np.int16)
    (d / "5.wav").write_bytes(encode_wav(mono, 8000))
    (d / "6.wav").write_bytes(
        encode_wav(np.repeat(mono, 2, axis=1), 8000)
    )  # stereo re-layout dup
    # a DIFFERENT recording: NULL image hash like 5/6, but its audio
    # fingerprint differs — must NOT collapse with them (a keyless
    # concat_ws would map every non-image to the same "" group)
    other_audio = rng.integers(-32000, 32000, (200, 1)).astype(np.int16)
    (d / "7.wav").write_bytes(encode_wav(other_audio, 8000))

    eng = Engine(spark)
    res = eng.process_media_dir(str(d), str(tmp_path / "lake"))
    assert res["n_files"] == 7
    assert res["n_exact_dups"] == 1  # 2.ppm
    assert res["n_perceptual_dups"] == 2  # 3.png, 6.wav
    assert res["n_kept"] == 4 and res["version"] == 1
    kept = VersionedTable(res["zone"]).read(spark)
    assert {r.media_id for r in kept.select("media_id").collect()} == {1, 4, 5, 7}
    # dedup keys ride along for incremental probes
    assert {"content_sha", "phash_hi", "vsig"} <= set(kept.columns)


def test_process_media_dir_scans_source_once(spark, tmp_path, monkeypatch):
    """The media lifecycle's ranked frames are persisted, so the
    expensive directory scan (payload read + sha/decode) materializes
    at most twice across the five lifecycle actions — at a 100 TB
    media dir an uncached lineage would re-read every payload 4-5x.
    partitions() runs driver-side once per scan materialization, so
    counting its calls counts source scans."""
    import numpy as np

    from datalake_backend_spark.datapipe.multimodal import encode_ppm
    from datalake_backend_spark.engine import Engine
    from datalake_backend_spark.sources import media_source as ms

    d = tmp_path / "incoming"
    d.mkdir()
    rng = np.random.default_rng(5)
    for i in range(4):
        img = rng.integers(0, 255, (8, 9, 3), dtype=np.uint8)
        (d / f"{i}.ppm").write_bytes(encode_ppm(img))

    calls = []
    orig = ms.MediaFileReader.partitions

    def counted(self):
        calls.append(1)
        return orig(self)

    monkeypatch.setattr(ms.MediaFileReader, "partitions", counted)
    res = Engine(spark).process_media_dir(str(d), str(tmp_path / "lake"))
    assert res["n_files"] == 4 and res["n_kept"] == 4
    assert len(calls) <= 2, f"media source scanned {len(calls)} times"


# ---------------------------------------------------------------------------
# Silver co-purchase edge table (derive once, read by q145/q147/r170)
# ---------------------------------------------------------------------------

SF_DIR = "/root/testdata/sf0.001"


def test_copurchase_edges_derive_once(spark, monkeypatch):
    """The graph trio shares ONE silver edge derivation per process:
    the first call commits the distinct orders⋈lineitem projection to
    a VersionedTable; every later call must serve from the parquet —
    zero scans of the fact tables. At 100 TB the derivation is the
    expensive part (shuffle+dedup over the two largest tables), so a
    second scan is a correctness-of-design failure, not a perf nit."""
    import shutil

    from datalake_backend_spark import engine as eng
    from datalake_backend_spark.sources import readers
    from datalake_backend_spark.sources.versioned import VersionedTable

    base = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "spark-warehouse",
        f"graph_edges_sf0.001_{os.getpid()}",
    )
    shutil.rmtree(base, ignore_errors=True)

    fact_scans = []
    orig = readers.table

    def counted(sp, sf, name):
        if name in ("orders", "lineitem"):
            fact_scans.append(name)
        return orig(sp, sf, name)

    monkeypatch.setattr(readers, "table", counted)
    try:
        first = eng.copurchase_edges(spark, SF_DIR)
        n1 = first.count()
        assert sorted(fact_scans) == ["lineitem", "orders"]
        v1 = VersionedTable(base).latest_version()
        assert v1 is not None

        second = eng.copurchase_edges(spark, SF_DIR)
        assert second.count() == n1
        # still exactly one derivation: no new fact scans, no new commit
        assert sorted(fact_scans) == ["lineitem", "orders"]
        assert VersionedTable(base).latest_version() == v1
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_copurchase_edges_matches_inline_derivation(spark):
    """The silver round-trip (commit directed half → read → symmetrize)
    must reproduce the exact row multiset of the inline derivation the
    graph queries used before round 10 — this is what keeps q145/q147/
    r170 value-hashes unchanged across the rewiring."""
    import shutil

    from pyspark.sql import functions as F

    from datalake_backend_spark import engine as eng
    from datalake_backend_spark.sources.readers import table

    base = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "spark-warehouse",
        f"graph_edges_sf0.001_{os.getpid()}",
    )
    try:
        got = eng.copurchase_edges(spark, SF_DIR)
        orders = table(spark, SF_DIR, "orders")
        lineitem = table(spark, SF_DIR, "lineitem")
        e0 = (
            orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
            .select(
                F.concat(F.lit("c"), F.col("o_custkey")).alias("c"),
                F.concat(F.lit("s"), F.col("l_suppkey")).alias("s"),
            )
            .distinct()
        )
        want = e0.select(
            F.col("c").alias("src"), F.col("s").alias("dst")
        ).union(e0.select(F.col("s").alias("src"), F.col("c").alias("dst")))
        assert got.columns == want.columns == ["src", "dst"]
        diff_a = got.exceptAll(want).count()
        diff_b = want.exceptAll(got).count()
        assert diff_a == 0 and diff_b == 0
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_copurchase_edges_sweeps_dead_pid_dirs(spark):
    """A dir left by a crashed process (pid no longer alive) is swept
    on the next build; the live process's own dir is never touched."""
    import shutil

    from datalake_backend_spark import engine as eng

    warehouse = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "spark-warehouse",
    )
    # 2^22+1 exceeds any default pid_max → guaranteed-dead pid
    stale = os.path.join(warehouse, "graph_edges_sf9_4194305")
    os.makedirs(stale, exist_ok=True)
    mine = os.path.join(warehouse, f"graph_edges_sf0.001_{os.getpid()}")
    try:
        eng.copurchase_edges(spark, SF_DIR)
        assert not os.path.exists(stale)
        assert os.path.exists(mine)
    finally:
        shutil.rmtree(stale, ignore_errors=True)
        shutil.rmtree(mine, ignore_errors=True)


def test_two_phase_operators_release_storage(spark):
    """The two-phase prefix-sum operators (all routed through
    ranking.keyed_running_sum since round 13) pin their input. Run 50
    times on ONE session, each call inside its own scope, they leave no
    persisted RDD behind; run outside every scope, they grow storage
    by at most the session FIFO's keep count, and ``release_all()``
    drops those."""
    from datalake_backend_spark.core import materialize
    from datalake_backend_spark.datapipe.dedup import (
        sorted_neighborhood_pairs,
    )
    from datalake_backend_spark.datapipe.packing import token_stream_offsets
    from datalake_backend_spark.operators.distributions import ecdf_percentile

    jsc = spark.sparkContext._jsc
    probe = spark.createDataFrame(
        [(i, float(i % 7)) for i in range(20)], "pid int, v double"
    )
    ref = spark.createDataFrame([(float(i),) for i in range(10)], "x double")
    docs = spark.createDataFrame(
        [(i, "tok " * (i % 5 + 1)) for i in range(20)], "doc_id int, text string"
    )
    calls = (
        lambda: ecdf_percentile(probe, "v", ref, "x", keep_cols=["pid"]),
        lambda: token_stream_offsets(docs, key_col="doc_id"),
        lambda: sorted_neighborhood_pairs(docs, "text", id_col="doc_id"),
    )

    def persisted() -> set:
        return set(jsc.getPersistentRDDs().keys())

    materialize.release_all()
    before = persisted()
    for i in range(50):
        with materialize.scope("two-phase"):
            assert calls[i % 3]().count() > 0
        assert persisted() - before == set(), i
    for i in range(12):
        assert calls[i % 3]().count() > 0
    assert len(persisted() - before) <= materialize._SESSION_KEEP
    materialize.release_all()
    assert persisted() - before == set()
