"""Derived fixtures (``sources/derived.py``) and the one-owner guards.

``derive_once`` and the guards need no Spark; ``replay_batches`` does.
"""

from __future__ import annotations

import os
import shutil
from pathlib import Path

import pytest

from datalake_backend_spark.sources import derived

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "datalake_backend_spark"


@pytest.fixture()
def name():
    n = "test_derived"
    yield n
    shutil.rmtree(derived.fixture_path("sf_t", n), ignore_errors=True)


def test_fixture_path_is_pid_scoped_under_the_warehouse(name):
    assert derived.fixture_path("/data/sf0.01/", name) == os.path.join(
        str(ROOT), "spark-warehouse", f"{name}_sf0.01_{os.getpid()}"
    )


def test_derive_once_builds_once_per_process(name):
    calls = []

    def build(base):
        calls.append(base)
        with open(os.path.join(base, "x"), "w") as fh:
            fh.write("1")

    first = derived.derive_once("sf_t", name, build)
    second = derived.derive_once("sf_t", name, build)
    assert first == second == derived.fixture_path("sf_t", name)
    assert calls == [first]
    assert os.path.exists(os.path.join(first, "x"))


def test_derive_once_rebuilds_after_a_failed_build(name):
    def broken(base):
        with open(os.path.join(base, "partial"), "w") as fh:
            fh.write("half")
        raise RuntimeError("build died")

    with pytest.raises(RuntimeError):
        derived.derive_once("sf_t", name, broken)
    calls = []
    base = derived.derive_once("sf_t", name, calls.append)
    assert calls == [base]
    # the half-built dir was cleared before the rebuild
    assert not os.path.exists(os.path.join(base, "partial"))


def test_derive_once_sweeps_dead_pid_dirs_of_its_name(name):
    # 2^22+1 exceeds any default pid_max → guaranteed-dead pid
    stale = os.path.join(derived.WAREHOUSE, f"{name}_sf9_4194305")
    other = os.path.join(derived.WAREHOUSE, f"{name}x_sf9_4194305")
    os.makedirs(stale, exist_ok=True)
    os.makedirs(other, exist_ok=True)
    try:
        derived.derive_once("sf_t", name, lambda base: None)
        assert not os.path.exists(stale)
        assert os.path.exists(other)  # another name's dirs are not touched
    finally:
        shutil.rmtree(stale, ignore_errors=True)
        shutil.rmtree(other, ignore_errors=True)


def test_derive_once_threads_build_each_name_once(name):
    """More threads than cores race on two names: each name builds
    exactly once, and every caller returns only after its build
    completed."""
    import sys
    import threading
    import time

    builds: dict[str, int] = {}
    seen, errors = [], []
    names = [name, name + "_b"]

    def build(base):
        time.sleep(0.05)  # widen the check-then-build window
        key = os.path.basename(base)
        builds[key] = builds.get(key, 0) + 1
        with open(os.path.join(base, "x"), "w") as fh:
            fh.write("1")

    def worker(i):
        try:
            base = derived.derive_once("sf_t", names[i % 2], build)
            seen.append(os.path.exists(os.path.join(base, "x")))
        except Exception as e:  # pragma: no cover - failure detail
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(i,)) for i in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(old)
        shutil.rmtree(derived.fixture_path("sf_t", names[1]), ignore_errors=True)
    assert not errors, errors
    assert seen == [True] * 16
    assert sorted(builds.values()) == [1, 1]


def test_replay_batches_drains_one_file_per_trigger(spark, name):
    from datalake_backend_spark.streaming.pipeline import start_to_memory

    b1 = spark.createDataFrame([(1,), (2,)], "x long")
    b2 = spark.createDataFrame([(3,)], "x long")
    with derived.replay_batches(spark, "sf_t", name, [b1, b2]) as (stream, base):
        assert base == derived.fixture_path("sf_t", name)
        q = start_to_memory(stream, "test_replay_batches")
        q.awaitTermination()
        assert q.recentProgress and len(
            [p for p in q.recentProgress if p["numInputRows"]]
        ) == 2
    assert not os.path.exists(base)
    assert sorted(r.x for r in spark.table("test_replay_batches").collect()) == [1, 2, 3]


def _count(rel: str, needle: str) -> int:
    return (PACKAGE / rel).read_text().count(needle)


def test_one_owner_per_job():
    """A second copy of a job that has one owner fails here: the
    manifest publish (``VersionedTable._publish``), the foreachBatch
    start (``pipeline._start_foreach_batch``) and the pid-scoped
    fixture dirs (``sources/derived.py``)."""
    assert _count("sources/versioned.py", "os.link(") == 1
    assert _count("streaming/pipeline.py", "foreachBatch(") == 1
    assert _count("queries.py", "os.getpid()") == 0
    assert _count("engine.py", "os.getpid()") == 0
