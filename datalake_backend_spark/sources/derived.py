"""Derived on-disk fixtures: one owner for the pid-scoped warehouse dirs.

Registry rows that need a table, a media folder or a replayed stream on
disk keep it under ``<repo>/spark-warehouse/<name>_<sf>_<pid>``, where
``<sf>`` is the basename of the scale-factor directory. The pid scope
keeps concurrent processes (a correctness sweep next to a bench) off
each other's files; a per-name lock keeps concurrent threads of one
process off each other's builds, while fixtures with different names
build in parallel. Every call sweeps the dirs of ``name`` that dead
processes left behind, so crashed runs never accumulate.

* :func:`derive_once` builds a fixture once per process and reads it
  many times (a ``.complete`` marker gates the build, so a build that
  raised is redone on the next call).
* :func:`replay_batches` writes micro-batches for a streaming replay
  and removes them when the stream has drained.
* :func:`fresh_dir` hands out an empty dir that outlives the call.
"""

from __future__ import annotations

import contextlib
import glob
import os
import shutil
import threading

from pyspark.sql import DataFrame, SparkSession

WAREHOUSE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "spark-warehouse",
)

_LOCKS: dict[str, threading.Lock] = {}
_LOCKS_GUARD = threading.Lock()


def _lock(name: str) -> threading.Lock:
    with _LOCKS_GUARD:
        return _LOCKS.setdefault(name, threading.Lock())


def fixture_path(sf_dir: str, name: str) -> str:
    """This process's dir for fixture ``name`` over ``sf_dir``."""
    sf = os.path.basename(sf_dir.rstrip("/"))
    return os.path.join(WAREHOUSE, f"{name}_{sf}_{os.getpid()}")


def _sweep(name: str) -> None:
    """Remove the ``name`` dirs whose pid no longer exists."""
    for d in glob.glob(os.path.join(WAREHOUSE, f"{name}_*")):
        pid = d.rsplit("_", 1)[-1]
        if not pid.isdigit() or int(pid) == os.getpid():
            continue
        try:
            os.kill(int(pid), 0)
        except ProcessLookupError:
            shutil.rmtree(d, ignore_errors=True)
        except OSError:
            pass  # alive but not ours (or unsupported) — leave it


def fresh_dir(sf_dir: str, name: str) -> str:
    """An empty fixture dir for ``name``; the caller may read it after
    returning (a lazily read output), so it lives until the next call
    or until a later process sweeps it."""
    base = fixture_path(sf_dir, name)
    with _lock(name):
        _sweep(name)
        shutil.rmtree(base, ignore_errors=True)
    return base


def derive_once(sf_dir: str, name: str, build) -> str:
    """Return fixture ``name``'s dir, running ``build(base)`` into a
    fresh dir first unless an earlier call in this process completed
    it. The build is deterministic in ``sf_dir``, so every process
    builds the same contents."""
    base = fixture_path(sf_dir, name)
    marker = os.path.join(base, ".complete")
    with _lock(name):
        _sweep(name)
        if not os.path.exists(marker):
            shutil.rmtree(base, ignore_errors=True)
            os.makedirs(base)
            build(base)
            open(marker, "w").close()
    return base


@contextlib.contextmanager
def replay_batches(
    spark: SparkSession, sf_dir: str, name: str, batches: list[DataFrame]
):
    """Write each of ``batches`` as one parquet file and yield
    ``(stream, base)``: a stream that reads those files one per trigger,
    oldest first (their mtimes are pinned in batch order), and the
    fixture dir, where a sink may keep its table and checkpoint. The
    dir is removed on exit; materialize what must outlive it first."""
    base = fixture_path(sf_dir, name)
    with _lock(name):
        _sweep(name)
        shutil.rmtree(base, ignore_errors=True)
        try:
            for i, batch in enumerate(batches):
                batch.coalesce(1).write.parquet(f"{base}/src/b{i + 1}")
                for f in glob.glob(f"{base}/src/b{i + 1}/part-*.parquet"):
                    os.utime(f, (1_000_000_000 + i * 100,) * 2)
            stream = (
                spark.readStream.schema(batches[0].schema)
                .option("maxFilesPerTrigger", "1")
                .parquet(f"{base}/src/b*")
            )
            yield stream, base
        finally:
            shutil.rmtree(base, ignore_errors=True)
