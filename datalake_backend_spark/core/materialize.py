"""The one owner of cached-frame lifetime: every persist and checkpoint
the engine makes goes through :func:`pin` or :func:`checkpoint` and
belongs to an owner that releases it.

The two kinds of materialization differ in what releasing them costs
(Zaharia et al., "Resilient Distributed Datasets", NSDI 2012):

* A **persist** is a hint. A frame whose cache was dropped recomputes
  from its lineage, so a persist can be released at any time; releasing
  it early costs recompute, never a wrong or failed read.
* A **checkpoint** cuts the lineage. A frame that reads a released
  ``localCheckpoint`` fails (``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``);
  Spark cannot recompute it. A checkpoint may only be released once
  nothing reads it any more.

Owners:

* :func:`scope` — a named, nestable context manager, per thread (a
  ``ContextVar``; a worker thread joins its caller's scope only when it
  runs in a copy of the caller's context). Everything pinned or
  checkpointed while it is the innermost open scope is released when
  it exits. A query, an upload, or an operator whose returned frame
  reads nothing pinned inside the scope opens one.
* Outside every scope (the driver contract's bare calls), pins go to a
  session FIFO that keeps the newest :data:`_SESSION_KEEP` and releases
  older ones: safe because a persist is only a hint. Checkpoints made
  outside every scope are not held at all: evicting one could break a
  frame still in use, so they stay with Spark's ContextCleaner, which
  drops a checkpoint once the JVM collects its last reference.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager
from contextvars import ContextVar

from pyspark.sql import DataFrame

from datalake_backend_spark.core import onetask

#: Unscoped pins the session FIFO keeps before it releases the oldest.
#: The deepest single-query composition pins 4 frames (r200); 8 leaves
#: room for a second such call in flight, and an evicted frame only
#: recomputes.
_SESSION_KEEP = 8

#: open scopes of the current thread (or copied context), innermost last
_SCOPES: ContextVar[tuple["_Owner", ...]] = ContextVar("materialize_scopes", default=())
#: guards every owner's list and the session FIFO: the threads of one
#: upload register into the same scope
_LOCK = threading.Lock()


class _Owner:
    """A scope's held materializations: ``(name, release)`` pairs."""

    def __init__(self, name: str) -> None:
        self.name = name
        self.held: list[tuple[str, object]] = []


_SESSION = _Owner("session")


def _release(held: list[tuple[str, object]]) -> None:
    for _, release in held:
        try:
            release()
        except Exception:  # noqa: BLE001 — the session may be gone
            pass


def _owner(outer: bool = False) -> _Owner | None:
    """The innermost open scope, or the one enclosing it when ``outer``."""
    scopes = _SCOPES.get()[: -1 if outer else None]
    return scopes[-1] if scopes else None


@contextmanager
def scope(name: str):
    """Own every pin and checkpoint made inside; release them on exit.
    Also usable as a decorator, which opens a fresh scope per call."""
    owner = _Owner(name)
    token = _SCOPES.set((*_SCOPES.get(), owner))
    try:
        yield owner
    finally:
        _SCOPES.reset(token)
        with _LOCK:
            held, owner.held = owner.held, []
        _release(held)


def pin(df: DataFrame, name: str, eager: bool = False) -> DataFrame:
    """Persist ``df`` under the current owner. ``eager`` fills the cache
    now, in one Spark job (:func:`onetask.count_rows`)."""
    df.persist()
    owner, held = _owner(), (name, lambda: df.unpersist(False))
    evicted: list[tuple[str, object]] = []
    with _LOCK:
        if owner is not None:
            owner.held.append(held)
        else:
            _SESSION.held.append(held)
            evicted = _SESSION.held[:-_SESSION_KEEP]
            del _SESSION.held[:-_SESSION_KEEP]
    _release(evicted)
    if eager:
        onetask.count_rows(df)
    return df


def checkpoint(
    df: DataFrame, name: str, eager: bool = True, outer: bool = False
) -> DataFrame:
    """``df.localCheckpoint(eager)`` under the current owner. ``outer``
    registers it with the scope enclosing the innermost one: an
    operator's result, computed inside the operator's own scope, that
    its caller reads after that scope has released the operator's
    intermediates."""
    out = df.localCheckpoint(eager=eager)
    owner = _owner(outer)
    if owner is not None:
        rdd = out._jdf.logicalPlan().rdd()
        with _LOCK:
            owner.held.append((name, lambda: rdd.unpersist(False)))
    return out


def release_all() -> None:
    """Release every pin the session FIFO holds."""
    with _LOCK:
        held, _SESSION.held = _SESSION.held, []
    _release(held)


#: target rows per partition for the iterative loops' right-sized
#: loop-invariant frames (the graph loops and the near-dup
#: connected-components loop): graphs derived from a corpus are
#: typically orders of magnitude smaller than the corpus, and every
#: iteration pays the cached frame's task count as fixed overhead.
LOOP_ROWS_PER_PART = 1_000_000


def parts_for(rows: int, current: int, rows_per_part: int) -> int:
    """Partition count for a frame of ``rows`` rows that now has
    ``current`` partitions: about ``rows_per_part`` rows each, clamped
    to ``[2, current]``. Callers resize only when it is below
    ``current``, so at sizes where ``rows // rows_per_part`` exceeds
    ``current`` nothing changes."""
    return max(2, min(current, rows // rows_per_part + 2))
