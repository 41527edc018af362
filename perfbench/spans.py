"""Span tracer for the traced run, installed from outside the program.

Spans are opened around the benchmark's own calls into each layer and
around the functions ``datalake_backend_spark.engine`` imports by name,
which are swapped for wrappers in the engine's namespace; no program
file changes. Every span tags the Spark jobs it issues through the
``spark.jobGroup.id`` local property, so each job belongs to exactly
one span: the innermost one open when the job was submitted.

After every operation the tracer waits for Spark's listener bus to
drain, then walks the UI REST API (the same walk ``tools/stageprof.py``
does) for the jobs and stages of that operation's spans. Spans stay in
memory and are written out once, at exit.
"""

from __future__ import annotations

import json
import os
import time
import urllib.request
from contextlib import contextmanager, nullcontext
from dataclasses import asdict, dataclass, field
from datetime import datetime, timezone

#: functions engine.py imports by name → span name
ENGINE_CALLS = {
    "read_raw_json": "sources.read_raw_json",
    "split_corrupt": "sources.split_corrupt",
    "non_empty": "core.non_empty",
    "renest_frames": "pipelines.renest_frames",
    "run_splitter": "pipelines.run_splitter",
    "register_gold": "serving.register_gold",
}
#: engine writers; their span is named after the zone the path lands in
ENGINE_WRITERS = ("write_table", "write_json_document", "write_bulk_export")


@dataclass
class Span:
    sid: str
    name: str
    parent: str | None
    op: int
    label: str
    start: float
    end: float = 0.0
    jobs: list[int] = field(default_factory=list)

    @property
    def wall(self) -> float:
        return self.end - self.start


def _epoch(stamp: str | None) -> float | None:
    if not stamp:
        return None
    return datetime.strptime(stamp[:23], "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=timezone.utc
    ).timestamp()


class _Pipeline:
    """Stand-in for a domain pipeline module whose builders open spans."""

    def __init__(self, module, tracer: Tracer) -> None:
        self._module = module
        self.silver = tracer.wrap(module.silver, "pipelines.silver")
        self.gold = tracer.wrap(module.gold, "pipelines.gold")

    def __getattr__(self, name):
        return getattr(self._module, name)


class Tracer:
    """Spans, job tags and per-operation counters of one run; inert until
    ``enabled`` is set."""

    def __init__(self, spark, lake_root: str) -> None:
        self.sc = spark.sparkContext
        self.jvm = spark._jvm
        self.lake_root = lake_root
        self.enabled = False
        self.spans: list[Span] = []
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        self.probes: list[dict] = []  # one per operation
        self.unattributed_jobs = 0
        self._stack: list[Span] = []
        self._op = -1
        self._label = ""
        self._saved: dict[str, object] = {}
        self._api = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}"

    # -- spans ---------------------------------------------------------------
    def span(self, name: str):
        return self._span(name) if self.enabled else nullcontext()

    @contextmanager
    def _span(self, name: str):
        parent = self._stack[-1].sid if self._stack else None
        rec = Span(f"pb{len(self.spans)}", name, parent, self._op, self._label, time.time())
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setLocalProperty("spark.jobGroup.id", rec.sid)
        try:
            yield rec
        finally:
            rec.end = time.time()
            self._stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", parent)

    def wrap(self, fn, name: str):
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def _wrap_writer(self, fn):
        def traced(df, path, *args, **kwargs):
            zone = os.path.relpath(path, self.lake_root).split(os.sep)[0]
            with self.span(f"zone.{zone}"):
                return fn(df, path, *args, **kwargs)

        return traced

    def install(self) -> None:
        """Swap the engine's imported names for span-opening wrappers."""
        from datalake_backend_spark import engine

        for attr, name in ENGINE_CALLS.items():
            self._saved[attr] = getattr(engine, attr)
            setattr(engine, attr, self.wrap(self._saved[attr], name))
        for attr in ENGINE_WRITERS:
            self._saved[attr] = getattr(engine, attr)
            setattr(engine, attr, self._wrap_writer(self._saved[attr]))
        get_pipeline = engine.get_pipeline
        self._saved["get_pipeline"] = get_pipeline
        engine.get_pipeline = lambda domain: _Pipeline(get_pipeline(domain), self)

    def uninstall(self) -> None:
        from datalake_backend_spark import engine

        for attr, fn in self._saved.items():
            setattr(engine, attr, fn)
        self._saved.clear()

    # -- per-operation collection -------------------------------------------
    @contextmanager
    def operation(self, name: str, label: str):
        """One benchmark operation (``label``: its domain or query): a root
        span, then, outside its wall time, the job/stage walk and the
        cache probes for it."""
        if not self.enabled:
            yield None
            return
        self._op += 1
        self._label = label
        first = len(self.spans)
        with self._span(name) as root:
            yield root
        self._collect(self.spans[first:], root)

    def _get(self, path: str):
        with urllib.request.urlopen(self._api + path, timeout=30) as r:
            return json.load(r)

    def _collect(self, spans: list[Span], root: Span) -> None:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        by_sid = {s.sid: s for s in spans}
        for job in self._get("/jobs"):
            submitted = _epoch(job.get("submissionTime"))
            group = job.get("jobGroup")
            if group in by_sid:
                by_sid[group].jobs.append(job["jobId"])
                job["_start"] = submitted
                job["_end"] = _epoch(job.get("completionTime")) or root.end
                self.jobs[job["jobId"]] = job
            elif submitted is not None and root.start - 0.005 <= submitted <= root.end:
                self.unattributed_jobs += 1
        wanted = {sid for s in spans for j in s.jobs for sid in self.jobs[j]["stageIds"]}
        for stage in self._get("/stages"):
            if stage["stageId"] in wanted and stage.get("status") != "SKIPPED":
                self.stages[stage["stageId"]] = stage
        executors = self._get("/executors")
        self.probes.append({
            "op": root.op,
            "persisted_rdds": self.persisted_rdds(),
            "storage_mb": sum(e.get("memoryUsed", 0) for e in executors) / 2**20,
        })

    def persisted_rdds(self) -> int:
        return int(self.sc._jsc.getPersistentRDDs().size())

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": [asdict(s) for s in self.spans], "probes": self.probes}, f)
