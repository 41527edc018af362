"""Per-layer metrics of a traced run, named after the repo's modules.

Span sums are per pass (the traced pass); ``upload.*`` are medians per
upload; latency samples come from the untraced timed passes. Every
metric is emitted on every workload; a layer the workload never reaches
reads 0.
"""

from __future__ import annotations

import statistics

from docs import DOMAINS
from workloads import ITERATIVE_ROWS, LakeSmall

BUILD_SPANS = ("pipelines.silver", "pipelines.gold", "pipelines.run_splitter",
               "pipelines.renest_frames")


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def _p50(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def tail(samples: list[float]) -> tuple[float, float, int]:
    """Highest percentile with at least ten samples above it, as
    (value, percentile, sample count); (0, 0, n) when there are fewer
    than eleven samples and no percentile qualifies."""
    xs = sorted(samples)
    n = len(xs)
    if n < 11:
        return 0.0, 0.0, n
    i = n - 11
    return xs[i], 100.0 * (i + 1) / n, n


def op_latencies(passes) -> list[float]:
    """One operation's latency: an upload plus the dashboard read after
    it, or one registry query; an operation that raised has none."""
    out = []
    for p in passes:
        it = iter(p)
        for op in it:
            out.append(op.seconds + next(it).seconds if op.kind == "upload" else op.seconds)
    return [x for x in out if x > 0]


def jvm_rss_peak_mb(jvm) -> float:
    """Peak resident memory of the Spark JVM (``VmHWM``)."""
    pid = jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM in /proc status")


def layer_metrics(passes, traced, tracer, cores, setup, failed_frac) -> dict:
    spans = tracer.spans
    children: dict[str, list] = {}
    for s in spans:
        children.setdefault(s.parent, []).append(s)

    def subtree(s):
        out, todo = [], [s]
        while todo:
            x = todo.pop()
            out.append(x)
            todo.extend(children.get(x.sid, []))
        return out

    def jobs(ss):
        return [tracer.jobs[j] for s in ss for j in s.jobs]

    def tasks(ss):
        return sum(j.get("numCompletedTasks", 0) for j in jobs(ss))

    named: dict[str, list] = {}
    for s in spans:
        named.setdefault(s.name, []).append(s)

    def wall(*names):
        return sum(s.wall for n in names for s in named.get(n, []))

    def njobs(*names):
        return len(jobs([s for n in names for s in named.get(n, [])]))

    m: dict[str, tuple[float, str]] = {}
    m["setup.session_s"] = (setup["session_s"], "s")
    m["setup.warm_s"] = (setup["warm_s"], "s")

    # -- latency samples from the untraced passes -------------------------------
    untraced = [op for p in passes for op in p]
    for kind in ("upload", "dashboard", "query"):
        xs = [op.seconds for op in untraced if op.kind == kind]
        value, pct, n = tail(xs)
        m[f"{kind}_p50_s"] = (_p50(xs), "s")
        m[f"{kind}_tail_s"] = (value, "s")
        m[f"{kind}_tail_pct"] = (pct, "%")
        m[f"{kind}_tail_n"] = (n, "count")
    m["op_geomean_s"] = (statistics.geometric_mean(op_latencies(passes)), "s")
    landed = [op for op in untraced if op.kind == "upload" and op.status == 1]
    upload_s = sum(op.seconds for op in untraced if op.kind == "upload")
    m["detections_per_s"] = (sum(op.silver_rows for op in landed) / upload_s if upload_s else 0.0, "1/s")
    raw = sum(op.raw_bytes for op in landed)
    m["stored_bytes_per_raw_byte"] = (sum(op.stored_bytes for op in landed) / raw if raw else 0.0, "B/B")
    m["zone.silver_rows"] = (_p50([sum(o.silver_rows for o in p) for p in passes]), "count")
    m["zone.gold_rows"] = (_p50([sum(o.gold_rows for o in p) for p in passes]), "count")
    m["failed_frac"] = (failed_frac, "ratio")
    m["persisted_rdds_end"] = (tracer.persisted_rdds(), "count")
    m["jvm_rss_peak_mb"] = (jvm_rss_peak_mb(tracer.jvm), "MB")

    # -- the traced pass -------------------------------------------------------
    traced_s = sum(op.seconds for op in traced)
    m["trace.pass_s"] = (traced_s, "s")
    m["trace.overhead_s"] = (traced_s - sum(op.seconds for op in passes[-1]), "s")
    m["trace.unattributed_jobs"] = (tracer.unattributed_jobs, "count")

    uploads = [op for op in traced if op.kind == "upload" and op.root is not None]
    m["engine.self_s"] = (sum(op.root.wall - sum(c.wall for c in children.get(op.root.sid, []))
                              for op in uploads), "s")
    m["engine.self_jobs"] = (len(jobs([op.root for op in uploads])), "count")
    m["core.non_empty_s"] = (wall("core.non_empty"), "s")
    m["core.non_empty_jobs"] = (njobs("core.non_empty"), "count")
    m["sources.bronze_s"] = (wall("sources.read_raw_json", "sources.split_corrupt"), "s")
    m["pipelines.build_s"] = (wall(*BUILD_SPANS), "s")
    for z in LakeSmall.ZONES:
        ss = named.get(f"zone.{z}", [])
        m[f"zone.{z}_s"] = (sum(s.wall for s in ss), "s")
        m[f"zone.{z}_jobs"] = (len(jobs(ss)), "count")
        m[f"zone.{z}_tasks"] = (tasks(ss), "count")
    m["upload.jobs"] = (_p50([len(jobs(subtree(op.root))) for op in uploads]), "count")
    m["upload.tasks"] = (_p50([tasks(subtree(op.root)) for op in uploads]), "count")
    for d in DOMAINS:
        m[f"upload_jobs.{d}"] = (sum(len(jobs(subtree(op.root))) for op in uploads
                                     if op.name == d and op.status == 1), "count")
    m["serving.register_s"] = (wall("serving.register_gold"), "s")
    m["serving.refresh_s"] = (wall("serving.refresh"), "s")
    m["serving.views_s"] = (wall("serving.views"), "s")
    m["serving.lookup_s"] = (wall("serving.lookup"), "s")
    m["serving.jobs"] = (njobs(*[n for n in named if n.startswith("serving.")]), "count")
    for phase in ("build", "execute"):
        m[f"queries.{phase}_s"] = (wall(f"queries.{phase}"), "s")
        m[f"queries.{phase}_jobs"] = (njobs(f"queries.{phase}"), "count")
    for q in ITERATIVE_ROWS:
        m[f"jobs.{q}"] = (sum(len(jobs(subtree(op.root))) for op in traced
                                            if op.name == q and op.root is not None), "count")

    roots = [op.root for op in traced if op.root is not None]
    all_jobs = jobs(spans)
    driver_only = 0.0
    for r in roots:
        iv = [(max(j["_start"], r.start), min(j["_end"], r.end)) for j in jobs(subtree(r))]
        driver_only += r.wall - _union([(a, b) for a, b in iv if b > a])
    m["driver_only_s"] = (driver_only, "s")
    busy = _union([(j["_start"], j["_end"]) for j in all_jobs])
    stages = [tracer.stages[sid] for j in all_jobs for sid in j["stageIds"] if sid in tracer.stages]
    run_s = sum(st.get("executorRunTime", 0) for st in stages) / 1e3
    m["spark.jobs"] = (len(all_jobs), "count")
    m["spark.stages"] = (len(stages), "count")
    m["spark.tasks"] = (sum(j.get("numCompletedTasks", 0) for j in all_jobs), "count")
    m["spark.job_busy_s"] = (busy, "s")
    m["spark.executor_run_s"] = (run_s, "s")
    m["spark.executor_cpu_s"] = (sum(st.get("executorCpuTime", 0) for st in stages) / 1e9, "s")
    m["spark.gc_s"] = (sum(st.get("jvmGcTime", 0) for st in stages) / 1e3, "s")
    for key, field in (("shuffle_read", "shuffleReadBytes"), ("shuffle_write", "shuffleWriteBytes"),
                       ("input", "inputBytes")):
        m[f"spark.{key}_mb"] = (sum(st.get(field, 0) for st in stages) / 2**20, "MB")
    m["spark.spill_mb"] = (sum(st.get("memoryBytesSpilled", 0) + st.get("diskBytesSpilled", 0)
                               for st in stages) / 2**20, "MB")
    m["spark.slot_util"] = (run_s / (busy * cores) if busy else 0.0, "ratio")
    m["spark.failed_tasks"] = (sum(j.get("numFailedTasks", 0) for j in all_jobs), "count")
    m["cache.persisted_rdds_max"] = (max((p["persisted_rdds"] for p in tracer.probes), default=0), "count")
    m["cache.storage_mb_max"] = (max((p["storage_mb"] for p in tracer.probes), default=0.0), "MB")
    return m
