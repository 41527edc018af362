"""Lake and registry benchmark for datalake_backend_spark.

Usage (from the repository root):

    python3 perfbench/run.py --workload lake_small --seed 1 --seconds 20 --trace 0

Runs one workload closed-loop from one client thread against
``local[<cores>]``: an untimed set-up, then whole passes over the
workload's operation list until ``--seconds`` have elapsed (at least
one). Every operation's output is checked. The last stdout line is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``; with
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1`` the
per-layer ones from an extra traced pass. See ``perfbench/README.md``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def pin_environment(work: str) -> int:
    """Set the engine's environment before its first import: the session
    gets every core of this host and keeps its scratch files in ``work``."""
    cores = len(os.sched_getaffinity(0))
    for var in [v for v in os.environ if v.startswith("SPARK_GRAFT_")]:
        del os.environ[var]
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    # the JVM's temp files go to the work directory; no hsperfdata in /tmp
    jvm_opts = f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
    os.environ["SPARK_SUBMIT_OPTS"] = f"{os.environ.get('SPARK_SUBMIT_OPTS', '')} {jvm_opts}".strip()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path[:0] = [ROOT]
    return cores


def stop_spark(spark) -> None:
    """Stop the session, then the JVM behind it, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None and gateway.proc is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        gateway.proc.wait(timeout=60)


def run_passes(workload, seconds: float, first: int) -> list[list]:
    passes, t0 = [], time.perf_counter()
    while not passes or time.perf_counter() - t0 < seconds:
        passes.append(workload.run_pass(first + len(passes)))
    return passes


def main() -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    work_root = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(work_root, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=work_root)
    spark = None
    try:
        cores = pin_environment(work)
        from datalake_backend_spark import get_spark

        spark = get_spark("perfbench")
        sc = spark.sparkContext
        if sc.master != f"local[{cores}]":
            print(f"perfbench: master is {sc.master}, expected local[{cores}]", file=sys.stderr)
            return 2
        t_session = time.perf_counter()

        from spans import Tracer

        tracer = Tracer(spark, os.path.join(work, "lake"))
        workload = WORKLOADS[args.workload](spark, work, args.seed, tracer)
        t_inputs = time.perf_counter()
        workload.setup()
        setup_s = time.perf_counter() - T_START

        passes = run_passes(workload, args.seconds, 0)
        traced = []
        if args.trace:
            tracer.install()
            tracer.enabled = True
            traced = workload.run_pass(len(passes))
            tracer.enabled = False
            tracer.uninstall()
        ops = [op for p in passes for op in p] + traced
        checks, mismatches = workload.check()
        attempted = len(ops) + checks
        failed = sum(not op.ok for op in ops) + mismatches

        print(json.dumps({
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "master": sc.master, "default_parallelism": sc.defaultParallelism,
            "spark_version": spark.version, "passes": len(passes),
            "inputs": workload.inputs,
        }))
        pass_s = [sum(op.seconds for op in p) for p in passes]
        if args.trace:
            from layers import layer_metrics

            metrics = layer_metrics(
                passes, traced, tracer, cores,
                setup={"session_s": t_session - T_START,
                       "warm_s": setup_s - (t_inputs - T_START)},
                failed_frac=failed / attempted,
            )
            tracer.dump(os.path.join(work_root, "spans",
                                     f"{args.workload}-seed{args.seed}.json"))
        else:
            metrics = {
                "setup_s": (setup_s, "s"),
                "pass_s": (statistics.median(pass_s), "s"),
            }
        print(json.dumps({
            "correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
        return 0
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        shutil.rmtree(os.path.join(ROOT, "spark-warehouse", f"graph_edges_sf0.001_{os.getpid()}"),
                      ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
