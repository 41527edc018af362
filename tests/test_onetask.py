"""The one-task small-graph path (core/onetask.py) against the
distributed loops it stands in for: the six operators return the same
rows with the same types on both paths, a one-task call submits a
fixed handful of Spark jobs whatever its round count, and the solvers
run in Python workers that cannot import the package."""

from __future__ import annotations

import json
import os
import random
import subprocess
import sys
import textwrap
from collections import Counter

import pytest
from pyspark.sql import functions as F

from datalake_backend_spark.core import onetask
from datalake_backend_spark.datapipe.dedup import cluster_near_dups
from datalake_backend_spark.operators.graph import (
    bfs_hops,
    bounded_sssp,
    kcore_peel,
    pagerank,
    personalized_pagerank,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _graph(seed: int, kind: str, nodes: int = 40, n_edges: int = 90):
    """Seeded random directed edges with duplicate edges and self-loops,
    over string or bigint ids; also an id absent from every edge."""
    r = random.Random(seed)
    ids = [f"n{i}" if kind == "string" else 7 * i + 3 for i in range(nodes)]
    edges = [(r.choice(ids), r.choice(ids)) for _ in range(n_edges)]
    edges += edges[:6] + [(ids[0], ids[0]), (ids[5], ids[5])]
    absent = "zz" if kind == "string" else -1
    return ids, edges, absent


def _frame(spark, rows, kind, cols=("src", "dst")):
    t = "string" if kind == "string" else "bigint"
    return spark.createDataFrame(rows, ", ".join(f"{c} {t}" for c in cols))


def _symmetrize(edges):
    return edges + [(b, a) for a, b in edges]


def _both_paths(monkeypatch, call):
    """(one-task, distributed) results of ``call()``: each as its column
    types and its row multiset."""
    def run():
        df = call()
        return [f.dataType for f in df.schema.fields], Counter(map(tuple, df.collect()))

    assert onetask.fits_one_task(0)
    local = run()
    with monkeypatch.context() as m:
        m.setattr(onetask, "_LOCAL_ROWS", -1)  # no frame fits, not even an empty one
        dist = run()
    return local, dist


CASES = {
    "pagerank": lambda e, src: pagerank(e, iterations=4),
    "personalized_pagerank": lambda e, src: personalized_pagerank(e, src, iterations=3),
    "bfs_hops": lambda e, src: bfs_hops(e, src, max_hops=3),
    "kcore_peel": lambda e, src: kcore_peel(e, k=2, rounds=3),
    "bounded_sssp": lambda e, src: bounded_sssp(
        e.withColumn("cost", (F.abs(F.hash("src", "dst")) % 9).cast("bigint")), src, max_hops=3
    ),
    "cluster_near_dups": lambda e, src: cluster_near_dups(e, "src", "dst"),
}


@pytest.mark.parametrize("kind", ["string", "bigint"])
@pytest.mark.parametrize("op", sorted(CASES))
def test_one_task_matches_distributed(spark, monkeypatch, op, kind):
    """Seeded random graphs with duplicate edges and self-loops, seeds
    that include an id absent from the edge set: both paths return the
    same rows with the same column types."""
    ids, edges, absent = _graph(2 * sorted(CASES).index(op) + (kind == "bigint"), kind)
    if op == "kcore_peel":
        edges = _symmetrize(edges)
    e = _frame(spark, edges, kind)
    src = _frame(spark, [(ids[1],), (ids[2],), (absent,)], kind, cols=("node",))
    local, dist = _both_paths(monkeypatch, lambda: CASES[op](e, src))
    assert local == dist
    assert sum(local[1].values()) > 0


@pytest.mark.parametrize("op", sorted(set(CASES) - {"cluster_near_dups"}))
def test_one_task_null_ids_match_distributed(spark, monkeypatch, op):
    """NULL ids never match a join, but each forms its own group and
    frontier row: the solvers mirror that, NULL seeds included.
    (Components drop NULL endpoints instead; see
    test_components_drop_null_endpoints_on_every_path.)"""
    ids, edges, absent = _graph(5, "string", nodes=12, n_edges=40)
    edges += [(None, ids[3]), (ids[4], None), (None, None), (ids[7], None)]
    if op == "kcore_peel":
        edges = _symmetrize(edges)
    e = _frame(spark, edges, "string")
    src = _frame(spark, [(ids[1],), (None,), (absent,)], "string", cols=("node",))
    local, dist = _both_paths(monkeypatch, lambda: CASES[op](e, src))
    assert local == dist


@pytest.mark.parametrize("op", sorted(CASES))
def test_one_task_empty_edges(spark, monkeypatch, op):
    """An empty edge frame: the same (possibly empty) rows on both paths,
    seeds outside the (empty) edge set included."""
    e = _frame(spark, [], "bigint")
    src = _frame(spark, [(4,), (9,)], "bigint", cols=("node",))
    local, dist = _both_paths(monkeypatch, lambda: CASES[op](e, src))
    assert local == dist


def test_one_task_long_chain_components(spark, monkeypatch):
    """A 300-edge chain relabels most nodes every round, so the
    distributed loop falls back to large-star/small-star; union-find in
    one task gives the same single component, keeping a self-pair-only
    id as its own cluster."""
    pairs = [(i + 1, i) for i in range(300)] + [(999, 999)]
    df = _frame(spark, pairs, "bigint", cols=("id_a", "id_b"))
    local, dist = _both_paths(monkeypatch, lambda: cluster_near_dups(df))
    assert local == dist
    assert local[1] == Counter({**{(i, 0): 1 for i in range(301)}, (999, 999): 1})


def test_components_drop_null_endpoints_on_every_path(spark, monkeypatch):
    """A pair with a NULL endpoint is dropped before the components are
    found, so min-label propagation, the large-star/small-star fallback
    (``star_after=0``) and the one-task solver give the same rows."""
    df = _frame(spark, [(1, 2), (2, None), (5, 6)], "bigint", cols=("id_a", "id_b"))

    def rows(**kw):
        return Counter(map(tuple, cluster_near_dups(df, **kw).collect()))

    local = rows()
    with monkeypatch.context() as m:
        m.setattr(onetask, "_LOCAL_ROWS", -1)
        propagated, star = rows(), rows(star_after=0)
    want = Counter({(1, 1): 1, (2, 1): 1, (5, 5): 1, (6, 5): 1})
    assert local == propagated == star == want


def _jobs(spark, group: str, call) -> int:
    """Spark jobs ``call()`` submits, counted by job group once the
    listener bus has delivered every job to the status tracker."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        call()
    finally:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        for key in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(key, None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


#: most Spark jobs a one-task call and the caller's first action may
#: submit: the size count, the solve, the action, and for personalized
#: PageRank the empty-seed probe. The distributed loops submit 20-60 on
#: the same graph, one or more per round.
JOB_BUDGET = 4


@pytest.mark.parametrize("op", sorted(CASES))
def test_one_task_job_budget(spark, op):
    """A one-task call on a ~100-edge graph submits at most JOB_BUDGET
    jobs, however many rounds it runs: no per-round job may creep back."""
    ids, edges, absent = _graph(3, "string")
    e = _frame(spark, _symmetrize(edges), "string")
    src = _frame(spark, [(ids[1],), (absent,)], "string", cols=("node",))
    e.count(), src.count()  # source frames materialized outside the group
    n = _jobs(
        spark,
        f"onetask-{op}",
        lambda: CASES[op](e, src).write.format("noop").mode("overwrite").save(),
    )
    assert 0 < n <= JOB_BUDGET, n


def test_one_task_workers_need_no_package(tmp_path):
    """Python workers run the one-task solvers without importing the
    package: a plain SparkSession whose cwd is outside the repository,
    with the repository on the driver's ``sys.path`` only."""
    script = tmp_path / "run.py"
    script.write_text(textwrap.dedent(f"""
        import json, sys
        sys.path.insert(0, {REPO!r})
        from pyspark.sql import SparkSession
        from datalake_backend_spark.datapipe.dedup import cluster_near_dups
        from datalake_backend_spark.operators.graph import pagerank

        spark = SparkSession.builder.master("local[2]").getOrCreate()
        e = spark.createDataFrame([("a", "b"), ("b", "c"), ("c", "a"), ("x", "y")], "src string, dst string")
        ranks = {{r.node: r.rank_scaled for r in pagerank(e, iterations=3).collect()}}
        labels = {{r.node: r.cluster_id for r in cluster_near_dups(e, "src", "dst").collect()}}
        print(json.dumps({{"ranks": ranks, "labels": labels}}))
        spark.stop()
    """))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH" and not k.startswith("SPARK_GRAFT_")}
    out = subprocess.run(
        [sys.executable, str(script)], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert got["labels"] == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}
    assert set(got["ranks"]) == {"a", "b", "c", "x", "y"}
    assert got["ranks"]["a"] == got["ranks"]["b"] == got["ranks"]["c"] > got["ranks"]["y"]
