"""Operator-library unit tests (SURVEY §2.6-2.9) with hand-computed goldens."""

from __future__ import annotations

from pyspark.sql import functions as F

from datalake_backend_spark.operators.distributions import (
    numeric_summary,
    top_k_per_group,
    value_distribution,
)
from datalake_backend_spark.operators.mode import mode_agg
from datalake_backend_spark.operators.renest import renest_frames
from datalake_backend_spark.operators.rollup import count_if
from datalake_backend_spark.operators.sessionize import (
    session_summary,
    sessionize,
    sessionize_by_gap,
)
from datalake_backend_spark.operators.windows import (
    change_count,
    conditional_duration,
    first_event_time,
    time_in_state,
)


def _events(spark):
    # (entity, t, state, flag)
    rows = [
        ("a", 0.0, "L", False),
        ("a", 1.0, "L", True),
        ("a", 2.0, "R", True),
        ("a", 4.0, "L", False),
        ("b", 0.0, "L", False),
    ]
    return spark.createDataFrame(rows, ["id", "t", "state", "flag"])


def test_mode_tie_break(spark):
    df = spark.createDataFrame(
        [("u", "x"), ("u", "x"), ("u", "y"), ("u", "y"), ("u", "z")],
        ["id", "v"],
    )
    out = mode_agg(df, ["id"], "v").collect()
    # tie between x(2) and y(2) → smallest value wins
    assert out[0].v_mode == "x"


def test_mode_exclude(spark):
    df = spark.createDataFrame(
        [("u", "Unknown"), ("u", "Unknown"), ("u", "y")], ["id", "v"]
    )
    out = mode_agg(df, ["id"], "v", exclude=["Unknown"]).collect()
    assert out[0].v_mode == "y"


def test_change_count(spark):
    out = {
        r.id: r.changes
        for r in change_count(_events(spark), ["id"], ["t"], "state").collect()
    }
    assert out == {"a": 2, "b": 0}  # L→L→R→L


def test_time_in_state(spark):
    out = {
        (r.id, r.state): r.seconds_in_state
        for r in time_in_state(_events(spark), ["id"], "t", "state").collect()
    }
    # Δts: (0→1]=1s in L, (1→2]=1s in L, (2→4]=2s in R
    assert out == {("a", "L"): 2.0, ("a", "R"): 2.0}


def test_conditional_duration(spark):
    out = {
        r.id: r.flagged_seconds
        for r in conditional_duration(_events(spark), ["id"], "t", "flag").collect()
    }
    # prev-flag-true intervals: (1→2]=1s, (2→4]=2s
    assert out == {"a": 3.0, "b": 0.0}


def test_first_event_time(spark):
    out = {
        r.id: r.first_flag_time
        for r in first_event_time(
            _events(spark), ["id"], "t", F.col("flag")
        ).collect()
    }
    assert out == {"a": 1.0, "b": None}


def test_sessionize_state_transitions(spark):
    # slot occupied pattern incl. tail-open session (occupied at end)
    rows = [
        ("s1", 0.0, False),
        ("s1", 1.0, True),
        ("s1", 2.0, True),
        ("s1", 3.0, False),
        ("s1", 4.0, True),  # still occupied at end → open session
        ("s2", 0.0, False),  # never occupied
    ]
    df = spark.createDataFrame(rows, ["slot", "t", "occupied"])
    sess = {
        (r.slot, r.session_id): (r.entry_time, r.exit_time, r.duration_seconds)
        for r in sessionize(df, ["slot"], "t", "occupied").collect()
    }
    assert sess[("s1", 1)] == (1.0, 3.0, 2.0)
    assert sess[("s1", 2)] == (4.0, None, 0.0)  # tail-closing at last_seen
    assert ("s2", 1) not in sess


def test_session_summary(spark):
    rows = [
        ("s1", 0.0, False),
        ("s1", 1.0, True),
        ("s1", 2.0, True),
        ("s1", 3.0, False),
    ]
    df = spark.createDataFrame(rows, ["slot", "t", "occupied"])
    s = session_summary(df, ["slot"], "t", "occupied").collect()[0]
    assert s.became_active == 1 and s.became_inactive == 1
    # Δt attributed to previous state: (0,1]=free, (1,2]=occ, (2,3]=occ
    assert s.active_seconds == 2.0 and s.inactive_seconds == 1.0
    assert s.final_active is False
    assert abs(s.inactive_percentage - 100.0 / 3.0) < 1e-9


def test_sessionize_by_gap(spark):
    rows = [("u", 0.0), ("u", 10.0), ("u", 100.0), ("u", 105.0)]
    df = spark.createDataFrame(rows, ["id", "t"])
    out = sessionize_by_gap(df, ["id"], "t", gap=30.0).collect()
    spans = sorted((r.session_start, r.session_end, r.n_events) for r in out)
    assert spans == [(0.0, 10.0, 2), (100.0, 105.0, 2)]


def test_renest_deterministic_order(spark):
    rows = [(1, 3, "c"), (1, 1, "a"), (1, 2, "b"), (2, 1, "z")]
    df = spark.createDataFrame(rows, ["frame", "seq", "val"])
    out = {
        r.frame: [d.seq for d in r.detections]
        for r in renest_frames(df, ["frame"], ["seq", "val"], ["seq"]).collect()
    }
    assert out == {1: [1, 2, 3], 2: [1]}


def test_count_if_empty_group(spark):
    df = spark.createDataFrame([(1, False)], ["k", "b"])
    r = df.groupBy("k").agg(count_if(F.col("b")).alias("n")).collect()[0]
    assert r.n == 0


def test_frame_gap_durations(spark):
    """W9, as the pose gold computes it: each frame adds one frame's
    time, and a frame after a gap adds one frame's time too."""
    from datalake_backend_spark.pipelines import pose

    df = spark.createDataFrame(
        [("p", 1, 0.9, []), ("p", 2, 0.9, []), ("p", 10, 0.9, [])],
        "action string, frame_number int, confidence double, "
        "keypoints array<struct<visibility: double>>",
    )
    r = pose.gold(df, fps=10.0).collect()[0]
    # first frame 0.1, gap=1 → 0.1, gap=8>1 → 0.1
    assert abs(r.duration_seconds - 0.3) < 1e-9


def test_value_distribution(spark):
    df = spark.createDataFrame([("x",), ("x",), ("y",)], ["v"])
    out = {r.value: (r.n, r.pct) for r in value_distribution(df, "v").collect()}
    assert out["x"][0] == 2 and abs(out["x"][1] - 200.0 / 3) < 1e-9


def test_numeric_summary(spark):
    df = spark.createDataFrame([(1.0,), (3.0,)], ["v"])
    r = numeric_summary(df, ["v"]).collect()[0]
    assert (r.n_rows, r.avg_v, r.min_v, r.max_v, r.sum_v) == (2, 2.0, 1.0, 3.0, 4.0)


def test_top_k_per_group(spark):
    df = spark.createDataFrame(
        [("g", 1, 5.0), ("g", 2, 9.0), ("g", 3, 9.0), ("g", 4, 1.0)],
        ["g", "id", "v"],
    )
    out = top_k_per_group(df, ["g"], "v", k=2, tie_break=["id"]).collect()
    got = sorted((r.rank, r.id) for r in out)
    assert got == [(1, 2), (2, 3)]  # tie on 9.0 broken by id


def test_pagerank_integer_exact(spark):
    """Integer PageRank (operators/graph.py; oracle twin r145): a
    3-node star where b has two in- and two out-edges. One synchronous
    update from the uniform start is hand-computable in exact BIGINT
    arithmetic; after 5 iterations the hub still dominates and total
    mass is conserved up to the documented flooring loss."""
    from datalake_backend_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [("a", "b"), ("c", "b"), ("b", "a"), ("b", "c")],
        "src string, dst string",
    )
    one = {r.node: r.rank_scaled for r in pagerank(edges, iterations=1).collect()}
    # r0 = 1e12//3 = 333333333333; teleport = 15e12//300 = 5e10
    # b gets 2 × (85·r0)//100; a,c get (85·r0)//200 from b (deg 2)
    assert one["b"] == 50_000_000_000 + 2 * (85 * 333_333_333_333 // 100)
    assert one["a"] == 50_000_000_000 + (85 * 333_333_333_333 // 200)
    assert one["a"] == one["c"]
    five = {r.node: r.rank_scaled for r in pagerank(edges, iterations=5).collect()}
    assert five["b"] > five["a"] == five["c"]
    total = sum(five.values())
    # flooring loses < 1 unit per edge per round
    assert 10**12 - 100 < total <= 10**12
    # deterministic under a different partitioning
    again = {
        r.node: r.rank_scaled
        for r in pagerank(edges.repartition(5), iterations=5).collect()
    }
    assert again == five


def test_pagerank_checkpoint_bounds_plan_depth(spark, monkeypatch):
    """checkpoint_every cuts the iteration loop's lazy lineage: at 20
    iterations the un-checkpointed plan grows O(iterations) deep while
    checkpoint_every=5 keeps the analyzed plan bounded by one segment
    — and the integer ranks are bit-identical either way (the
    checkpoint changes scheduling, never arithmetic). Runs the
    distributed loop: the one-task path has no lineage to cut."""
    from datalake_backend_spark.core import onetask
    from datalake_backend_spark.operators.graph import pagerank

    monkeypatch.setattr(onetask, "_LOCAL_ROWS", -1)

    edges = spark.createDataFrame(
        [("a", "b"), ("c", "b"), ("b", "a"), ("b", "c"), ("a", "c")],
        "src string, dst string",
    )
    # materialize=False exposes the lazy loop plan for inspection
    # (the default eagerly checkpoints, which flattens the returned
    # plan to a scan regardless of checkpoint_every)
    plain = pagerank(edges, iterations=20, materialize=False)
    cut = pagerank(edges, iterations=20, checkpoint_every=5, materialize=False)
    deep = plain._jdf.queryExecution().analyzed().toString()
    shallow = cut._jdf.queryExecution().analyzed().toString()
    # 20 chained join+agg rounds vs the ≤5 rounds after the last cut
    assert deep.count("Join") >= 4 * shallow.count("Join") > 0
    assert {r.node: r.rank_scaled for r in cut.collect()} == {
        r.node: r.rank_scaled for r in plain.collect()
    }


def test_ppr_checkpoint_bounds_plan_depth(spark, monkeypatch):
    """personalized_pagerank mirrors pagerank's checkpoint_every: at 20
    iterations the un-checkpointed lazy plan grows O(iterations) deep
    while checkpoint_every=5 stays bounded — integer ranks identical,
    including via the default materialized path. Runs the distributed
    loop, as the pagerank test does."""
    from datalake_backend_spark.core import onetask
    from datalake_backend_spark.operators.graph import personalized_pagerank

    monkeypatch.setattr(onetask, "_LOCAL_ROWS", -1)

    edges = spark.createDataFrame(
        [("a", "b"), ("c", "b"), ("b", "a"), ("b", "c"), ("a", "c")],
        "src string, dst string",
    )
    srcs = spark.createDataFrame([("a",)], "node string")
    plain = personalized_pagerank(edges, srcs, iterations=20, materialize=False)
    cut = personalized_pagerank(
        edges, srcs, iterations=20, checkpoint_every=5, materialize=False
    )
    deep = plain._jdf.queryExecution().analyzed().toString()
    shallow = cut._jdf.queryExecution().analyzed().toString()
    assert deep.count("Join") >= 4 * shallow.count("Join") > 0
    want = {r.node: r.rank_scaled for r in plain.collect()}
    assert {r.node: r.rank_scaled for r in cut.collect()} == want
    # default path (eager checkpoint + unpersist) computes the same ranks
    dflt = personalized_pagerank(edges, srcs, iterations=20)
    assert {r.node: r.rank_scaled for r in dflt.collect()} == want


def test_graph_ops_release_cached_frames(spark, monkeypatch):
    """All four graph operators persist their edge (and node/frontier)
    frames internally; with the default materialize=True they must
    unpersist them on exit — a long-lived session running graph queries
    repeatedly must not accumulate pinned executor storage. Holds on
    the one-task path and on the distributed loop."""
    from pyspark import StorageLevel

    from datalake_backend_spark.core import onetask
    from datalake_backend_spark.operators.graph import (
        bfs_hops,
        pagerank,
        personalized_pagerank,
        triangle_count,
    )

    srcs = spark.createDataFrame([("a",)], "node string")

    def fresh():
        return spark.createDataFrame(
            [("a", "b"), ("b", "c"), ("a", "c"), ("c", "a")],
            "src string, dst string",
        )

    calls = (
        lambda e: pagerank(e, iterations=2),
        lambda e: bfs_hops(e, srcs, max_hops=2),
        lambda e: triangle_count(e),
        lambda e: personalized_pagerank(e, srcs, iterations=2),
    )
    for local_rows in (onetask._LOCAL_ROWS, -1):  # one task, then distributed
        monkeypatch.setattr(onetask, "_LOCAL_ROWS", local_rows)
        for call in calls:
            e = fresh()
            assert call(e).count() > 0
            # the caller's frame was persisted inside; it must be released
            assert e.storageLevel == StorageLevel.NONE


def test_ppr_empty_sources_raises(spark):
    """An empty seed set would make every teleport term `scale div 0`
    → NULL, silently yielding meaningless all-NULL ranks; the operator
    must fail fast instead (mirrors the teleport_pct validation)."""
    import pytest as _pytest

    from datalake_backend_spark.operators.graph import personalized_pagerank

    edges = spark.createDataFrame([("a", "b")], "src string, dst string")
    empty = spark.createDataFrame([], "node string")
    with _pytest.raises(ValueError, match="non-empty sources"):
        personalized_pagerank(edges, empty)


def test_bfs_hops_min_distance(spark):
    """Bounded BFS (operators/graph.py:bfs_hops; oracle twin r147): a
    path graph with a shortcut — hop must be the MINIMUM distance, the
    depth bound truncates, and unreachable nodes are absent."""
    from datalake_backend_spark.operators.graph import bfs_hops

    edges = spark.createDataFrame(
        [
            ("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"),
            ("a", "c"),  # shortcut: c is 1 hop, not 2
            ("x", "y"),  # disconnected
        ],
        "src string, dst string",
    )
    srcs = spark.createDataFrame([("a",)], "node string")
    out = {r.node: r.hop for r in bfs_hops(edges, srcs, max_hops=3).collect()}
    assert out == {"a": 0, "b": 1, "c": 1, "d": 2, "e": 3}
    # depth bound: e (distance 3) drops when max_hops=2
    out2 = {r.node: r.hop for r in bfs_hops(edges, srcs, max_hops=2).collect()}
    assert out2 == {"a": 0, "b": 1, "c": 1, "d": 2}


def test_triangle_count_vs_brute_force(spark):
    """Triangle counting (operators/graph.py:triangle_count; oracle
    twin r169): degree-ordered orientation counts every triangle
    exactly once — per-node counts equal the brute-force enumeration
    on a random graph, with duplicate/reversed/self-loop edges
    tolerated."""
    import itertools
    import random

    from datalake_backend_spark.operators.graph import triangle_count

    random.seed(11)
    edges = set()
    while len(edges) < 80:
        a, b = random.sample(range(20), 2)
        edges.add((a, b))
    noisy = list(edges) + [(b, a) for a, b in list(edges)[:10]] + [(3, 3)]
    edf = spark.createDataFrame(noisy, "src long, dst long")
    got = {r.node: r.n_triangles for r in triangle_count(edf).collect()}

    und = {tuple(sorted(e)) for e in edges}
    adj: dict[int, set] = {n: set() for n in range(20)}
    for u, v in und:
        adj[u].add(v)
        adj[v].add(u)
    exp: dict[int, int] = {}
    for u, v, w in itertools.combinations(range(20), 3):
        if v in adj[u] and w in adj[u] and w in adj[v]:
            for n in (u, v, w):
                exp[n] = exp.get(n, 0) + 1
    assert got == exp


def test_personalized_pagerank_mass_at_sources(spark):
    """PPR (operators/graph.py:personalized_pagerank; oracle twin
    r170): matches the integer reference loop; unreached nodes keep
    rank 0; sources dominate their own neighborhoods."""
    from datalake_backend_spark.operators.graph import (
        personalized_pagerank,
    )

    # two components: 0-1-2 (source side) and 8-9 (never reached)
    edges = [(0, 1), (1, 2), (2, 0), (8, 9)]
    edf = spark.createDataFrame(edges, "src long, dst long")
    sdf = spark.createDataFrame([(0,)], "node long")
    got = {
        r.node: r.rank_scaled
        for r in personalized_pagerank(edf, sdf, iterations=3).collect()
    }
    scale, tp, dp = 10**12, 15, 85
    deg = {0: 1, 1: 1, 2: 1, 8: 1}
    r = {n: (scale if n == 0 else 0) for n in (0, 1, 2, 8, 9)}
    for _ in range(3):
        inflow = {n: 0 for n in r}
        for a, b in edges:
            inflow[b] += (dp * r[a]) // (100 * deg[a])
        r = {
            n: ((tp * scale) // 100 if n == 0 else 0) + inflow[n] for n in r
        }
    assert got == r
    assert got[9] == 0 and got[8] == 0  # disconnected from the seed
    assert got[0] > got[1] > 0


def test_kcore_peel_cascades_and_reports_residual_degree(spark):
    """k-core peeling (operators/graph.py:kcore_peel; oracle twin
    r187): a path hanging off a triangle peels CASCADE-style — the
    leaf's removal drops its neighbor below k next round — while the
    triangle survives with residual degree 2. Fixed-round semantics:
    1 round removes only the leaf; 3 rounds drain the whole path."""
    import pytest

    from datalake_backend_spark.operators.graph import kcore_peel

    und = [("a", "b"), ("b", "c"), ("c", "a"),  # triangle (2-core)
           ("c", "d"), ("d", "e")]              # path tail
    edges = spark.createDataFrame(
        und + [(y, x) for x, y in und], "src string, dst string"
    )
    full = {
        r.node: r.core_degree
        for r in kcore_peel(edges, k=2, rounds=3).collect()
    }
    assert full == {"a": 2, "b": 2, "c": 2}
    one_round = {
        r.node: r.core_degree
        for r in kcore_peel(edges, k=2, rounds=1).collect()
    }
    # only e (deg 1) peels in round 1; d survives with its degree
    # RECOUNTED on the filtered edges (d-e gone, d-c remains)
    assert one_round == {"a": 2, "b": 2, "c": 3, "d": 1}
    with pytest.raises(ValueError):
        kcore_peel(edges, k=0)
    with pytest.raises(ValueError):
        kcore_peel(edges, rounds=0)
