"""One-task solves for small graphs.

The iterative graph operators (``operators.graph``) and connected
components (``datapipe.dedup.cluster_near_dups``) run as driver-side
loops that issue one Spark job per shuffle per round. On a graph of a
few hundred thousand edges those jobs are almost all scheduling: the
data is tiny and every round waits on the last. McSherry et al.,
"Scalability! But at what COST?" (HotOS 2015), make the general point:
below some size one thread beats any number of scheduled rounds.

:func:`one_task` is the small-graph path. It tags each of an operator's
input frames with its name, unions them, coalesces the union to ONE
partition (no shuffle) and runs a plain-Python solver over every row in
that single task with ``mapInArrow``. The solvers below run the SAME
integer algorithm as the distributed loops, step for step, so both
paths return the same rows (including duplicate edges, self-loops and
seeds outside the edge set). The data never visits the driver, and
``mapInArrow`` moves Arrow batches whatever the session's Arrow conf
says. Arrow rather than pandas: a nullable BIGINT column arrives in
pandas as float64, which is not exact above 2**53.

Operators take this path when their edge frame has at most
:data:`_LOCAL_ROWS` rows; above it they run their distributed loop
unchanged. The row count is one :func:`count_rows` job, which also
fills the edge cache the distributed loop reads.

This module imports nothing from the package and is pickled BY VALUE,
so Python workers run the solvers without importing
``datalake_backend_spark``: they work from any working directory and on
executors that never had the package installed.
"""

from __future__ import annotations

import sys
from collections import Counter

from pyspark import cloudpickle
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

#: Largest edge frame (rows) solved in one task. Measured on 4 vCPUs,
#: best of 3 per row: at 97k edge rows (the sf0.01 co-purchase graph)
#: one task takes 0.9-1.4 s where the distributed loops take 1.7-3.2 s;
#: at 1.17M rows (sf0.1) one task is still faster for pagerank (7.3 vs
#: 8.9 s), BFS and k-core, even for personalized pagerank, and slower
#: for bounded SSSP (8.9 vs 6.1 s). The crossover is near 1M rows there
#: and lower on a host with more cores, hence the margin: sf0.01 takes
#: this path, sf0.1 the distributed loops.
_LOCAL_ROWS = 250_000


def fits_one_task(rows: int) -> bool:
    """True when an edge frame of ``rows`` rows takes the one-task path."""
    return rows <= _LOCAL_ROWS


def count_rows(df: DataFrame) -> int:
    """``df``'s row count in ONE Spark job: the RDD count of its
    executed plan, which also fills a pending ``persist()`` of ``df``.
    Under AQE ``DataFrame.count()`` on a persisted frame runs three
    (cache fill, partial-count map stage, final result)."""
    return df._jdf.queryExecution().toRdd().count()


def one_task(
    inputs: dict[str, DataFrame], solve, schema: StructType, **params
) -> DataFrame:
    """Run ``solve`` once over all rows of ``inputs`` in a single task.

    ``solve`` gets one dict per input name, mapping each column name to
    the list of its values (None for NULL), plus ``params``; it returns
    a dict mapping each ``schema`` field name to a list of values.
    Lazy: the solve runs when the result is acted on."""
    names = list(inputs)
    cols = {name: inputs[name].columns for name in names}
    tagged = None
    for i, name in enumerate(names):
        part = inputs[name].select(
            F.lit(i).alias("_in"),
            *[F.col(c).alias(f"{name}__{c}") for c in cols[name]],
        )
        tagged = part if tagged is None else tagged.unionByName(
            part, allowMissingColumns=True
        )
    out_schema = to_arrow_schema(schema)

    def run(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        batches = list(batches)
        table = pa.Table.from_batches(batches) if batches else None
        got = {}
        for i, name in enumerate(names):
            rows = None if table is None else table.filter(pc.equal(table["_in"], i))
            got[name] = {
                c: [] if rows is None else rows[f"{name}__{c}"].to_pylist()
                for c in cols[name]
            }
        yield pa.RecordBatch.from_pydict(solve(got, **params), schema=out_schema)

    return tagged.coalesce(1).mapInArrow(run, schema)


# --- solvers: each mirrors its distributed loop's join/NULL semantics ---


def rank_rows(t, iterations, scale, teleport_pct, seeded):
    """Integer PageRank (``seeded=False``) or personalized PageRank
    over ``t["edges"]`` (src, dst), teleporting to ``t["sources"]``."""
    src, dst = t["edges"]["src"], t["edges"]["dst"]
    damping = 100 - teleport_pct
    deg = dict.fromkeys(dst, 0)
    for s in src:
        deg[s] = deg.get(s, 0) + 1
    # NULL ids form their own node row but never join an edge, so they
    # neither give nor receive mass
    null_rows = [False] if None in deg else []
    deg.pop(None, None)
    if seeded:
        seeds = set(t["sources"]["node"])
        if None in seeds:
            null_rows.append(True)
            seeds.discard(None)
        for v in seeds:
            deg.setdefault(v, 0)
        n = len(seeds) + (True in null_rows)
    else:
        n = len(deg) + len(null_rows)
    if not n:
        return {"node": [], "rank_scaled": []}

    def start(is_src):
        return scale // n if is_src else 0

    def teleport(is_src):
        return (teleport_pct * scale) // (100 * n) if is_src else 0

    is_src = (lambda v: v in seeds) if seeded else (lambda v: True)
    r = {v: start(is_src(v)) for v in deg}
    for _ in range(iterations):
        inflow = dict.fromkeys(deg, 0)
        for s, d in zip(src, dst):
            if s is not None and d is not None:
                inflow[d] += (damping * r[s]) // (100 * deg[s])
        r = {v: teleport(is_src(v)) + inflow[v] for v in deg}
    tail = [
        (teleport if iterations else start)(not seeded or flag) for flag in null_rows
    ]
    return {
        "node": list(r) + [None] * len(tail),
        "rank_scaled": list(r.values()) + tail,
    }


def bfs_rows(t, max_hops):
    """Minimum hop count (≤ ``max_hops``) from ``t["sources"]``."""
    adj: dict = {}
    for s, d in zip(t["edges"]["src"], t["edges"]["dst"]):
        if s is not None:
            adj.setdefault(s, []).append(d)
    frontier = list(dict.fromkeys(t["sources"]["node"]))
    seen = set(frontier) - {None}
    node, hop = list(frontier), [0] * len(frontier)
    for k in range(1, max_hops + 1):
        nxt: dict = {}
        for u in frontier:
            for v in adj.get(u, ()):  # a NULL u has no edges in adj
                # a NULL id never matches the visited anti-join
                if v is None or v not in seen:
                    nxt[v] = None
        frontier = list(nxt)
        seen.update(frontier)
        seen.discard(None)
        node += frontier
        hop += [k] * len(frontier)
    return {"node": node, "hop": hop}


def kcore_rows(t, k, rounds):
    """Residual degree of every survivor of ``rounds`` peel rounds."""
    live = list(zip(t["edges"]["src"], t["edges"]["dst"]))
    for _ in range(rounds):
        keep = {s for s, c in Counter(s for s, _ in live).items() if c >= k}
        keep.discard(None)
        live = [(s, d) for s, d in live if s in keep and d in keep]
    deg = Counter(s for s, _ in live)
    return {"node": list(deg), "core_degree": list(deg.values())}


def sssp_rows(t, max_hops):
    """Bellman-Ford truncated to ``max_hops`` rounds with the same
    improved-frontier pruning and full-outer merge as the loop."""
    adj: dict = {}
    e = t["edges"]
    for s, d, c in zip(e["src"], e["dst"], e["cost"]):
        if s is not None:
            adj.setdefault(s, []).append((d, c))
    seeds = dict.fromkeys(t["sources"]["node"])
    # NULL-keyed rows never match the merge join: each stays its own row
    null_dists = [0] if None in seeds else []
    best = {v: 0 for v in seeds if v is not None}
    frontier = dict(best)
    for _ in range(max_hops):
        relaxed: dict = {}
        for u, du in frontier.items():
            for v, c in adj.get(u, ()):
                cand = None if du is None or c is None else du + c
                if v not in relaxed or relaxed[v] is None:
                    relaxed[v] = cand
                elif cand is not None and cand < relaxed[v]:
                    relaxed[v] = cand
        frontier = {}
        for v, cand in relaxed.items():
            if v is None:
                null_dists.append(cand)
                continue
            if v not in best or best[v] is None:
                best[v] = cand
                frontier[v] = cand
            elif cand is not None and cand < best[v]:
                best[v] = frontier[v] = cand
    return {
        "node": list(best) + [None] * len(null_dists),
        "dist": list(best.values()) + null_dists,
    }


def component_rows(t):
    """Connected components of ``t["edges"]`` (src, dst) by union-find
    with min labels: every id's cluster is its component's minimum id.
    A NULL id links nothing and keeps a NULL cluster id, as in the
    large-star/small-star path."""
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    has_null = False
    for a, b in zip(t["edges"]["src"], t["edges"]["dst"]):
        if a is None or b is None:
            has_null = True
            for x in (a, b):
                if x is not None:
                    parent.setdefault(x, x)
            continue
        ra, rb = find(parent.setdefault(a, a)), find(parent.setdefault(b, b))
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    nodes = list(parent)
    return {
        "node": nodes + [None] * has_null,
        "cluster_id": [find(x) for x in nodes] + [None] * has_null,
    }


cloudpickle.register_pickle_by_value(sys.modules[__name__])
