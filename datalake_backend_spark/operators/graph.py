"""Iterative graph algorithms as deterministic DataFrame loops.

The reference has no graph engine; this module exists because a
training-data lakehouse keeps meeting graph-shaped questions — which
suppliers anchor the purchase network, which documents sit at the
center of a near-dup cluster, which users bridge sessions. Connected
components already live in ``datapipe.dedup`` (large-star/small-star);
this module adds PageRank, the canonical fixed-point iteration.

Cross-engine exactness: float PageRank sums contributions in
shuffle-partition order, so two engines (or two runs) disagree in the
last ulps and a value-hash oracle can never pin it. The ranks here are
INTEGER-scaled (``scale`` = 1e12 by default): the update is

    r'(v) = (teleport·scale) div (100·N)
            + Σ_{u→v} (damping·r(u)) div (100·deg(u))

with BIGINT ``div`` throughout — integer sums are order-independent,
so the k-th iterate is a bit-exact, engine-independent function of the
edge list. The flooring loses < 1 unit of mass per edge per round
(≤ 5e-12 of total at default scale) — noise for ranking, determinism
for the oracle.

Scale shape: two paths, chosen only by the edge frame's row count.
Up to ``core.onetask._LOCAL_ROWS`` rows (pagerank, personalized
pagerank, BFS, k-core, bounded SSSP) the whole loop runs as ONE task:
the inputs are unioned into one partition and a plain-Python solver
runs the same integer algorithm over them (``core.onetask``) — a
handful of Spark jobs per call instead of one or more per round, and
the data still never visits the driver. Above it, the distributed loop:
per iteration ONE equi-join (ranks ⋈ edges on src) and ONE
groupBy(dst) aggregate; the node table and the 1-row node-count
aggregate are reused across iterations (scalar-totals idiom, no
``collect()``). Iterations are a fixed small constant — the loop is
driver-side control flow over lazy plans. Both paths return the same
rows with the same types. Dangling nodes (no out-edges) keep the
teleport share and simply donate nothing, the standard "removed
dangling mass" simplification.
"""

from __future__ import annotations

from functools import reduce, wraps

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import LongType, StructType

from datalake_backend_spark.core import onetask
from datalake_backend_spark.core.materialize import (
    LOOP_ROWS_PER_PART,
    checkpoint,
    parts_for,
    pin,
    scope,
)


def _right_size(df: DataFrame, key: str, n: int | None = None) -> DataFrame:
    """Right-size a PINNED loop-invariant frame to the graph, not the
    upstream partitioning (the CC-loop idiom, round-14): count it
    (materializing the cache — the loop's first iteration would pay
    that anyway), and if the frame is far smaller than its inherited
    partition count, pin it again hash-clustered on ``key`` at
    ~``LOOP_ROWS_PER_PART`` rows per partition. Every per-iteration stage
    that maps over the cache then runs |parts| tasks instead of the
    inherited count. No-op at real data sizes (:func:`parts_for`). A
    caller that has already counted ``df`` passes the count as ``n``."""
    if n is None:
        n = onetask.count_rows(df)
    cur = df.rdd.getNumPartitions()
    parts = parts_for(n, cur, LOOP_ROWS_PER_PART)
    if parts >= cur:
        return df
    return pin(df.repartition(parts, key), "graph.sized", eager=True)


def _small_graph(
    solve, value: str, edges: DataFrame, sources: DataFrame | None = None, **params
) -> DataFrame:
    """The one-task path of an iterative operator: ``solve`` (a
    ``core.onetask`` solver) over ``edges`` (``src``, ``dst`` and any
    extra columns the solver reads) and the optional ``sources``.
    Returns ``(node, <value>)`` with ``value`` BIGINT and node ids of
    the type Spark's union gives src, dst and the source ``node`` — the
    type the distributed loop returns for a graph whose src and dst
    share one type."""
    frames = {"edges": edges}
    if sources is not None:
        frames["sources"] = sources.select("node")
    id_cols = ("src", "dst", "node")
    ids = [df.select(c) for df in frames.values() for c in df.columns if c in id_cols]
    node = reduce(DataFrame.union, ids).schema[0].dataType
    inputs = {
        name: df.select(
            *[F.col(c).cast(node).alias(c) if c in id_cols else c for c in df.columns]
        )
        for name, df in frames.items()
    }
    schema = StructType().add("node", node).add(value, LongType())
    return onetask.one_task(inputs, solve, schema, **params)


def _self_contained(op):
    """Scope discipline shared by every iterative graph operator: the
    loops pin edge/node/frontier frames (re-derivation per iteration is
    the alternative). With ``materialize=True`` (the default) the
    operator runs in its own scope and its result is computed ONCE as
    an eager checkpoint owned by the CALLER's scope, so the scope's
    exit releases every intermediate and the caller gets a
    self-contained frame. ``materialize=False`` returns the lazy plan
    (plan-inspection tests, callers composing further before acting);
    its pins then belong to the caller's owner."""
    name = f"graph.{op.__name__}"

    @wraps(op)
    def run(*args, materialize: bool = True, **kwargs) -> DataFrame:
        if not materialize:
            return op(*args, **kwargs)
        with scope(name):
            return checkpoint(op(*args, **kwargs), name, outer=True)

    return run


@_self_contained
def pagerank(
    edges: DataFrame,
    iterations: int = 5,
    scale: int = 10**12,
    teleport_pct: int = 15,
    checkpoint_every: int | None = None,
) -> DataFrame:
    """Fixed-iteration integer PageRank over a directed edge list.

    ``edges`` must have string/integral columns ``src`` and ``dst``
    (pre-symmetrize for an undirected graph). Returns one row per node
    with ``rank_scaled`` — the integer rank after exactly
    ``iterations`` synchronous updates from the uniform start
    ``scale div N``.

    ``checkpoint_every=k`` cuts the lazy lineage chain with a
    ``localCheckpoint`` every k iterations: the default (None) keeps
    the whole loop one lazy DAG — correct and eager-free for the small
    fixed iteration counts the registry uses — but a long run would
    otherwise grow an O(iterations)-deep plan that bloats analysis and
    re-execution cost, the same hazard the connected-components loop in
    ``datapipe.dedup`` checkpoints against. Checkpointing changes WORK
    SCHEDULING only, never the integer ranks.

    Scale shape: an edge frame of at most ``core.onetask._LOCAL_ROWS``
    rows is ranked in ONE task (edge count, solve, checkpoint: a few
    jobs whatever ``iterations`` is; ``checkpoint_every`` is then
    moot). Larger frames run the distributed loop of the module
    docstring after that count.
    """
    if not 0 < teleport_pct < 100:
        raise ValueError("teleport_pct must be in (0, 100)")
    damping = 100 - teleport_pct
    # persist the edge table: callers derive it (join + distinct +
    # symmetrize) and the per-iteration contribution join would
    # otherwise re-execute that derivation once per iteration.
    # NOT right-sized (round-14, measured): the node/degree table is
    # derived FROM this cache, so shrinking it under-parallelizes the
    # explode+aggregate and the sizing cost outweighs the per-
    # iteration task savings (min-of-3 x3 A/B: 4.5-4.9 -> 5.2-5.5 s).
    # The size check's count doubles as the cache materializer.
    edges = pin(edges, "graph.edges")
    if onetask.fits_one_task(onetask.count_rows(edges)):
        return _small_graph(
            onetask.rank_rows,
            "rank_scaled",
            edges.select("src", "dst"),
            iterations=iterations,
            scale=scale,
            teleport_pct=teleport_pct,
            seeded=False,
        )
    # node set + out-degree in ONE aggregate (explode each edge to a
    # src row carrying 1 and a dst row carrying 0, sum per node) —
    # the union+distinct / groupBy-degree / join formulation costs
    # three shuffles for the same table
    # The DERIVED node/degree frame IS right-sized (round-15, VERDICT
    # #5): unlike the edge cache (whose sizing under-parallelized this
    # very explode+aggregate — see the note above), nodes is consumed
    # only by the per-iteration node-keyed joins, and every iteration
    # pays its cached partition count as fixed task overhead. The
    # sizing count doubles as the cache materializer; no-op at real
    # scale by construction (n // LOOP_ROWS_PER_PART exceeds the
    # inherited partition count).
    nodes = _right_size(
        pin(
            edges.select(
                F.explode(
                    F.array(
                        F.struct(F.col("src").alias("node"), F.lit(1).alias("_o")),
                        F.struct(F.col("dst").alias("node"), F.lit(0).alias("_o")),
                    )
                ).alias("_x")
            )
            .select(F.col("_x.node").alias("node"), F.col("_x._o").alias("_o"))
            .groupBy("node")
            .agg(F.sum("_o").cast("bigint").alias("deg")),
            "graph.nodes",
        ),
        "node",
    )
    ncnt = nodes.agg(F.count("*").alias("_n"))
    ranks = (
        nodes.crossJoin(F.broadcast(ncnt))
        .withColumn("r", F.expr(f"{scale}L div _n"))
        .select("node", "deg", "r")
    )
    for it in range(1, iterations + 1):
        contrib = ranks.join(edges, ranks.node == edges.src).select(
            F.col("dst").alias("node"),
            F.expr(f"({damping}L * r) div (100L * deg)").alias("c"),
        )
        inflow = contrib.groupBy("node").agg(F.sum("c").alias("inflow"))
        ranks = (
            nodes.join(inflow, "node", "left")
            .crossJoin(F.broadcast(ncnt))
            .withColumn(
                "r",
                F.expr(
                    f"({teleport_pct}L * {scale}L) div (100L * _n)"
                    " + coalesce(inflow, 0L)"
                ),
            )
            .select("node", "deg", "r")
        )
        if checkpoint_every and it % checkpoint_every == 0 and it < iterations:
            # lazy checkpoint: the first action on the result fills it
            ranks = checkpoint(ranks, "graph.ranks", eager=False)
    return ranks.select("node", F.col("r").alias("rank_scaled"))


@_self_contained
def bfs_hops(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int = 4,
) -> DataFrame:
    """Bounded-depth BFS: the minimum hop count (0..max_hops) from any
    source node to every reachable node. All-integer, so bit-exact in
    any engine; the DuckDB twin (r147) computes per-level distinct
    frontier sets and takes MIN(hop) — the anti-join pruning here
    changes WORK, never the result.

    ``sources`` must have a ``node`` column. Scale shape: an edge frame
    of at most ``core.onetask._LOCAL_ROWS`` rows (the right-sizing
    count decides) is searched in ONE task. Above it, per level
    ONE equi-join frontier⋈edges and ONE distinct, with the visited
    set pruned via left_anti so a dense graph's frontier never
    re-expands already-settled nodes (at web scale this pruning is the
    difference between |V| and Σ|paths|). Each level's frontier is
    persisted — the union chain would otherwise re-execute every prior
    join once per remaining level — and so is the EDGE table: callers
    typically derive it (join + distinct + symmetrize), and without the
    cache that derivation re-executes once per level.
    """
    edges = pin(edges, "graph.edges")
    n = onetask.count_rows(edges)
    if onetask.fits_one_task(n):
        return _small_graph(
            onetask.bfs_rows, "hop", edges.select("src", "dst"), sources,
            max_hops=max_hops,
        )
    edges = _right_size(edges, "src", n)
    frontier = pin(
        sources.select("node").distinct().withColumn("hop", F.lit(0).cast("bigint")),
        "graph.frontier",
    )
    visited = frontier
    for k in range(1, max_hops + 1):
        nxt = pin(
            frontier.join(edges, frontier.node == edges.src)
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .withColumn("hop", F.lit(k).cast("bigint")),
            "graph.frontier",
        )
        visited = visited.union(nxt)
        frontier = nxt
    return visited


@_self_contained
def triangle_count(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts over an UNDIRECTED graph (``src``/
    ``dst`` in either orientation; self-loops and duplicates dropped).
    Returns ``(node, n_triangles)`` for every node in ≥1 triangle —
    the local clustering primitive (community density, spam-graph
    detection).

    Scale shape: the classic degree-ordered orientation — canonicalize
    each edge, then point it from the (degree, node)-SMALLER endpoint
    to the larger, which turns the graph into a DAG where every
    triangle appears exactly once as a wedge u→v, v→w closed by u→w.
    The wedge join fans out by ORIENTED out-degree, bounded by
    O(sqrt(E)) per node (arboricity bound) instead of the raw max
    degree — the difference between a feasible join and a hub-squared
    explosion on power-law graphs. Three hash joins, all-integer."""
    canon = (
        edges.select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    deg = (
        canon.select(F.col("u").alias("n"))
        .union(canon.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("d"))
    )
    # orient by (degree, node): strict total order, no 2-cycles
    ranked = (
        canon.join(deg.withColumnRenamed("n", "u").withColumnRenamed("d", "du"), "u")
        .join(deg.withColumnRenamed("n", "v").withColumnRenamed("d", "dv"), "v")
    )
    fwd = F.struct("du", "u") < F.struct("dv", "v")
    # persisted: the oriented edge list is consumed THREE times (both
    # wedge sides + the closing-edge probe) — uncached, the whole
    # canon->deg->join lineage would re-execute per consumer
    arrows = pin(
        ranked.select(
            F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("a"),
            F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("b"),
        ),
        "graph.arrows",
    )
    wedges = arrows.alias("e1").join(
        arrows.alias("e2"), F.col("e1.b") == F.col("e2.a")
    ).select(
        F.col("e1.a").alias("x"), F.col("e1.b").alias("y"), F.col("e2.b").alias("z")
    )
    tris = wedges.join(
        arrows.select(F.col("a").alias("x"), F.col("b").alias("z")),
        ["x", "z"],
    )
    return (
        tris.select(F.explode(F.array("x", "y", "z")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("n_triangles"))
    )


@_self_contained
def personalized_pagerank(
    edges: DataFrame,
    sources: DataFrame,
    iterations: int = 3,
    scale: int = 10**12,
    teleport_pct: int = 15,
    checkpoint_every: int | None = None,
) -> DataFrame:
    """Personalized PageRank: identical integer update to
    :func:`pagerank`, but ALL teleport mass returns to the ``sources``
    set (uniform over it) instead of the whole graph — the random walk
    with restart that scores every node by proximity to a seed set
    (recommendation, related-entity expansion, fraud neighborhoods).

    ``sources`` must have a ``node`` column. Start: ``scale div S`` on
    each of the S sources, 0 elsewhere; per iteration each node gets
    ``teleport·scale div (100·S)`` if it is a source (else 0) plus the
    damped in-neighbor contributions. All-BIGINT div arithmetic —
    bit-exact in any engine; nodes never reached keep rank 0 and are
    still returned (the twin must too).

    Scale shape: as :func:`pagerank` — one task up to
    ``core.onetask._LOCAL_ROWS`` edge rows, the distributed loop
    above."""
    if not 0 < teleport_pct < 100:
        raise ValueError("teleport_pct must be in (0, 100)")
    damping = 100 - teleport_pct
    # fail fast on an empty seed set: `scale div _s` with _s=0 is NULL
    # in Spark, which would quietly yield all-NULL ranks instead of an
    # error (a limit-1 probe of the seed frame; emptiness needs no
    # distinct, so no shuffle)
    if sources.select("node").isEmpty():
        raise ValueError("personalized_pagerank needs a non-empty sources frame")
    edges = pin(edges, "graph.edges")  # not right-sized - see pagerank
    if onetask.fits_one_task(onetask.count_rows(edges)):
        return _small_graph(
            onetask.rank_rows,
            "rank_scaled",
            edges.select("src", "dst"),
            sources,
            iterations=iterations,
            scale=scale,
            teleport_pct=teleport_pct,
            seeded=True,
        )
    src_set = sources.select("node").distinct()
    # node set + out-degree in ONE aggregate (see pagerank), then a
    # FULL outer join with the seed set so seeds outside the edge set
    # still rank (teleport-only mass)
    # derived frame right-sized after derivation — see pagerank
    nodes = _right_size(
        pin(
            edges.select(
                F.explode(
                    F.array(
                        F.struct(F.col("src").alias("node"), F.lit(1).alias("_o")),
                        F.struct(F.col("dst").alias("node"), F.lit(0).alias("_o")),
                    )
                ).alias("_x")
            )
            .select(F.col("_x.node").alias("node"), F.col("_x._o").alias("_o"))
            .groupBy("node")
            .agg(F.sum("_o").cast("bigint").alias("deg"))
            .join(src_set.withColumn("_is_src", F.lit(1)), "node", "full")
            .withColumn("deg", F.coalesce("deg", F.lit(0)).cast("bigint"))
            .withColumn("_is_src", F.coalesce("_is_src", F.lit(0))),
            "graph.nodes",
        ),
        "node",
    )
    scnt = nodes.agg(F.sum("_is_src").alias("_s"))
    ranks = (
        nodes.crossJoin(F.broadcast(scnt))
        .withColumn(
            "r", F.expr(f"case when _is_src = 1 then {scale}L div _s else 0L end")
        )
        .select("node", "deg", "_is_src", "r")
    )
    for it in range(1, iterations + 1):
        contrib = ranks.join(edges, ranks.node == edges.src).select(
            F.col("dst").alias("node"),
            F.expr(f"({damping}L * r) div (100L * deg)").alias("c"),
        )
        inflow = contrib.groupBy("node").agg(F.sum("c").alias("inflow"))
        ranks = (
            nodes.join(inflow, "node", "left")
            .crossJoin(F.broadcast(scnt))
            .withColumn(
                "r",
                F.expr(
                    f"case when _is_src = 1 then"
                    f" ({teleport_pct}L * {scale}L) div (100L * _s)"
                    " else 0L end + coalesce(inflow, 0L)"
                ),
            )
            .select("node", "deg", "_is_src", "r")
        )
        if checkpoint_every and it % checkpoint_every == 0 and it < iterations:
            # lazy lineage cut, same discipline as pagerank
            ranks = checkpoint(ranks, "graph.ranks", eager=False)
    return ranks.select("node", F.col("r").alias("rank_scaled"))


@_self_contained
def kcore_peel(
    edges: DataFrame,
    k: int = 3,
    rounds: int = 3,
    checkpoint_every: int = 2,
) -> DataFrame:
    """k-core peeling with a FIXED round budget: repeatedly drop every
    node whose current degree is below ``k`` (and all its edges), then
    report each survivor's residual degree. The R-round peel is a
    deterministic, engine-independent function of the edge list —
    exactly like :func:`pagerank`'s fixed iterations, the bounded
    budget IS the defined semantics (full-convergence k-core is the
    fixed point; a bounded peel is the standard scalable
    approximation and converges in practice within a few rounds on
    power-law graphs). Integer degrees, no floats anywhere.

    Scale shape: an edge frame of at most ``core.onetask._LOCAL_ROWS``
    rows is peeled in ONE task. Above it, per round ONE groupBy(src)
    degree aggregate over the live edge set and TWO semi-joins
    (src-keep, dst-keep) — the keep
    set is node-sized, so AQE broadcasts it when small and
    shuffle-joins when not; the edge set never visits the driver.
    ``checkpoint_every`` truncates the growing lazy plan the same way
    the other iterative operators do.

    Expects SYMMETRIZED edges (every undirected edge present in both
    directions) so groupBy(src) counts the full degree; the engine's
    silver co-purchase table feeds it that shape.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    # NOT right-sized (round-14, measured): unlike the other loops'
    # edge tables, this frame is superseded by a NEW persisted frame
    # every round, so the sizing pass only added upfront cost
    # (min-of-3 A/B: 2.1-2.6 s -> 3.5 s with sizing). The size check's
    # count materializes the cache the first round reads.
    live = pin(edges.select("src", "dst"), "graph.live")
    if onetask.fits_one_task(onetask.count_rows(live)):
        return _small_graph(
            onetask.kcore_rows, "core_degree", live, k=k, rounds=rounds
        )
    for i in range(rounds):
        deg = live.groupBy("src").agg(F.count("*").alias("deg"))
        keep = pin(deg.where(F.col("deg") >= k).select("src"), "graph.keep")
        live = (
            live.join(keep, "src", "left_semi")
            .join(keep.select(F.col("src").alias("dst")), "dst", "left_semi")
        )
        if (i + 1) % checkpoint_every == 0 and i + 1 < rounds:
            live = checkpoint(live, "graph.live")
        live = pin(live, "graph.live")
    return live.groupBy("src").agg(F.count("*").alias("core_degree")).select(
        F.col("src").alias("node"), "core_degree"
    )


@_self_contained
def pointer_jump_roots(
    parents: DataFrame,
    max_depth: int = 32,
) -> DataFrame:
    """Resolve every node of a forest to its root AND exact depth in
    O(log depth) rounds via pointer jumping — the hierarchy-flattening
    primitive (org charts, category trees, thread ancestry, BOM
    roll-up paths). Input: ``(node, parent)`` with roots self-parented
    (``parent == node``). Output: ``(node, root, depth)``.

    The naive walk is one join per LEVEL (a 20-deep tree = 20
    shuffles); pointer jumping squares the pointer each round —
    state ``(node, anc, d)`` joins to ``anc``'s own state and becomes
    ``(node, anc', d + d')`` — so ``ceil(log2(max_depth))`` rounds
    resolve any tree of depth ≤ ``max_depth``. At 100 TB this is the
    difference between 5 shuffles and 100+: the Wyllie-style
    list-ranking recipe (JáJá, *Introduction to Parallel Algorithms*,
    §3.1), expressed as self-joins Catalyst can plan. Roots carry
    ``d = 0`` and self-loop, so converged rows are fixed points of the
    doubling step and the round count is a safe over-estimate, never a
    correctness knob below the true depth (callers pass a bound they
    can defend; the depth audit is one ``max(depth)`` away).

    All-integer, bit-exact in any engine; the r205 DuckDB twin walks
    the SAME forest with a recursive CTE — one step per level, the
    opposite algorithm — and must agree on every (root, depth) pair.

    Contract: the forest is CLOSED — every ``parent`` value appears as
    a ``node`` row (roots included, self-parented). A dangling parent
    would silently drop its subtree at the first inner join; validate
    upstream with an anti-join audit (q114-family) when ingesting
    untrusted hierarchies.
    """
    if max_depth < 1:
        raise ValueError("max_depth must be >= 1")
    rounds = max(1, (max_depth - 1).bit_length())
    state = pin(
        parents.select(
            F.col("node").cast("bigint").alias("node"),
            F.col("parent").cast("bigint").alias("anc"),
            F.when(F.col("parent") == F.col("node"), F.lit(0))
            .otherwise(F.lit(1))
            .cast("bigint")
            .alias("d"),
        ),
        "graph.state",
    )
    for _ in range(rounds):
        hop = state.select(
            F.col("node").alias("_j"),
            F.col("anc").alias("_janc"),
            F.col("d").alias("_jd"),
        )
        state = pin(
            state.join(hop, state.anc == hop._j).select(
                "node",
                F.col("_janc").alias("anc"),
                (F.col("d") + F.col("_jd")).alias("d"),
            ),
            "graph.state",
        )
    return state.select(
        "node", F.col("anc").alias("root"), F.col("d").alias("depth")
    )


@_self_contained
def bounded_sssp(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int = 4,
) -> DataFrame:
    """Single-source (or multi-source) shortest paths with INTEGER
    edge costs, bounded to ``max_hops`` relaxation rounds — the
    weighted companion of :func:`bfs_hops` (supplier closeness,
    influence radius, cheapest referral chain). Input ``edges``:
    ``(src, dst, cost)`` with non-negative integer costs; ``sources``:
    a ``node`` column (distance 0). Output: ``(node, dist)`` — the
    exact minimum cost over paths of ≤ ``max_hops`` edges, which is
    Bellman-Ford truncated to a fixed round budget: like
    :func:`kcore_peel`, the bound IS the semantics (an L-hop
    neighborhood query), so the result is a deterministic integer
    function of the edge list and the oracle can pin it bit-exactly.

    Scale shape: an edge frame of at most ``core.onetask._LOCAL_ROWS``
    rows (the right-sizing count decides) is relaxed in ONE task.
    Above it, per round ONE equi-join (current frontier ⋈ edges on
    src) + ONE ``min`` aggregate, with the frontier pruned to rows
    that IMPROVED this round — settled nodes stop generating work, so
    dense graphs converge to empty frontiers well before the bound
    (the delta-stepping observation, minus the priority buckets that
    don't map to a shuffle engine). Costs stay BIGINT throughout; no
    floats, no ties to break (min is total).
    """
    if max_hops < 1:
        raise ValueError("max_hops must be >= 1")
    edges = pin(
        edges.select("src", "dst", F.col("cost").cast("bigint").alias("cost")),
        "graph.edges",
    )
    n = onetask.count_rows(edges)
    if onetask.fits_one_task(n):
        return _small_graph(
            onetask.sssp_rows, "dist", edges, sources, max_hops=max_hops
        )
    edges = _right_size(edges, "src", n)
    best = pin(
        sources.select("node").distinct().withColumn("dist", F.lit(0).cast("bigint")),
        "graph.best",
    )
    frontier = best
    for _ in range(max_hops):
        relaxed = (
            frontier.join(edges, frontier.node == edges.src)
            .groupBy("dst")
            .agg(F.min(F.col("dist") + F.col("cost")).alias("cand"))
        )
        # ONE full-outer join merges the relaxation into the distance
        # table AND tags the improved rows — the separate
        # merged-then-rejoin-best formulation pays a second node-keyed
        # shuffle per round for the same information
        merged = pin(
            best.alias("b")
            .join(relaxed.alias("r"), F.col("b.node") == F.col("r.dst"), "full_outer")
            .select(
                F.coalesce(F.col("b.node"), F.col("r.dst")).alias("node"),
                F.when(
                    F.col("r.cand").isNull()
                    | (F.col("b.dist") <= F.col("r.cand")),
                    F.col("b.dist"),
                )
                .otherwise(F.col("r.cand"))
                .alias("dist"),
                (
                    F.col("b.dist").isNull()
                    | (F.col("r.cand") < F.col("b.dist"))
                ).alias("_improved"),
            ),
            "graph.best",
        )
        best = merged.select("node", "dist")
        # only rows whose best improved can relax their neighbors
        frontier = merged.where("_improved").select("node", "dist")
    return best


def subtree_rollup(
    parents: DataFrame,
    values: DataFrame,
    max_depth: int = 32,
    materialize: bool = True,
) -> DataFrame:
    """Hierarchical roll-up: aggregate a per-node measure to each
    tree's ROOT — org-chart headcount, BOM cost roll-up, category
    revenue totals. Composes :func:`pointer_jump_roots` (O(log depth)
    flattening) with one hash aggregate: node → root resolution, join
    the measures, groupBy(root). Where a per-LEVEL walk pays depth
    shuffles then re-aggregates, this pays ceil(log2(depth)) + 2.

    ``parents``: ``(node, parent)`` closed forest (see
    :func:`pointer_jump_roots`); ``values``: ``(node, value)`` with
    BIGINT values (floor-scale floats upstream). Output per root:
    member count, value total, and the subtree's maximum depth —
    all-integer, engine-exact.
    """
    resolved = pointer_jump_roots(
        parents, max_depth=max_depth, materialize=materialize
    )
    return (
        resolved.join(values, "node")
        .groupBy("root")
        .agg(
            F.count("*").alias("n_nodes"),
            F.sum("value").alias("subtree_total"),
            F.max("depth").alias("max_depth"),
        )
    )


def neighborhood_jaccard(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_degree: int | None = None,
    min_common: int = 1,
) -> DataFrame:
    """Node-pair similarity by neighborhood overlap: for every pair
    of src nodes sharing ≥ ``min_common`` dst neighbors, the Jaccard
    coefficient |N(a) ∩ N(b)| / |N(a) ∪ N(b)| — link prediction /
    "users who bought the same parts" / entity-blocking by shared
    attributes, over a bipartite or directed edge list.

    Plan: dedup edges, count degrees, then the WEDGE self-join —
    candidates come only from pairs co-appearing under the same dst
    (``a.src < b.src`` halves the space), one hash aggregate counts
    common neighbors, two degree joins finish. Never an all-pairs
    product: the wedge count is Σ_dst deg(dst)², so hub dsts are the
    scale hazard — ``max_degree`` drops dsts whose fan-out exceeds
    the cap (a hub shared by everyone carries no similarity signal
    anyway, the same rationale as the LSH hot-bucket cap). The drop
    is a lazy anti-join — NO eager count inside the plan builder (an
    eager ``hubs.count()`` would run the full edge scan + dedup +
    degree aggregate once just to log, then recompute the subtree at
    execution); callers who need the dropped-hub count can aggregate
    ``edges`` themselves. Jaccard = exact division of BIGINTs —
    bit-identical on any engine.
    """
    # pinned (round-15 scan audit): the deduped (optionally
    # hub-capped) edge set is consumed FOUR times — the degree
    # aggregate (referenced by both finishing joins) and both wedge
    # sides — and its subtree shuffles (distinct), so each recompute
    # was a full edge scan + dedup. deg likewise backs two joins.
    e = pin(edges.select(src, dst).distinct(), "graph.jaccard_edges")
    if max_degree is not None:
        fan = e.groupBy(dst).agg(F.count("*").alias("_fan"))
        hubs = fan.where(F.col("_fan") > max_degree)
        e = pin(e.join(hubs.select(dst), dst, "left_anti"), "graph.jaccard_edges")
    deg = pin(e.groupBy(src).agg(F.count("*").alias("_deg")), "graph.jaccard_deg")
    a = e.select(F.col(src).alias("_a"), dst)
    b = e.select(F.col(src).alias("_b"), dst)
    common = (
        a.join(b, dst)
        .where(F.col("_a") < F.col("_b"))
        .groupBy("_a", "_b")
        .agg(F.count("*").alias("common"))
        .where(F.col("common") >= min_common)
    )
    return (
        common.join(deg.select(F.col(src).alias("_a"), F.col("_deg").alias("_da")), "_a")
        .join(deg.select(F.col(src).alias("_b"), F.col("_deg").alias("_db")), "_b")
        .select(
            F.col("_a").alias("node_a"),
            F.col("_b").alias("node_b"),
            "common",
            (F.col("_da") + F.col("_db") - F.col("common")).alias("union_size"),
            (
                F.col("common").cast("double")
                / (F.col("_da") + F.col("_db") - F.col("common")).cast("double")
            ).alias("jaccard"),
        )
    )
