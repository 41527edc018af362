"""Geometry column helpers: bbox expansion, centers, grid keys.

Covers SURVEY §2.3 F6-F8 as plain column expressions. The per-step
trajectory math (W4) the reference computes on the driver after
``collect()`` is inlined in the vehicle and safety golds
(``pipelines/vehicle.py``, ``pipelines/safety.py``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

BBOX_FIELDS = ("bbox_x1", "bbox_y1", "bbox_x2", "bbox_y2")


def expand_bbox(df: DataFrame, bbox_col: str = "bbox", drop: bool = False) -> DataFrame:
    """``bbox: array<double>[4]`` → four scalar columns bbox_x1..bbox_y2.

    F6 (``basic_preprocessing_vehicle.py:90-97``, repeated in all 8
    processors). ``element_at`` is 1-indexed and null-safe on short or
    null arrays.
    """
    out = df.select(
        "*",
        *[
            F.element_at(F.col(bbox_col).cast("array<double>"), i + 1).alias(name)
            for i, name in enumerate(BBOX_FIELDS)
        ],
    )
    return out.drop(bbox_col) if drop else out


def center_x(x1: Column, x2: Column) -> Column:
    """Bbox center (F7 — ``advanced_preprocessing_animal.py:58-65``)."""
    return (x1 + x2) / F.lit(2.0)


def center_y(y1: Column, y2: Column) -> Column:
    return (y1 + y2) / F.lit(2.0)


def with_centers(df: DataFrame) -> DataFrame:
    """Add center_x / center_y from expanded bbox columns."""
    return df.withColumns(
        {
            "center_x": center_x(F.col("bbox_x1"), F.col("bbox_x2")),
            "center_y": center_y(F.col("bbox_y1"), F.col("bbox_y2")),
        }
    )


def grid_key(
    class_name: Column, cx: Column, cy: Column, cell: float = 10.0
) -> Column:
    """Spatial-bucket surrogate id ``<class>_<⌊cx/cell⌋>_<⌊cy/cell⌋>``.

    F8 — the proximity grouping the reference uses as a stand-in for a
    tracker id on untracked domains (``advanced_preprocessing_animal.py:17-28``,
    ``advanced_preprocessing_common.py:18-28``). A pure hash-partitionable
    key: grouping on it scales like any hash aggregate.
    """
    return F.concat_ws(
        "_",
        class_name,
        F.floor(cx / F.lit(cell)).cast("long").cast("string"),
        F.floor(cy / F.lit(cell)).cast("long").cast("string"),
    )


def zorder_key(*cols: Column, bits: int = 16) -> Column:
    """Morton (Z-order) interleave of n ≥ 2 non-negative ``bits``-wide
    integers into one clustering key: points close in every dimension
    land close on the key, so sorting a table by it before writing
    makes min/max-statistics file skipping effective for ALL dimensions
    at once (the plain-parquet version of a table format's ``ZORDER
    BY`` — one sort, multi-column pruning). Bit j of column i lands at
    position ``j*n + i`` (column order = bit significance order), and
    ``bits * n`` must fit a signed 64-bit long (≤ 63).

    Pure column arithmetic (shift/mask bit spreading, no UDF), exactly
    reproducible in any engine with 64-bit integer ops — the r89 oracle
    recomputes it in DuckDB. Inputs are masked to ``bits`` wide; for
    floats/doubles, pre-quantize to a grid (e.g. ``floor(lon*1e4)``).
    The two-column case keeps the O(log bits) magic-number spread;
    n ≥ 3 uses the per-bit stride-n form (3·bits·n fused long ops —
    still whole-stage-codegen column math, no Python in the loop).
    """
    n = len(cols)
    if n < 2:
        raise ValueError("zorder_key needs at least 2 columns")
    if bits < 1 or bits * n > 63:
        raise ValueError(
            f"bits*n must fit a signed long: bits={bits}, n={n} "
            f"(need bits*n <= 63)"
        )
    if n == 2:
        if bits > 16:
            raise ValueError("2-column zorder_key interleaves up to 16 bits")

        def spread(c: Column) -> Column:
            # insert a 0 between consecutive bits: 16 bits → 32 bits
            c = c.bitwiseAND(F.lit((1 << bits) - 1))
            c = (c.bitwiseOR(F.shiftleft(c, 8))).bitwiseAND(F.lit(0x00FF00FF))
            c = (c.bitwiseOR(F.shiftleft(c, 4))).bitwiseAND(F.lit(0x0F0F0F0F))
            c = (c.bitwiseOR(F.shiftleft(c, 2))).bitwiseAND(F.lit(0x33333333))
            c = (c.bitwiseOR(F.shiftleft(c, 1))).bitwiseAND(F.lit(0x55555555))
            return c

        x64 = spread(cols[0].cast("long"))
        y64 = spread(cols[1].cast("long"))
        return x64.bitwiseOR(F.shiftleft(y64, 1)).alias("zkey")
    out: Column | None = None
    for i, col in enumerate(cols):
        c = col.cast("long").bitwiseAND(F.lit((1 << bits) - 1))
        for j in range(bits):
            bit = F.shiftleft(
                F.shiftright(c, j).bitwiseAND(F.lit(1)), j * n + i
            )
            out = bit if out is None else out.bitwiseOR(bit)
    assert out is not None
    return out.alias("zkey")


def radius_join(
    left: DataFrame,
    right: DataFrame,
    radius: int,
    left_xy: tuple[str, str] = ("x", "y"),
    right_xy: tuple[str, str] = ("x", "y"),
) -> DataFrame:
    """Spatial radius join on INTEGER coordinates: every (left, right)
    pair within Euclidean distance ``radius``, found with grid
    blocking + exact refine — never a cross join. The left side
    explodes into its own cell plus the 8 neighbors (any point within
    ``radius`` of it lives in one of those cells when the cell width
    IS the radius), the equi-join on cell keys prunes the space, and
    the integer predicate ``dx² + dy² ≤ radius²`` refines exactly —
    no floats, no sqrt, so the pair set is engine-independent.

    Scale shape: candidates = one equi-join on (cx, cy) after a 9×
    explode of the (usually smaller) left side; density decides the
    candidate count, the join never materializes the cross product.
    Output: every left column, every right column, plus ``dist2``.
    When a right coordinate column name collides with a left column
    (e.g. both sides use the default ``("x", "y")``), the right
    column is suffixed ``_r`` in the output so references stay
    unambiguous.
    """
    if radius < 1:
        raise ValueError("radius must be >= 1")
    lx, ly = left_xy
    rx, ry = right_xy
    # the join output would make F.col(rx) ambiguous whenever the
    # right coordinate name also exists on the left — alias the
    # right side up front so the refine predicate always resolves
    left_cols = set(left.columns)
    out_rx = f"{rx}_r" if rx in left_cols else rx
    out_ry = f"{ry}_r" if ry in left_cols else ry
    right = right.withColumnRenamed(rx, out_rx).withColumnRenamed(ry, out_ry)
    rx, ry = out_rx, out_ry
    r2 = radius * radius
    neigh = F.array(*[F.lit(d) for d in (-1, 0, 1)])
    lhs = (
        left.withColumn("_dx", F.explode(neigh))
        .withColumn("_dy", F.explode(neigh))
        .withColumn("_cx", F.expr(f"{lx} div {radius} + _dx"))
        .withColumn("_cy", F.expr(f"{ly} div {radius} + _dy"))
        .drop("_dx", "_dy")
    )
    rhs = right.withColumn(
        "_cx", F.expr(f"{rx} div {radius}")
    ).withColumn("_cy", F.expr(f"{ry} div {radius}"))
    return (
        lhs.join(rhs, ["_cx", "_cy"])
        .withColumn(
            "dist2",
            (F.col(lx) - F.col(rx)) * (F.col(lx) - F.col(rx))
            + (F.col(ly) - F.col(ry)) * (F.col(ly) - F.col(ry)),
        )
        .where(F.col("dist2") <= F.lit(r2))
        .drop("_cx", "_cy")
    )


def bbox_join(
    points: DataFrame,
    boxes: DataFrame,
    cell: int,
    point_xy: tuple[str, str] = ("x", "y"),
    box_bounds: tuple[str, str, str, str] = ("x_min", "y_min", "x_max", "y_max"),
) -> DataFrame:
    """Point-in-rectangle containment join on INTEGER coordinates —
    the 2D generalization of ``operators/range_join.py``'s 1D
    point-in-interval plan, and the complement of :func:`radius_join`
    (distance): geofences, map-tile assignment, detection-in-zone
    audits. Each BOX explodes to every grid cell it covers
    (explosion = area/cell² — pick ``cell`` ≈ the median box extent so
    it stays O(1)); each POINT maps to exactly ONE cell; the (cx, cy)
    equi-join prunes space and the exact closed-interval predicate
    ``x_min ≤ x ≤ x_max AND y_min ≤ y ≤ y_max`` refines — all BIGINT,
    never a cross join, engine-exact.

    Box coordinate columns colliding with point columns get the
    ``_r`` suffix, mirroring :func:`radius_join`'s rule.
    """
    if cell < 1:
        raise ValueError("cell must be >= 1")
    px, py = point_xy
    cols = set(points.columns)
    renames = {}
    for c in box_bounds:
        if c in cols:
            renames[c] = f"{c}_r"
    boxes = boxes.withColumnsRenamed(renames)
    x0, y0, x1, y1 = (renames.get(c, c) for c in box_bounds)
    b = boxes.withColumn(
        "_cx", F.explode(F.sequence(F.expr(f"{x0} div {cell}"), F.expr(f"{x1} div {cell}")))
    ).withColumn(
        "_cy", F.explode(F.sequence(F.expr(f"{y0} div {cell}"), F.expr(f"{y1} div {cell}")))
    )
    p = points.withColumn("_cx", F.expr(f"{px} div {cell}")).withColumn(
        "_cy", F.expr(f"{py} div {cell}")
    )
    return (
        p.join(b, ["_cx", "_cy"])
        .where(
            (F.col(px) >= F.col(x0))
            & (F.col(px) <= F.col(x1))
            & (F.col(py) >= F.col(y0))
            & (F.col(py) <= F.col(y1))
        )
        .drop("_cx", "_cy")
    )


def nearest_within_radius(
    left: DataFrame,
    right: DataFrame,
    radius: int,
    left_id: str,
    right_id: str,
    left_xy: tuple[str, str] = ("x", "y"),
    right_xy: tuple[str, str] = ("x", "y"),
) -> DataFrame:
    """Nearest-neighbor join with a radius bound: for every left
    point, the single closest right point within Euclidean distance
    ``radius`` (ties broken by smallest ``right_id``), or no row if
    none is in range — "nearest depot to each customer", "closest
    sensor to each detection". The radius bound is what makes the
    problem blockable: the true nearest neighbor within ``radius``
    provably lives in the 3×3 grid neighborhood :func:`radius_join`
    probes (cell width = radius), so candidate generation is an
    equi-join, NEVER a cross product, and the argmin refine is one
    hash aggregate over candidates with an integer ``dist2`` key —
    fully deterministic, no floats until nothing is left to compare.

    Output: ``left_id``, ``nearest_<right_id>``, ``dist2``.
    """
    # radius_join only disambiguates the coordinate columns; the id
    # column must be aliased HERE when it collides with a left column,
    # or the argmin below would reference a non-existent (or
    # ambiguous) name (same discipline as asof_nearest's explicit
    # right-side aliasing).
    out_rid = right_id
    if right_id in set(left.columns):
        out_rid = f"{right_id}_r"
        right = right.withColumnRenamed(right_id, out_rid)
    cand = radius_join(left, right, radius, left_xy, right_xy)
    best = F.min(F.struct(F.col("dist2"), F.col(out_rid))).alias("_best")
    return (
        cand.groupBy(left_id)
        .agg(best)
        .select(
            left_id,
            F.col("_best").getField(out_rid).alias(f"nearest_{right_id}"),
            F.col("_best").getField("dist2").alias("dist2"),
        )
    )


def point_in_convex_polygon(
    x: Column, y: Column, vertices: list[tuple[int, int]]
) -> Column:
    """Boolean containment test of integer point (x, y) in a CLOSED
    convex polygon given as counter-clockwise integer ``vertices``
    (boundary counts as inside): the half-plane test — the point is
    inside iff the cross product ``(v2−v1) × (p−v1)`` is ≥ 0 for
    every edge. Pure integer arithmetic (BIGINT products), so the
    predicate is engine-exact; as a Column expression it inlines
    into whole-stage codegen and pushes through any filter — no UDF,
    no geometry library. Convexity is the caller's contract (a
    concave ring needs the ray-cast variant); ≥3 vertices required.
    """
    if len(vertices) < 3:
        raise ValueError("polygon needs at least 3 vertices")
    cond = F.lit(True)
    n = len(vertices)
    for i in range(n):
        x1, y1 = vertices[i]
        x2, y2 = vertices[(i + 1) % n]
        cross = F.lit(x2 - x1) * (y - F.lit(y1)) - F.lit(y2 - y1) * (
            x - F.lit(x1)
        )
        cond = cond & (cross >= 0)
    return cond


def with_hilbert_key(
    df: DataFrame,
    x_col: str,
    y_col: str,
    order: int = 8,
    out_col: str = "hkey",
) -> DataFrame:
    """Hilbert-curve index of integer points in [0, 2^order)² — the
    locality-preserving layout key that beats :func:`zorder_key`'s
    Morton interleave on range-scan locality (no quadrant jumps):
    sort/cluster a 100 TB table by this and nearby points land in the
    same files, so spatial predicates prune. Standard quadrant-
    rotation recurrence (Hamilton's d2xy family, public domain);
    ``order`` rounds, each one PROJECTED as real columns — building
    it as one nested Column would duplicate the subtree ~3× per
    round (3^order nodes), while the chained select keeps the plan
    linear. All-integer and engine-exact; the r258 twin walks the
    identical per-round CTE chain."""
    if not 1 <= order <= 31:
        raise ValueError("order must be in [1, 31]")
    out = df.withColumn("_hx", F.col(x_col).cast("long")).withColumn(
        "_hy", F.col(y_col).cast("long")
    ).withColumn("_hd", F.lit(0).cast("long"))
    for i in range(order - 1, -1, -1):
        s = 1 << i
        rx = F.when(F.col("_hx").bitwiseAND(F.lit(s)) > 0, 1).otherwise(0)
        ry = F.when(F.col("_hy").bitwiseAND(F.lit(s)) > 0, 1).otherwise(0)
        out = (
            out.withColumn("_rx", rx)
            .withColumn("_ry", ry)
            # (3·rx) XOR ry spelled as a CASE so both engines share
            # one arithmetic dialect: (0,0)→0 (0,1)→1 (1,1)→2 (1,0)→3
            .withColumn(
                "_hd",
                F.col("_hd")
                + F.lit(s) * F.lit(s) * (
                    F.when((F.col("_rx") == 0) & (F.col("_ry") == 0), 0)
                    .when((F.col("_rx") == 0) & (F.col("_ry") == 1), 1)
                    .when((F.col("_rx") == 1) & (F.col("_ry") == 1), 2)
                    .otherwise(3)
                ),
            )
            # rotate: if ry=0 {if rx=1 {x,y = s-1-x, s-1-y}; swap}
            .withColumn(
                "_nx",
                F.when(
                    F.col("_ry") == 0,
                    F.when(
                        F.col("_rx") == 1, F.lit(s - 1) - F.col("_hy")
                    ).otherwise(F.col("_hy")),
                ).otherwise(F.col("_hx")),
            )
            .withColumn(
                "_ny",
                F.when(
                    F.col("_ry") == 0,
                    F.when(
                        F.col("_rx") == 1, F.lit(s - 1) - F.col("_hx")
                    ).otherwise(F.col("_hx")),
                ).otherwise(F.col("_hy")),
            )
            .withColumn("_hx", F.col("_nx"))
            .withColumn("_hy", F.col("_ny"))
            .drop("_nx", "_ny", "_rx", "_ry")
        )
    return out.withColumn(out_col, F.col("_hd")).drop("_hx", "_hy", "_hd")
