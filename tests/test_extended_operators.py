"""Tests for KMeans split (A15), as-of join, JSON-object restructuring (F9/F19)."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from datalake_backend_spark.core.restructure import parse_json_map
from datalake_backend_spark.operators.asof import asof_join
from datalake_backend_spark.operators.clustering import cluster_summary, kmeans_clusters


def test_kmeans_clusters_separable(spark):
    # two tight blobs far apart → k=2 must separate them
    rows = [(i, 0.0 + i * 0.1, 0.0) for i in range(5)] + [
        (10 + i, 100.0 + i * 0.1, 100.0) for i in range(5)
    ]
    df = spark.createDataFrame(rows, ["id", "center_x", "center_y"])
    out = kmeans_clusters(df, ["center_x", "center_y"], k=2)
    groups = out.groupBy("cluster").agg(F.collect_set("id").alias("ids")).collect()
    sets = sorted(sorted(r.ids) for r in groups)
    assert sets == [[0, 1, 2, 3, 4], [10, 11, 12, 13, 14]]
    summary = {r.cluster: r for r in cluster_summary(out, ["center_x"]).collect()}
    assert all(r.n == 5 for r in summary.values())


def test_asof_join_backward(spark):
    ev = spark.createDataFrame(
        [(1, "u", 10.0), (2, "u", 25.0), (3, "u", 5.0), (4, "v", 50.0)],
        ["event_id", "key", "t"],
    )
    quotes = spark.createDataFrame(
        [("u", 8.0, 100.0), ("u", 20.0, 200.0), ("w", 1.0, 999.0)],
        ["key", "qt", "price"],
    )
    out = asof_join(ev, quotes, on="key", left_time="t", right_time="qt").collect()
    got = {r.event_id: r.price for r in out}
    assert got == {1: 100.0, 2: 200.0, 3: None, 4: None}


def test_asof_join_same_timestamp_inclusive(spark):
    ev = spark.createDataFrame([(1, "u", 8.0)], ["event_id", "key", "t"])
    quotes = spark.createDataFrame([("u", 8.0, 100.0)], ["key", "qt", "price"])
    out = asof_join(ev, quotes, on="key", left_time="t", right_time="qt").collect()
    assert out[0].price == 100.0  # <= semantics


def test_range_join_point_in_interval(spark):
    from datalake_backend_spark.operators.range_join import range_join

    points = spark.createDataFrame(
        [(1, "k", 5.0), (2, "k", 15.0), (3, "k", 25.0), (4, "x", 5.0)],
        ["pid", "key", "t"],
    )
    intervals = spark.createDataFrame(
        [("k", 0.0, 10.0, "a"), ("k", 4.0, 6.0, "b"), ("k", 20.0, 30.0, "c")],
        ["key", "s", "e", "label"],
    )
    out = range_join(
        points, intervals, on="key", point_time="t",
        start_col="s", end_col="e", bucket_width=5.0,
    ).collect()
    got = sorted((r.pid, r.label) for r in out)
    # t=5 ∈ [0,10) and [4,6); t=15 matches nothing; t=25 ∈ [20,30)
    assert got == [(1, "a"), (1, "b"), (3, "c")]

    left = range_join(
        points, intervals, on="key", point_time="t",
        start_col="s", end_col="e", bucket_width=5.0, how="left",
    ).collect()
    unmatched = [(r.pid, r.label) for r in left if r.label is None]
    assert sorted(unmatched) == [(2, None), (4, None)]


def test_range_join_boundary_semantics(spark):
    from datalake_backend_spark.operators.range_join import range_join

    points = spark.createDataFrame([(1, "k", 10.0)], ["pid", "key", "t"])
    intervals = spark.createDataFrame(
        [("k", 0.0, 10.0, "closed"), ("k", 10.0, 20.0, "open")],
        ["key", "s", "e", "label"],
    )
    out = range_join(
        points, intervals, on="key", point_time="t",
        start_col="s", end_col="e", bucket_width=100.0,
    ).collect()
    # [start, end): t=10 excluded from [0,10), included in [10,20)
    assert [r.label for r in out] == ["open"]


def test_parse_json_map(spark):
    df = spark.createDataFrame([('{"k": 7, "x": 1}',), (None,)], ["props"])
    out = df.select(
        parse_json_map(F.col("props"), T.LongType()).getItem("k").alias("k")
    ).collect()
    assert out[0].k == 7 and out[1].k is None


def test_snapshot_diff_minimal_changelog(spark):
    """insert/update/delete classified per key; unchanged keys absent;
    null-safe value compare (NULL→value and value→NULL are updates)."""
    from datalake_backend_spark.operators.merge import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, None), (4, "d")], "k int, v string"
    )
    new = spark.createDataFrame(
        [(1, "a"), (2, "B"), (3, "c"), (5, "e")], "k int, v string"
    )
    got = {r.k: r.op for r in snapshot_diff(old, new, ["k"]).collect()}
    assert got == {2: "update", 3: "update", 4: "delete", 5: "insert"}


def test_salted_join_equals_plain_join(spark):
    """Salting re-buckets rows but never changes the join result —
    including duplicate keys on both sides and a hot key."""
    from datalake_backend_spark.operators.skew import salted_join

    left = spark.createDataFrame(
        [(k, i) for i, k in enumerate([1] * 50 + [2, 2, 3])], "k long, lv long"
    )
    right = spark.createDataFrame(
        [(1, "x"), (1, "y"), (2, "z"), (4, "w")], "k long, rv string"
    )
    got = sorted(
        map(tuple, salted_join(left, right, "k", n_salts=4).collect())
    )
    want = sorted(map(tuple, left.join(right, "k").collect()))
    assert got == want and len(got) == 50 * 2 + 2
    # left join keeps unmatched left rows exactly once
    got_l = sorted(
        map(tuple, salted_join(left, right, "k", n_salts=4, how="left").collect())
    )
    want_l = sorted(map(tuple, left.join(right, "k", "left").collect()))
    assert got_l == want_l


def test_zorder_key_interleaves_bits(spark):
    """Morton key: known interleavings, and locality — the max key of a
    2×2 block is below the min key of the diagonally-opposite far
    block (the property min/max file skipping relies on)."""
    from datalake_backend_spark.core.geometry import zorder_key

    rows = [(0, 0), (1, 0), (0, 1), (1, 1), (2, 2), (65535, 65535)]
    df = spark.createDataFrame(rows, "x long, y long")
    got = {
        (r.x, r.y): r.zkey
        for r in df.select("x", "y", zorder_key(F.col("x"), F.col("y"))).collect()
    }
    # bit-interleave ground truth: z(x,y) interleaves x even bits, y odd
    assert got[(0, 0)] == 0
    assert got[(1, 0)] == 1
    assert got[(0, 1)] == 2
    assert got[(1, 1)] == 3
    assert got[(2, 2)] == 12
    assert got[(65535, 65535)] == (1 << 32) - 1
    block_near = [got[p] for p in [(0, 0), (1, 0), (0, 1), (1, 1)]]
    assert max(block_near) < got[(2, 2)]


def test_interval_union_merges_overlap(spark):
    """Overlapping intervals merge (no double count), gaps split
    islands, touching intervals (start == prior end) merge."""
    from datalake_backend_spark.operators.timeseries import interval_union

    rows = [
        ("a", 0, 10),
        ("a", 5, 15),   # overlaps → merged [0,15]
        ("a", 15, 20),  # touches  → still island 1 → [0,20]
        ("a", 30, 40),  # gap → island 2
        ("b", 0, 100),
        ("b", 10, 20),  # contained
    ]
    df = spark.createDataFrame(rows, "k string, s long, e long")
    got = {
        r.k: (r.covered, r.n_islands, r.span)
        for r in interval_union(df, ["k"], "s", "e").collect()
    }
    assert got["a"] == (30, 2, 40)
    assert got["b"] == (100, 1, 100)


def test_incremental_rollup_merge_equals_full(spark):
    """Folding per-batch states in any order equals the single-pass
    aggregate, including NULL values (counted out) and keys that
    appear in only one batch."""
    from datalake_backend_spark.operators.incremental import (
        finalize_rollup,
        merge_rollup_state,
        rollup_state,
    )
    from pyspark.sql import functions as F

    rows = [
        ("a", 1.5), ("a", None), ("a", -2.25), ("b", 4.0),
        ("b", 0.125), ("c", 7.75), ("d", None),
    ]
    df = spark.createDataFrame(rows, "k string, v double").withColumn(
        "i", F.monotonically_increasing_id()
    )
    full = {
        r.k: r
        for r in finalize_rollup(
            rollup_state(df, ["k"], ["v"]), ["v"]
        ).collect()
    }
    parts = [
        rollup_state(df.where(F.pmod("i", F.lit(3)) == i), ["k"], ["v"])
        for i in range(3)
    ]
    left = merge_rollup_state(
        merge_rollup_state(parts[0], parts[1], ["k"]), parts[2], ["k"]
    )
    right = merge_rollup_state(
        parts[2], merge_rollup_state(parts[1], parts[0], ["k"]), ["k"]
    )
    for merged in (left, right):
        got = {r.k: r for r in finalize_rollup(merged, ["v"]).collect()}
        assert set(got) == set(full)
        for k in full:
            for c in ("v_n", "v_sum", "v_min", "v_max", "v_avg"):
                assert got[k][c] == full[k][c], (k, c)
    # d has only NULLs: state exists, count 0, no avg
    assert full["d"].v_n == 0 and full["d"].v_avg is None


def test_approx_distinct_partition_invariant(spark):
    """HLL++ registers merge with max — the estimate must be identical
    under any partitioning, and within the error band of exact."""
    from datalake_backend_spark.operators.distributions import (
        approx_distinct_rollup,
    )
    from pyspark.sql import functions as F

    df = spark.range(0, 20_000).select(
        (F.col("id") % 7).cast("string").alias("k"),
        (F.pmod(F.hash("id"), F.lit(3000))).alias("v"),
    )
    a = {
        r.k: (r.n_exact, r.n_approx)
        for r in approx_distinct_rollup(df.repartition(1), ["k"], "v").collect()
    }
    b = {
        r.k: (r.n_exact, r.n_approx)
        for r in approx_distinct_rollup(df.repartition(16), ["k"], "v").collect()
    }
    assert a == b
    for k, (exact, approx) in a.items():
        assert abs(approx - exact) <= 0.05 * exact, (k, exact, approx)


def test_profile_table_single_pass(spark):
    """Per-column stats from ONE aggregate job; numeric min/max must
    be numeric (not lexicographic) before rendering."""
    from datalake_backend_spark.operators.distributions import profile_table

    df = spark.createDataFrame(
        [(9, "a", None), (499, "b", 1.5), (99, None, 2.5)],
        "k int, s string, v double",
    )
    prof = {r.column: r for r in profile_table(df).collect()}
    assert prof["k"].n_rows == 3 and prof["k"].n_nulls == 0
    assert prof["k"].min_str == "9" and prof["k"].max_str == "499"
    assert prof["s"].n_nulls == 1 and prof["s"].n_distinct == 2
    assert prof["v"].min_str == "1.5" and prof["v"].max_str == "2.5"


def test_heavy_hitters_exact_and_complete(spark):
    """Candidate→verify equals the plain GROUP BY ... HAVING answer,
    including the adversarial case: a value at EXACTLY the N/k bar
    spread perfectly evenly across partitions (a strict local bar
    would never nominate it)."""
    from datalake_backend_spark.operators.distributions import heavy_hitters

    # 4 partitions × 250 rows = 1000 rows; min_share 0.05 → k=20,
    # bar = 50. "edge" appears exactly 50× — uniformly, 12.5 per
    # partition is impossible, so craft via repartition by an id that
    # spreads it evenly
    rows = []
    for p in range(4):
        rows += [("edge",)] * 13 if p < 2 else [("edge",)] * 12
        rows += [("big",)] * 100
        base = 250 - (13 if p < 2 else 12) - 100
        rows += [(f"u{p}_{i}",) for i in range(base)]
    df = spark.createDataFrame(rows, "value string").repartition(4)
    got = {
        (r.value, r.cnt)
        for r in heavy_hitters(df, "value", min_share=0.05).collect()
    }
    expect = {
        (r.value, r.cnt)
        for r in df.groupBy("value")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") >= 50)  # ceil(1000 * 0.05)
        .collect()
    }
    assert got == expect
    assert ("big", 400) in got and ("edge", 50) in got

    # null values are ignored, shares are exact fractions
    df2 = spark.createDataFrame(
        [("a",)] * 6 + [(None,)] * 4 + [("b",)] * 2, "value string"
    )
    hh = {r.value: (r.cnt, r.share) for r in
          heavy_hitters(df2, "value", min_share=0.5).collect()}
    assert hh == {"a": (6, 0.75)}


def test_check_constraints_report(spark):
    """Each rule kind counts violations exactly; nulls pass value
    rules (pair with not_null); unique counts SURPLUS rows, not
    groups; fk counts orphan rows."""
    from datalake_backend_spark.operators.constraints import (
        check_constraints,
        foreign_key,
        in_range,
        in_set,
        matches,
        not_null,
        satisfies,
        unique,
    )

    df = spark.createDataFrame(
        [
            (1, 10.0, "A"),
            (1, -5.0, "B"),   # dup key, below range
            (1, None, "A"),   # dup key, null price (passes range)
            (2, 999.0, "zz"), # above range, bad code
            (None, 50.0, "A"),
        ],
        "k int, price double, code string",
    )
    ref = spark.createDataFrame([(1,)], "k int")
    rep = {
        r.rule: (r.violations, r.n_rows, r.passed)
        for r in check_constraints(
            df,
            [
                not_null("k"),
                in_range("price", lo=0, hi=100),
                in_set("code", ["A", "B"]),
                matches("code", "^[A-Z]+$"),
                satisfies("price_is_round", F.col("price").isNull() | (F.col("price") % 5 == 0)),
                unique(["k"]),
                foreign_key("k", ref, "k"),
            ],
        ).collect()
    }
    assert rep["not_null(k)"] == (1, 5, False)
    assert rep["in_range(price,0,100)"] == (2, 5, False)
    assert rep["in_set(code)"] == (1, 5, False)
    assert rep["matches(code)"] == (1, 5, False)  # "zz" fails, null absent
    assert rep["price_is_round"] == (1, 5, False)
    assert rep["unique(k)"] == (2, 5, False)  # 3 rows of key 1 → 2 surplus
    assert rep["foreign_key(k->ref.k)"] == (1, 5, False)  # key 2 orphan

    clean = spark.createDataFrame([(1, 5.0, "A")], "k int, price double, code string")
    rep2 = check_constraints(clean, [not_null("k"), unique(["k"])]).collect()
    assert all(r.passed for r in rep2)


def test_asof_join_forward_nearest_tolerance(spark):
    """merge_asof semantics: forward takes the earliest at-or-after
    match, nearest takes the smaller gap with backward tie-break, and
    tolerance nulls matches beyond the gap."""
    left = spark.createDataFrame(
        [("a", 10.0), ("a", 25.0), ("a", 100.0), ("b", 5.0)],
        "k string, t double",
    )
    right = spark.createDataFrame(
        [("a", 8.0, "r8"), ("a", 20.0, "r20"), ("a", 30.0, "r30")],
        "k string, rt double, val string",
    )

    fwd = {
        (r.k, r.t): r.val
        for r in asof_join(
            left, right, "k", "t", "rt", direction="forward"
        ).collect()
    }
    assert fwd == {
        ("a", 10.0): "r20",
        ("a", 25.0): "r30",
        ("a", 100.0): None,
        ("b", 5.0): None,
    }

    near = {
        (r.k, r.t): r.val
        for r in asof_join(
            left, right, "k", "t", "rt", direction="nearest"
        ).collect()
    }
    # t=10: gaps 2 (r8) vs 10 (r20) → r8; t=25: 5 vs 5 → backward r20
    assert near == {
        ("a", 10.0): "r8",
        ("a", 25.0): "r20",
        ("a", 100.0): "r30",
        ("b", 5.0): None,
    }

    tol = {
        (r.k, r.t): r.val
        for r in asof_join(
            left, right, "k", "t", "rt", direction="backward", tolerance=3.0
        ).collect()
    }
    assert tol == {
        ("a", 10.0): "r8",    # gap 2 ≤ 3 → kept
        ("a", 25.0): None,    # backward match r20 has gap 5 > 3 → nulled
        ("a", 100.0): None,
        ("b", 5.0): None,
    }

    # exact same-timestamp row matches in BOTH directions
    same = spark.createDataFrame([("a", 20.0)], "k string, t double")
    for d in ("backward", "forward", "nearest"):
        got = asof_join(same, right, "k", "t", "rt", direction=d).collect()[0]
        assert got.val == "r20", d

    import pytest as _pytest

    with _pytest.raises(ValueError):
        asof_join(left, right, "k", "t", "rt", direction="sideways")


def test_bucketize_by_quantiles(spark):
    """Quartiles of 1..8: boundary ties sink to the lower bucket;
    global and keyed modes agree with hand-computed boundaries."""
    from datalake_backend_spark.operators.distributions import (
        bucketize_by_quantiles,
    )

    df = spark.createDataFrame([(float(i),) for i in range(1, 9)], "v double")
    out = {r.v: r.bucket for r in bucketize_by_quantiles(df, "v", 4).collect()}
    # boundaries: p25=2.75, p50=4.5, p75=6.25
    assert out == {1.0: 0, 2.0: 0, 3.0: 1, 4.0: 1, 5.0: 2, 6.0: 2, 7.0: 3, 8.0: 3}

    keyed = spark.createDataFrame(
        [("a", float(i)) for i in range(1, 5)] + [("b", float(i * 100)) for i in range(1, 5)],
        "k string, v double",
    )
    got = {
        (r.k, r.v): r.bucket
        for r in bucketize_by_quantiles(keyed, "v", 2, keys=["k"]).collect()
    }
    # per-key medians: a→2.5, b→250
    assert got == {
        ("a", 1.0): 0, ("a", 2.0): 0, ("a", 3.0): 1, ("a", 4.0): 1,
        ("b", 100.0): 0, ("b", 200.0): 0, ("b", 300.0): 1, ("b", 400.0): 1,
    }


def test_distribution_shift_and_tv(spark):
    """Hand-computed drift: TV of identical halves is 0; a known mix
    change produces the exact fraction; one-sided values count."""
    from datalake_backend_spark.operators.distributions import (
        distribution_shift,
        total_variation,
    )

    a = spark.createDataFrame([("x",)] * 3 + [("y",)] * 1, "v string")
    b = spark.createDataFrame([("x",)] * 1 + [("z",)] * 1, "v string")
    per = {
        r.value: (r.cnt_a, r.cnt_b, r.shift_num)
        for r in distribution_shift(a, b, "v").collect()
    }
    # n_a=4, n_b=2; numerators: x |3*2-1*4|=2, y |1*2-0|=2, z |0-1*4|=4
    assert per == {"x": (3, 1, 2), "y": (1, 0, 2), "z": (0, 1, 4)}
    tv = total_variation(a, b, "v").collect()[0]
    assert tv.n_a == 4 and tv.n_b == 2 and tv.n_values == 3
    assert tv.tv_distance == (2 + 2 + 4) / (2.0 * 4 * 2)  # 0.5

    same = total_variation(a, a, "v").collect()[0]
    assert same.tv_distance == 0.0


def test_exact_corr_matches_native(spark):
    """The integer-moment corr lands within quantization error of
    native corr, is exact ±1 on perfectly correlated data, and is
    partition-invariant (native corr is not guaranteed to be)."""
    from datalake_backend_spark.operators.distributions import exact_corr

    rows = [(float(i), float(2 * i + 1)) for i in range(100)]
    df = spark.createDataFrame(rows, "x double, y double")
    r = exact_corr(df, "x", "y").collect()[0]
    assert abs(r.corr - 1.0) < 1e-9 and r.n == 100

    anti = spark.createDataFrame(
        [(float(i), float(-3 * i)) for i in range(50)], "x double, y double"
    )
    assert abs(exact_corr(anti, "x", "y").collect()[0].corr + 1.0) < 1e-9

    import random

    random.seed(7)
    noisy = spark.createDataFrame(
        [(random.random() * 10, random.random() * 10) for _ in range(500)],
        "x double, y double",
    )
    ours = exact_corr(noisy, "x", "y").collect()[0].corr
    native = noisy.select(F.corr("x", "y")).collect()[0][0]
    assert abs(ours - native) < 1e-3  # quantization-level agreement
    again = exact_corr(noisy.repartition(13), "x", "y").collect()[0].corr
    assert again == ours  # bit-identical under any partitioning


def test_group_ols_exact_line(spark):
    """OLS (operators/distributions.py:group_ols; oracle twin r159):
    a perfect line must recover slope/intercept exactly with r2 = 1;
    results are bit-identical under any partitioning."""
    from datalake_backend_spark.operators.distributions import group_ols

    pts = [("g", float(x), 3.0 * x + 7.0) for x in range(1, 21)]
    df = spark.createDataFrame(pts, "k string, x double, y double")
    row = group_ols(df, "x", "y", keys=["k"]).collect()[0]
    assert row.n == 20
    assert abs(row.slope - 3.0) < 1e-9
    assert abs(row.intercept - 7.0) < 1e-9
    assert abs(row.r2 - 1.0) < 1e-12
    again = group_ols(df.repartition(7), "x", "y", keys=["k"]).collect()[0]
    assert (again.slope, again.intercept, again.r2) == (
        row.slope, row.intercept, row.r2,
    )


def test_chi_square_contingency_known_table(spark):
    """Chi-square (operators/distributions.py:chi_square_contingency;
    oracle twin r160): an exactly independent 2x2 table scores ~0 in
    every cell; a perfectly dependent one scores ~scale x T per row
    block. All integer — verified against the closed-form python
    computation."""
    from datalake_backend_spark.operators.distributions import (
        chi_square_contingency,
    )

    # independent: P(row, col) = P(row)P(col); o = r*c/T exactly
    indep = (
        [("a", "x")] * 20 + [("a", "y")] * 20
        + [("b", "x")] * 30 + [("b", "y")] * 30
    )
    df = spark.createDataFrame(indep, "rk string, ck string")
    out = {r.rk: r for r in chi_square_contingency(df, "rk", "ck").collect()}
    assert out["a"].chi2_part_scaled == 0 and out["b"].chi2_part_scaled == 0
    assert out["a"].n_cells == 2 and out["a"].n_total == 100

    # dependent: row fully determines column
    dep = [("a", "x")] * 50 + [("b", "y")] * 50
    df2 = spark.createDataFrame(dep, "rk string, ck string")
    got = {r.rk: r.chi2_part_scaled
           for r in chi_square_contingency(df2, "rk", "ck").collect()}

    def term(o, r, c, t, s=10**6):
        return (o * t - r * c) ** 2 // max(1, (r * c * t) // s)

    exp = term(50, 50, 50, 100)
    assert got == {"a": exp, "b": exp}


def test_chi_square_contingency_past_int64_square(spark):
    """Regression: the (o*t - r*c)^2 term is Theta(T^4) — a dependent
    2x2 table at T=200k wrapped signed-64 under the old pure-BIGINT
    expression (square ~ 10^20 > 2^63). The decimal(38,0) accumulation
    must match the exact python integers."""
    from pyspark.sql import functions as F

    from datalake_backend_spark.operators.distributions import (
        chi_square_contingency,
    )

    n = 100_000  # per block; T = 200k
    df = spark.range(2 * n).select(
        F.when(F.col("id") < n, "a").otherwise("b").alias("rk"),
        F.when(F.col("id") < n, "x").otherwise("y").alias("ck"),
    )
    got = {r.rk: r.chi2_part_scaled
           for r in chi_square_contingency(df, "rk", "ck").collect()}

    def term(o, r, c, t, s=10**6):
        return (o * t - r * c) ** 2 // max(1, (r * c * t) // s)

    exp = term(n, n, n, 2 * n)
    # the SQUARE intermediate exceeds int64 — the old expression wrapped
    assert (n * (2 * n) - n * n) ** 2 > 2**63
    assert got == {"a": exp, "b": exp}


def test_time_weighted_avg_known_values(spark):
    """TWAP (operators/timeseries.py:time_weighted_avg; oracle twin
    r165): hand-computed holding-time weights, including a timestamp
    TIE whose pairing is pinned by the tiebreak column, and a
    single-observation group that reports NULL (no intervals)."""
    import datetime as dt

    from datalake_backend_spark.operators.timeseries import (
        time_weighted_avg,
    )

    t0 = dt.datetime(2024, 1, 1)

    def ts(sec):
        return t0 + dt.timedelta(seconds=sec)

    rows = [
        # key a: v=1.00 held 10s, v=3.00 held 30s, tail dropped
        ("a", ts(0), 1.0, 1),
        ("a", ts(10), 3.0, 2),
        ("a", ts(40), 99.0, 3),
        # key b: tie at t=0 — event_id pins (5.0 then 7.0)
        ("b", ts(0), 5.0, 4),
        ("b", ts(0), 7.0, 5),
        ("b", ts(20), 0.0, 6),
        # key c: single observation -> NULL
        ("c", ts(0), 42.0, 7),
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp, v double, eid int")
    out = {
        r.k: r
        for r in time_weighted_avg(
            df, ["k"], "ts", "v", scale=2, tiebreak=["eid"]
        ).collect()
    }
    # a: (100*10 + 300*30) / 40 = 250.0 scaled
    assert out["a"].twap_scaled == 250 and out["a"].n_obs == 3
    # b: 5.0 holds 0s (tie), 7.0 holds 20s -> 700*20/20 = 700
    assert out["b"].twap_scaled == 700
    assert out["c"].twap_scaled is None and out["c"].n_obs == 1


def test_time_weighted_avg_exact_on_rounding_knife_edge(spark):
    """Regression for the HALF_UP knife edge: Spark's decimal divide
    rounds at scale 6, so floor(_swv/_sdt) floors ONE HIGH whenever
    the true quotient is within 5e-7 below an integer. Quotient here
    is 19_999_999 / 10_000_000 = 1.9999999 → the exact TWAP is 1; the
    pre-`div` implementation returned 2."""
    import datetime as dt

    from datalake_backend_spark.operators.timeseries import (
        time_weighted_avg,
    )

    t0 = dt.datetime(2024, 1, 1)

    def ts(us):
        return t0 + dt.timedelta(microseconds=us)

    rows = [
        # scale=6: v=2e-6 → 2 units held 9_999_999 µs, then 1 unit
        # held 1 µs: swv = 2*9_999_999 + 1 = 19_999_999, sdt = 10^7
        ("k", ts(0), 2e-6, 1),
        ("k", ts(9_999_999), 1e-6, 2),
        ("k", ts(10_000_000), 0.0, 3),
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp, v double, eid int")
    out = time_weighted_avg(
        df, ["k"], "ts", "v", scale=6, tiebreak=["eid"]
    ).collect()[0]
    assert out.twap_scaled == 1


def test_set_similarity_join_exact_vs_brute(spark):
    """PPJoin-style exact Jaccard join (datapipe/dedup.py:
    set_similarity_join; oracle twin r166): the prefix filter must
    change WORK only — the pair set equals the brute-force join at
    every threshold, including docs with no qualifying partner."""
    import itertools

    from datalake_backend_spark.datapipe.dedup import set_similarity_join

    docs = [
        (0, "a b c d"),
        (1, "a b c e"),
        (2, "a b x y z"),
        (3, "p q r"),
        (4, "p q r"),
        (5, "lonely"),
        (6, ""),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    sets = {i: set(t.split()) if t else set() for i, t in docs}
    for num, den in ((1, 2), (2, 3), (1, 1)):
        got = {
            (r.id_a, r.id_b, r.n_inter, r.n_union)
            for r in set_similarity_join(df, num, den).collect()
        }
        exp = set()
        for a, b in itertools.combinations(sorted(sets), 2):
            A, B = sets[a], sets[b]
            i, u = len(A & B), len(A | B)
            if u and i * den >= num * u:
                exp.add((a, b, i, u))
        assert got == exp, (num, den)


def test_conversion_attribution_and_cohorts(spark):
    """Attribution (operators/windows.py:conversion_attribution;
    oracle twin r167): strictly-preceding frame, no-click users get
    NULL touches, tie at the conversion timestamp does not count.
    Cohorts (retention_cohorts; twin r168): day-offset triangle."""
    import datetime as dt

    from datalake_backend_spark.operators.windows import (
        conversion_attribution,
        retention_cohorts,
    )

    t0 = dt.datetime(2024, 1, 1)

    def ts(sec):
        return t0 + dt.timedelta(seconds=sec)

    rows = [
        (1, ts(0), "click", 1),
        (1, ts(10), "click", 2),
        (1, ts(20), "purchase", 3),
        (1, ts(20), "click", 4),   # tie AFTER the purchase (eid 4 > 3)
        (2, ts(5), "purchase", 5),  # no touches at all
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_type string, event_id long"
    )
    got = {
        r.user_id: r
        for r in conversion_attribution(
            ev, "user_id", "ts", "event_type", "click", "purchase",
            tiebreak=["event_id"],
        ).collect()
    }
    u1, u2 = got[1], got[2]
    base = int(t0.replace(tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
    assert u1.first_touch_us == base and u1.last_touch_us == base + 10_000_000
    assert u1.n_touches_before == 2  # the tied click at ts(20) excluded
    assert u2.first_touch_us is None and u2.n_touches_before == 0

    days = [
        (1, t0), (1, t0 + dt.timedelta(days=1)), (1, t0 + dt.timedelta(days=3)),
        (2, t0 + dt.timedelta(days=1)),
    ]
    cdf = spark.createDataFrame(days, "user_id long, ts timestamp")
    cohorts = {
        (r.cohort_day, r.day_offset): r.n_users
        for r in retention_cohorts(cdf, "user_id", "ts").collect()
    }
    d0 = base // 86_400_000_000
    assert cohorts == {(d0, 0): 1, (d0, 1): 1, (d0, 3): 1, (d0 + 1, 0): 1}


def test_sorted_neighborhood_pairs_matches_single_sort(spark):
    """ER blocking (datapipe/dedup.py:sorted_neighborhood_pairs;
    oracle twin r174): the two-phase global rank + block join must
    produce exactly the pairs within rank distance < w of a single
    total sort — verified against a driver-side computation, and
    invariant under input partitioning."""
    from datalake_backend_spark.datapipe.dedup import (
        sorted_neighborhood_pairs,
    )

    rows = [(i, f"k{(i * 7) % 13:02d}") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id bigint, blk_key string")
    w = 4
    order = sorted(rows, key=lambda r: (r[1], r[0]))
    want = {
        (order[i][0], order[j][0], j - i)
        for i in range(len(order))
        for j in range(i + 1, min(i + w, len(order)))
    }
    got = {
        (r.id_a, r.id_b, r.rank_gap)
        for r in sorted_neighborhood_pairs(df, "blk_key", window=w).collect()
    }
    assert got == want
    again = {
        (r.id_a, r.id_b, r.rank_gap)
        for r in sorted_neighborhood_pairs(
            df.repartition(7), "blk_key", window=w
        ).collect()
    }
    assert again == want


def test_sorted_neighborhood_carry_cols_passthrough(spark):
    """carry_cols rides payload columns through the blocking so
    verify stages need no re-join: each carried column comes back as
    {col}_a/{col}_b with exactly the base row's value, and the pair
    set is identical to the no-carry call (r178 relies on this for
    hash stability after dropping its two name re-joins)."""
    from datalake_backend_spark.datapipe.dedup import (
        sorted_neighborhood_pairs,
    )

    rows = [(i, f"k{(i * 7) % 13:02d}", f"name-{i}") for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id bigint, blk_key string, nm string")
    plain = {
        (r.id_a, r.id_b, r.rank_gap)
        for r in sorted_neighborhood_pairs(df, "blk_key", window=4).collect()
    }
    carried = sorted_neighborhood_pairs(
        df, "blk_key", window=4, carry_cols=["nm"]
    ).collect()
    assert {(r.id_a, r.id_b, r.rank_gap) for r in carried} == plain
    for r in carried:
        assert r.nm_a == f"name-{r.id_a}" and r.nm_b == f"name-{r.id_b}"


def test_item_cooccurrence_counts_and_caps(spark):
    """Market-basket pairs (operators/association.py:item_cooccurrence;
    oracle twin r175): distinct-item pairs per basket, support
    threshold, and the megabasket cap that drops oversized baskets
    BEFORE the quadratic self-join."""
    from datalake_backend_spark.operators.association import (
        item_cooccurrence,
    )

    rows = (
        [(1, "a"), (1, "b"), (1, "c"), (1, "a")]  # dup (1,a) collapses
        + [(2, "a"), (2, "b")]
        + [(3, "a"), (3, "c")]
        + [(4, "x"), (4, "y"), (4, "z")]  # dropped by cap below
    )
    df = spark.createDataFrame(rows, "basket int, item string")
    got = {
        (r.item_a, r.item_b): r.n_baskets
        for r in item_cooccurrence(
            df, "basket", "item", min_support=2, max_basket_items=10
        ).collect()
    }
    assert got == {("a", "b"): 2, ("a", "c"): 2}
    capped = {
        (r.item_a, r.item_b): r.n_baskets
        for r in item_cooccurrence(
            df, "basket", "item", min_support=1, max_basket_items=2
        ).collect()
    }
    # baskets 1 (3 distinct) and 4 (3 distinct) dropped by the cap
    assert capped == {("a", "b"): 1, ("a", "c"): 1}


def test_item_cooccurrence_null_semantics(spark):
    """NULL edges of the round-14 single-pass rework must match the
    original join-based formulation: a NULL basket never pairs
    (NULL = NULL is not true in the join it replaced), a NULL item
    never appears in a pair (NULL < x is never true), and a NULL item
    COUNTS toward the megabasket cap (the size filter ran on the
    distinct (basket, item) rows, null items included)."""
    from datalake_backend_spark.operators.association import (
        item_cooccurrence,
    )

    rows = [
        (None, "a"), (None, "b"),          # NULL basket: no pairs
        (1, "a"), (1, "b"), (1, None),     # null item: no pair, +1 size
        (2, "a"), (2, "b"),
    ]
    df = spark.createDataFrame(rows, "basket int, item string")
    got = {
        (r.item_a, r.item_b): r.n_baskets
        for r in item_cooccurrence(
            df, "basket", "item", min_support=1, max_basket_items=10
        ).collect()
    }
    assert got == {("a", "b"): 2}
    # basket 1 holds 3 distinct items incl. NULL -> cap of 2 drops it
    capped = {
        (r.item_a, r.item_b): r.n_baskets
        for r in item_cooccurrence(
            df, "basket", "item", min_support=1, max_basket_items=2
        ).collect()
    }
    assert capped == {("a", "b"): 1}


def test_skyline_2d_matches_brute_force(spark):
    """Pareto frontier (operators/skyline.py:skyline_2d; oracle twin
    r179): exact dominance semantics vs a driver-side brute force —
    ties on one axis, exact-duplicate points, and partitioning
    invariance (the local prune is a frontier superset)."""
    from datalake_backend_spark.operators.skyline import skyline_2d

    pts = [(1, 9), (2, 8), (2, 8), (3, 8), (3, 2), (5, 5), (5, 1),
           (7, 3), (7, 3), (9, 1), (4, 4), (6, 2)]
    df = spark.createDataFrame(pts, "x int, y int")
    dpts = set(pts)

    def dominated(p):
        return any(
            q[0] >= p[0] and q[1] >= p[1] and q != p for q in dpts
        )

    want = {p for p in dpts if not dominated(p)}
    got = {(r.x, r.y) for r in skyline_2d(df, "x", "y").collect()}
    assert got == want
    again = {
        (r.x, r.y)
        for r in skyline_2d(df.repartition(5), "x", "y").collect()
    }
    assert again == want


def test_cusum_stats_matches_reference_recursion(spark):
    """CUSUM (operators/timeseries.py:cusum_stats; oracle twin r180):
    the cumsum − prefix-min identity must equal the textbook clamped
    recursion S_i = max(0, S_{i-1} + d_i), including peak position
    (earliest on ties) and final value."""
    import datetime as dt

    from datalake_backend_spark.operators.timeseries import cusum_stats

    t0 = dt.datetime(2024, 1, 1)
    vals = [1.0, 5.0, 2.0, 9.0, 9.0, 0.0, 0.0, 4.0]
    rows = [
        ("k", t0 + dt.timedelta(seconds=i), v, i) for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp, v double, eid int")
    out = cusum_stats(df, ["k"], "ts", "v", scale=2, tiebreak=["eid"]).collect()[0]
    n = len(vals)
    sv = [int(v * 100) for v in vals]
    tot = sum(sv)
    d = [n * x - tot for x in sv]
    s, smax, argmax = 0, 0, None
    for i, di in enumerate(d):
        s = max(0, s + di)
        if s > smax:
            smax, argmax = s, i
    assert out.n_obs == n
    assert out.max_cusum_scaled == smax
    assert out.final_cusum_scaled == s
    import calendar

    want_us = int(
        calendar.timegm((t0 + dt.timedelta(seconds=argmax)).timetuple())
    ) * 10**6
    assert out.max_at_us == want_us


def test_cuped_adjusted_matches_closed_form(spark):
    """CUPED (operators/distributions.py:cuped_adjusted; oracle twin
    r181): θ and per-arm adjusted means equal a driver-side
    recomputation from the same floor-scaled moments, and a covariate
    perfectly uncorrelated with Y leaves the means untouched."""
    import math

    from datalake_backend_spark.operators.distributions import cuped_adjusted

    rows = [
        (0, 1.5, 10.0), (0, 2.5, 14.0), (0, 4.0, 18.5),
        (1, 1.0, 11.0), (1, 3.0, 15.5), (1, 5.0, 21.0),
    ]
    df = spark.createDataFrame(rows, "arm int, x double, y double")
    out = {r.arm: r for r in cuped_adjusted(df, "arm", "x", "y", scale=4).collect()}

    f = 10**4
    sc = [(a, math.floor(x * f), math.floor(y * f),
           math.floor(x * y * f), math.floor(x * x * f)) for a, x, y in rows]
    bn = len(sc)
    gx = sum(r[1] for r in sc) / f
    gy = sum(r[2] for r in sc) / f
    gxy = sum(r[3] for r in sc) / f
    gxx = sum(r[4] for r in sc) / f
    theta = (bn * gxy - gx * gy) / (bn * gxx - gx * gx)
    for arm in (0, 1):
        arm_rows = [r for r in sc if r[0] == arm]
        n = len(arm_rows)
        sx = sum(r[1] for r in arm_rows) / f
        sy = sum(r[2] for r in arm_rows) / f
        assert out[arm].n == n
        assert out[arm].mean_y == sy / n
        assert out[arm].theta == theta
        assert out[arm].mean_y_adj == sy / n - theta * (sx / n - gx / bn)
    # zero-covariance covariate: adjustment is a no-op (θ == 0)
    flat = spark.createDataFrame(
        [(0, 1.0, 5.0), (0, 2.0, 5.0), (1, 1.0, 7.0), (1, 2.0, 7.0)],
        "arm int, x double, y double",
    )
    res = {r.arm: r for r in cuped_adjusted(flat, "arm", "x", "y").collect()}
    for arm in (0, 1):
        assert res[arm].theta == 0.0
        assert res[arm].mean_y_adj == res[arm].mean_y


def test_ecdf_percentile_exact_inclusive_rank(spark):
    """ECDF calibration (operators/distributions.py:ecdf_percentile;
    oracle twin r183): percentiles equal the driver-computed inclusive
    rank count(ref <= v) * scale div n_ref, including tie values and
    probes below/above the reference range, and are invariant under
    input partitioning (the frozen two-phase rank)."""
    from datalake_backend_spark.operators.distributions import (
        ecdf_percentile,
    )

    ref_vals = [1.0, 2.0, 2.0, 5.0, 9.0]
    probes = [(1, 0.5), (2, 2.0), (3, 4.0), (4, 9.0), (5, 20.0)]
    ref = spark.createDataFrame([(v,) for v in ref_vals], "x double")
    probe = spark.createDataFrame(probes, "pid int, v double")

    def want(v):
        return sum(1 for x in ref_vals if x <= v) * 10**6 // len(ref_vals)

    for pdf in (probe, probe.repartition(7)):
        got = {
            r.pid: r.pct_scaled
            for r in ecdf_percentile(
                pdf, "v", ref, "x", keep_cols=["pid"]
            ).collect()
        }
        assert got == {pid: want(v) for pid, v in probes}


def test_ecdf_percentile_empty_reference_fails_fast(spark):
    """An empty reference makes `div _nr` NULL for every probe — the
    all-NULL-percentiles hazard must be a loud ValueError, mirroring
    personalized_pagerank's empty-seed guard."""
    import pytest

    from datalake_backend_spark.operators.distributions import (
        ecdf_percentile,
    )

    probe = spark.createDataFrame([(1, 2.0)], "pid int, v double")
    empty_ref = spark.createDataFrame([], "x double")
    with pytest.raises(ValueError, match="non-empty reference"):
        ecdf_percentile(probe, "v", empty_ref, "x", keep_cols=["pid"])


def test_markov_transitions_counts_and_probs(spark):
    """Transition matrix (operators/windows.py:markov_transitions;
    oracle twin r182): per-key ordered sequences fold into global
    (from, to) counts; last events emit no edge; probabilities are
    div-exact row-normalized integers."""
    import datetime as dt

    from datalake_backend_spark.operators.windows import markov_transitions

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        # user 1: a -> b -> a ; user 2: a -> b ; user 3: c (no edge)
        (1, t0, "a", 1), (1, t0 + dt.timedelta(1), "b", 2),
        (1, t0 + dt.timedelta(2), "a", 3),
        (2, t0, "a", 4), (2, t0 + dt.timedelta(1), "b", 5),
        (3, t0, "c", 6),
    ]
    df = spark.createDataFrame(rows, "user_id int, ts timestamp, state string, eid int")
    got = {
        (r.from_state, r.to_state): (r.n_transitions, r.prob_scaled)
        for r in markov_transitions(
            df, ["user_id"], "ts", "state", tiebreak=["eid"]
        ).collect()
    }
    assert got == {
        ("a", "b"): (2, 1_000_000),  # a always goes to b
        ("b", "a"): (1, 1_000_000),  # b row-total is 1
    }


def test_match_weights_counts_and_guards(spark):
    """Fellegi-Sunter weight estimation (operators/linkage.py:
    match_weights; oracle twin r186): u from all pairs, m from the
    strong subset, truncating scaled divisions, NULLs never agree,
    and loud errors for empty fields / missing strong marker."""
    import pytest

    from datalake_backend_spark.operators.linkage import match_weights

    rows = [
        # (brand_a, brand_b, size_a, size_b, rank_gap)
        ("x", "x", 1, 1, 1),      # strong, agrees on both
        ("x", "y", 1, 2, 1),      # strong, agrees on neither
        ("x", "x", None, 1, 2),   # weak, brand agrees, size NULL
        ("z", "w", 3, 3, 3),      # weak, size agrees
    ]
    df = spark.createDataFrame(
        rows, "brand_a string, brand_b string, size_a int, size_b int, "
        "rank_gap int"
    )
    got = {r.field: r for r in match_weights(df, ["brand", "size"]).collect()}
    b = got["brand"]
    assert (b.n_pairs, b.n_strong) == (4, 2)
    assert b.u_scaled == 2 * 10**6 // 4 and b.m_scaled == 1 * 10**6 // 2
    assert b.weight_ratio_scaled == b.m_scaled * 10**6 // b.u_scaled
    s = got["size"]
    # NULL size never agrees: all-agreement = rows 1 and 4 only
    assert s.u_scaled == 2 * 10**6 // 4
    assert s.m_scaled == 1 * 10**6 // 2
    with pytest.raises(ValueError, match="non-empty"):
        match_weights(df, [])
    with pytest.raises(ValueError, match="rank_gap"):
        match_weights(df.drop("rank_gap"), ["brand"])
    # custom strong marker: everything strong -> m == u
    allstrong = match_weights(
        df.withColumn("s", F.lit(True)), ["brand"], strong_col="s"
    ).collect()[0]
    assert allstrong.m_scaled == allstrong.u_scaled


def test_welch_ttest_matches_closed_form(spark):
    """Welch t (operators/distributions.py:welch_ttest; oracle twin
    r194): means and t equal the driver-side recomputation over the
    floor-scaled integers — same formula, same order of operations."""
    import math

    from datalake_backend_spark.operators.distributions import welch_ttest

    a = [10.5, 12.25, 9.75, 11.0]
    b = [8.0, 7.5, 9.25]
    rows = [("g", True, v) for v in a] + [("g", False, v) for v in b]
    df = spark.createDataFrame(rows, "k string, arm boolean, v double")
    r = welch_ttest(df, "arm", "v", keys=["k"]).collect()[0]

    def moments(vals):
        s = sum(math.floor(v * 10**4) for v in vals) / 1e4
        ss = sum(math.floor(v * 10**4) ** 2 for v in vals) / 1e8
        n = float(len(vals))
        return s, ss, n

    sa, saa, na = moments(a)
    sb, sbb, nb = moments(b)
    mean_a, mean_b = sa / na, sb / nb
    var_a = (saa - sa * sa / na) / (na - 1)
    var_b = (sbb - sb * sb / nb) / (nb - 1)
    want_t = (mean_a - mean_b) / math.sqrt(var_a / na + var_b / nb)
    assert (r.n_a, r.n_b) == (4, 3)
    assert r.mean_a == mean_a and r.mean_b == mean_b
    assert r.t_stat == want_t  # bit-exact, no tolerance


def test_winsorized_mean_clamps_outliers(spark):
    """Winsorized mean (operators/distributions.py:winsorized_mean;
    oracle twin r195): with 20 rows, p5 rank = max(1, 100 div 100) = 1
    and p95 rank = min(20, 19+1) = 20 -> identity; with an outlier and
    tighter bounds the clamp bites exactly at the rank-order values."""
    import pytest

    from datalake_backend_spark.operators.distributions import (
        winsorized_mean,
    )

    rows = [("g", i, float(i)) for i in range(1, 11)] + [("g", 99, 1000.0)]
    df = spark.createDataFrame(rows, "k string, id int, v double")
    # n=11: lo rank = max(1, 55 div 100)=1 -> lo=v(1)=1.0;
    # hi rank = min(11, (95*11) div 100 + 1)=min(11,11)=11 -> identity
    r = winsorized_mean(df, "v", "id", keys=["k"]).collect()[0]
    ident = (sum(i * 10**4 for i in range(1, 11)) + 1000 * 10**4) // 11
    assert (r.n, r.win_mean_scaled) == (11, ident)
    # tighter: p10-p90 -> hi rank = min(11, (90*11) div 100 + 1) = 10
    # -> hi = v(10) = 10.0; the 1000.0 outlier clamps to 10.0
    r2 = winsorized_mean(
        df, "v", "id", keys=["k"], low_pct=10, high_pct=90
    ).collect()[0]
    want = (sum(i * 10**4 for i in range(1, 11)) + 10 * 10**4) // 11
    assert r2.win_mean_scaled == want
    with pytest.raises(ValueError, match="group key"):
        winsorized_mean(df, "v", "id", keys=[])
    with pytest.raises(ValueError, match="pct"):
        winsorized_mean(df, "v", "id", keys=["k"], low_pct=50, high_pct=40)


def test_radius_join_boundaries_and_cells(spark):
    """Grid radius join (core/geometry.py:radius_join; oracle twin
    r196): exact boundary inclusion (dist == r matches, r+1 does
    not), matches FOUND ACROSS CELL BORDERS (the 9-cell neighborhood),
    and negative coordinates still bucket correctly (div truncation
    keeps cells monotone)."""
    import pytest

    from datalake_backend_spark.core.geometry import radius_join

    left = spark.createDataFrame(
        [(1, 0, 0), (2, 100, 100), (3, -7, -7)], "lid int, x long, y long"
    )
    right = spark.createDataFrame(
        [(10, 5, 0),      # dist 5 from lid1: on the r=5 boundary -> in
         (11, 6, 0),      # dist 6 -> out
         (12, 103, 104),  # dist 5 from lid2 (3-4-5), crosses cells
         (13, -4, -3)],   # dist 5 from lid3 (3-4-5), negative coords
        "rid int, cx long, cy long",
    )
    got = {
        (r.lid, r.rid): r.dist2
        for r in radius_join(
            left, right, radius=5,
            left_xy=("x", "y"), right_xy=("cx", "cy"),
        ).collect()
    }
    # note (1, 13): (0,0) to (-4,-3) is ALSO a 3-4-5 boundary match
    assert got == {(1, 10): 25, (2, 12): 25, (3, 13): 25, (1, 13): 25}
    with pytest.raises(ValueError):
        radius_join(left, right, 0, ("x", "y"), ("cx", "cy"))


def test_association_lift_exact_ratio(spark):
    """Lift scoring (operators/association.py:association_lift;
    oracle twin r197): supports come from the UNCAPPED frame, total
    baskets likewise, and the scaled ratio is a truncating div."""
    from datalake_backend_spark.operators.association import (
        association_lift,
    )

    rows = [(1, "a"), (1, "b"), (2, "a"), (2, "b"), (3, "a"), (4, "c")]
    df = spark.createDataFrame(rows, "basket int, item string")
    got = association_lift(df, "basket", "item", min_support=2).collect()
    assert len(got) == 1
    r = got[0]
    assert (r.item_a, r.item_b, r.n_baskets) == ("a", "b", 2)
    # lift = n_ab*N/(n_a*n_b) = 2*4/(3*2) = 4/3 -> 1333333 scaled
    assert r.lift_scaled == 2 * 4 * 10**6 // (3 * 2)


def test_ntile_exact_matches_sql_standard(spark):
    """ntile_exact (operators/ranking.py; oracle twin r200): the
    closed form must reproduce SQL-standard NTILE — first (count mod
    n) buckets take the extra row — across remainder shapes, without
    an unpartitioned data window."""
    from datalake_backend_spark.operators.ranking import ntile_exact

    for count, n, expect in [
        (7, 3, [1, 1, 1, 2, 2, 3, 3]),  # rem 1 -> first bucket fat
        (8, 3, [1, 1, 1, 2, 2, 2, 3, 3]),  # rem 2
        (6, 3, [1, 1, 2, 2, 3, 3]),  # rem 0
        (2, 5, [1, 2]),  # count < n -> singleton buckets
    ]:
        df = spark.createDataFrame([(i,) for i in range(count)], "id bigint")
        got = {
            r.id: r.bucket
            for r in ntile_exact(df, ["id"], n).collect()
        }
        assert [got[i] for i in range(count)] == expect, (count, n)


def test_rfm_segments_deterministic(spark):
    """rfm_segments (operators/ranking.py; r200): known tiny corpus —
    heavy buyer scores 1/1 on frequency/monetary, stale buyer scores
    worst recency."""
    from pyspark.sql import functions as F

    from datalake_backend_spark.operators.ranking import rfm_segments

    rows = [
        # user 1: recent + frequent + big
        (1, "2024-01-10 00:00:00", 100.0),
        (1, "2024-01-11 00:00:00", 100.0),
        (1, "2024-01-12 00:00:00", 100.0),
        # user 2: stale single small purchase
        (2, "2024-01-01 00:00:00", 1.0),
    ]
    df = spark.createDataFrame(rows, "user_id bigint, s string, value double")
    df = df.select("user_id", F.col("s").cast("timestamp").alias("ts"), "value")
    got = {r.user_id: r for r in rfm_segments(df, n=2).collect()}
    assert got[1].segment == "111"
    assert got[2].segment == "222"
    assert got[1].recency_us == 0
    assert got[2].frequency == 1


def test_cluster_keep_best_picks_and_singletons(spark):
    """cluster_keep_best (datapipe/dedup.py; r201): representative =
    max score then min id; unclustered docs keep themselves."""
    from datalake_backend_spark.datapipe.dedup import cluster_keep_best

    docs = spark.createDataFrame(
        [(1, 10), (2, 30), (3, 30), (9, 7)], "doc_id bigint, n_chars bigint"
    )
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1)], "node bigint, cluster_id bigint"
    )
    got = {
        r.cluster_id: r
        for r in cluster_keep_best(docs, clusters, "n_chars").collect()
    }
    assert got[1].kept_id == 2  # ties on 30 -> smaller id
    assert got[1].n_members == 3 and got[1].best_score == 30
    assert got[9].kept_id == 9 and got[9].n_members == 1


def test_benford_profile_digit_extraction(spark):
    """benford_profile (operators/distributions.py; r202): digits come
    from the integer rendering — exact powers of ten land on their own
    digit (the floor(log10) trap), negatives and zeros are excluded."""
    from datalake_backend_spark.operators.distributions import (
        benford_profile,
    )

    df = spark.createDataFrame(
        [(10.0,), (100.0,), (1000.0,), (19.99,), (95.0,), (-5.0,), (0.0,)],
        "v double",
    )
    got = {r.digit: r for r in benford_profile(df, "v").collect()}
    assert got[1].n_values == 4  # 10, 100, 1000, 19.99
    assert got[9].n_values == 1
    assert sum(r.n_values for r in got.values()) == 5  # -5 and 0 dropped
    assert got[1].rate_permille == 800


def test_running_distinct_counts_first_appearances(spark):
    """running_distinct (operators/timeseries.py; r203): re-appearing
    ids never re-count; per-day news sum to the cumulative curve."""
    from pyspark.sql import functions as F

    from datalake_backend_spark.operators.timeseries import (
        running_distinct,
    )

    rows = [
        ("2024-01-01 01:00:00", 1),
        ("2024-01-01 02:00:00", 2),
        ("2024-01-02 01:00:00", 1),  # repeat — not new
        ("2024-01-02 02:00:00", 33),  # same bucket as 1 (div 32)
        ("2024-01-04 01:00:00", 2),  # repeat on a later day
    ]
    df = spark.createDataFrame(rows, "s string, user_id bigint").select(
        F.col("s").cast("timestamp").alias("ts"), "user_id"
    )
    got = {r.day: r for r in running_distinct(df, "ts", "user_id").collect()}
    days = sorted(got)
    assert [got[d].n_new_ids for d in days] == [2, 1, 0]
    assert [got[d].n_distinct_cum for d in days] == [2, 3, 3]


def test_moment_profile_known_shape(spark):
    """moment_profile (operators/distributions.py; r204): a symmetric
    two-point distribution has skew 0 and kurtosis_excess -2; a
    constant column guards to NULL."""
    from datalake_backend_spark.operators.distributions import (
        moment_profile,
    )

    df = spark.createDataFrame(
        [("a", 0.0), ("a", 1.0), ("b", 5.0), ("b", 5.0)],
        "k string, v double",
    )
    got = {r.k: r for r in moment_profile(df, "v", keys=["k"]).collect()}
    assert abs(got["a"].skewness) < 1e-12
    assert abs(got["a"].kurtosis_excess + 2) < 1e-9
    assert got["b"].skewness is None  # zero variance -> guarded NULL


def test_pointer_jump_roots_forest(spark):
    """pointer_jump_roots (operators/graph.py; r205): a two-tree
    forest resolves every node to the right root with exact depth,
    including depths larger than one doubling round."""
    from datalake_backend_spark.operators.graph import pointer_jump_roots

    # chain 1<-2<-3<-4<-5 (depths 0..4) and star 10<-{11,12}
    rows = [(1, 1), (2, 1), (3, 2), (4, 3), (5, 4), (10, 10), (11, 10), (12, 10)]
    df = spark.createDataFrame(rows, "node bigint, parent bigint")
    got = {r.node: (r.root, r.depth) for r in pointer_jump_roots(df, max_depth=8).collect()}
    assert got == {
        1: (1, 0), 2: (1, 1), 3: (1, 2), 4: (1, 3), 5: (1, 4),
        10: (10, 0), 11: (10, 1), 12: (10, 1),
    }


def test_bounded_sssp_prefers_cheap_two_hop(spark):
    """bounded_sssp (operators/graph.py; r206): a cheap 2-edge path
    beats an expensive direct edge; nodes beyond the hop bound stay
    unreached; the frontier pruning never drops an improving node."""
    from datalake_backend_spark.operators.graph import bounded_sssp

    edges = spark.createDataFrame(
        [("a", "b", 10), ("a", "c", 1), ("c", "b", 2), ("b", "d", 1),
         ("d", "e", 1), ("e", "f", 1)],
        "src string, dst string, cost bigint",
    )
    seed = spark.createDataFrame([("a",)], "node string")
    got = {r.node: r.dist for r in bounded_sssp(edges, seed, max_hops=3).collect()}
    # a->c->b = 3 beats a->b = 10; d improves to 4 on round 3 via the
    # pruned-but-improving b; e only via the expensive a->b->d->e = 12
    # (the cheap route needs 4 hops); f beyond the bound entirely
    assert got == {"a": 0, "c": 1, "b": 3, "d": 4, "e": 12}


def test_period_over_period_lag_and_ratio(spark):
    """period_over_period (operators/timeseries.py; r207): first
    period has NULL prev/ratio; ratio is exact integer permille."""
    from pyspark.sql import functions as F

    from datalake_backend_spark.operators.timeseries import (
        period_over_period,
    )

    rows = [("2024-01-05", 10.0), ("2024-01-20", 10.0), ("2024-02-10", 30.0)]
    df = spark.createDataFrame(rows, "d string, v double").select(
        F.col("d").cast("date").alias("d"), "v"
    )
    got = sorted(
        period_over_period(df, "d", "v").collect(),
        key=lambda r: r.period_start,
    )
    assert got[0].prev_scaled is None and got[0].ratio_permille is None
    assert got[1].prev_scaled == 200000
    assert got[1].delta_scaled == 100000
    assert got[1].ratio_permille == 1500


def test_activity_streaks_islands_and_tiebreak(spark):
    """activity_streaks (operators/timeseries.py; r208): duplicate
    events per day collapse, islands split on gaps, and the longest
    streak's start day picks the EARLIEST on equal lengths."""
    from pyspark.sql import functions as F

    from datalake_backend_spark.operators.timeseries import (
        activity_streaks,
    )

    days = ["01", "02", "02", "04", "05", "08"]  # streaks 2,2,1
    rows = [(f"2024-01-{d} 12:00:00", 7) for d in days]
    df = spark.createDataFrame(rows, "s string, user_id bigint").select(
        F.col("s").cast("timestamp").alias("ts"), "user_id"
    )
    [r] = activity_streaks(df, "ts", "user_id").collect()
    assert r.n_active_days == 5
    assert r.n_streaks == 3
    assert r.longest_streak == 2
    # ties between the two length-2 streaks -> earliest start day (Jan 1)
    assert r.longest_start_day == 19723  # 2024-01-01 epoch day


def test_cramers_v_perfect_association(spark):
    """cramers_v (operators/distributions.py; r209): a bijective 2x2
    table gives V = 1 — which REQUIRES the zero-cell correction (the
    observed-cells-only chi2 would halve it to ~0.71) — and
    independent columns give V ~ 0. Counts are sized so r*c*t >> scale
    (the operator's categorical-over-big-data contract; below that the
    floored divisor coarsens the per-cell terms)."""
    from datalake_backend_spark.operators.distributions import cramers_v

    dep = spark.createDataFrame(
        [("x", 1), ("x", 1), ("y", 2), ("y", 2)] * 1250, "a string, b bigint"
    )
    [r] = cramers_v(dep, "a", "b").collect()
    assert r.n_row_cats == 2 and r.n_col_cats == 2
    assert abs(r.cramers_v - 1.0) < 1e-6
    ind = spark.createDataFrame(
        [("x", 1), ("x", 2), ("y", 1), ("y", 2)] * 1250, "a string, b bigint"
    )
    [r2] = cramers_v(ind, "a", "b").collect()
    assert r2.cramers_v < 1e-3


def test_gini_extremes(spark):
    """gini_concentration (operators/distributions.py; r210): equal
    values -> 0; one row holding all mass -> (n-1)/n."""
    from datalake_backend_spark.operators.distributions import (
        gini_concentration,
    )

    eq = spark.createDataFrame(
        [("g", i, 5.0) for i in range(4)], "k string, id bigint, v double"
    )
    [r] = gini_concentration(eq, ["k"], "v", "id").collect()
    assert abs(r.gini) < 1e-12
    one = spark.createDataFrame(
        [("g", 1, 0.0), ("g", 2, 0.0), ("g", 3, 0.0), ("g", 4, 100.0)],
        "k string, id bigint, v double",
    )
    [r2] = gini_concentration(one, ["k"], "v", "id").collect()
    assert abs(r2.gini - 0.75) < 1e-12


def test_abc_classification_boundaries(spark):
    """abc_classification (operators/ranking.py; r211): inclusive
    cumulative-share boundaries — the row that lands exactly ON the
    a_pct line is still A."""
    from datalake_backend_spark.operators.ranking import abc_classification

    # values 50,30,15,5 (total 100): cum 50,80,95,100 -> A,A,B,C
    df = spark.createDataFrame(
        [(1, 50), (2, 30), (3, 15), (4, 5)], "id bigint, value bigint"
    )
    got = {r.id: r.abc_class for r in abc_classification(df, "id", "value").collect()}
    assert got == {1: "A", 2: "A", 3: "B", 4: "C"}


def test_score_deciles_capture(spark):
    """score_deciles (operators/ranking.py; r212): with all positives
    in the top bucket, decile 1 captures 1000 permille; counts follow
    the SQL NTILE fat-bucket rule."""
    from pyspark.sql import functions as F

    from datalake_backend_spark.operators.ranking import score_deciles

    rows = [(i, float(100 - i), i <= 5) for i in range(1, 22)]  # 21 rows
    df = spark.createDataFrame(rows, "id bigint, score double, label boolean")
    got = {r.decile: r for r in score_deciles(df, "score", "label", "id", n=10).collect()}
    # 21 rows into 10 buckets: first bucket has 3 rows, rest 2
    assert got[1].n_rows == 3 and got[10].n_rows == 2
    assert got[1].n_pos == 3 and got[2].n_pos == 2
    assert got[2].cum_pos == 5
    assert got[2].cum_capture_permille == 1000
    assert got[3].n_pos == 0


def test_rolling_range_sum_gap_semantics(spark):
    """rolling_range_sum (operators/timeseries.py; r213): a day gap
    NARROWS the window (RANGE frame) instead of reaching further back
    (ROWS frame would)."""
    from pyspark.sql import functions as F

    from datalake_backend_spark.operators.timeseries import (
        rolling_range_sum,
    )

    rows = [("2024-01-01", 1.0), ("2024-01-02", 2.0), ("2024-01-10", 4.0)]
    df = spark.createDataFrame(rows, "s string, v double").select(
        F.col("s").cast("timestamp").alias("ts"), "v"
    )
    got = sorted(
        rolling_range_sum(df, "ts", "v", window_days=3).collect(),
        key=lambda r: r.day,
    )
    assert [r.rolling_sum for r in got] == [10000, 30000, 40000]
    # Jan 10 is alone in its 3-day range — Jan 2 is 8 days back
    assert [r.n_days_in_window for r in got] == [1, 2, 1]


def test_subtree_rollup_totals(spark):
    """subtree_rollup (operators/graph.py; r214): members, totals and
    max depth aggregate to the right root across a two-tree forest."""
    from datalake_backend_spark.operators.graph import subtree_rollup

    parents = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 2), (10, 10), (11, 10)],
        "node bigint, parent bigint",
    )
    values = spark.createDataFrame(
        [(1, 100), (2, 10), (3, 1), (10, 5), (11, 7)],
        "node bigint, value bigint",
    )
    got = {r.root: r for r in subtree_rollup(parents, values, max_depth=8).collect()}
    assert got[1].n_nodes == 3 and got[1].subtree_total == 111
    assert got[1].max_depth == 2
    assert got[10].n_nodes == 2 and got[10].subtree_total == 12
    assert got[10].max_depth == 1


def test_weighted_median_crossing_rule(spark):
    """weighted_median (operators/distributions.py; r215): the lower
    weighted median — smallest value whose inclusive cumulative weight
    reaches half the total — NOT the row median."""
    from datalake_backend_spark.operators.distributions import (
        weighted_median,
    )

    # values 1,2,3 with weights 1,1,6: total 8, half 4 -> crossing at 3
    df = spark.createDataFrame(
        [("g", 1.0, 1), ("g", 2.0, 1), ("g", 3.0, 6)],
        "k string, v double, w bigint",
    )
    [r] = weighted_median(df, ["k"], "v", "w").collect()
    assert r.weighted_median_scaled == 30000
    assert r.total_weight == 8
    # exact half lands ON a row: 2*cumw == totw keeps that row (>=)
    df2 = spark.createDataFrame(
        [("g", 1.0, 2), ("g", 5.0, 2)], "k string, v double, w bigint"
    )
    [r2] = weighted_median(df2, ["k"], "v", "w").collect()
    assert r2.weighted_median_scaled == 10000


def test_fifo_allocate_splits_and_exhausts(spark):
    """fifo_allocate (operators/allocation.py; r217): a demand spans
    two lots, a later demand takes the remainder, zero-length
    boundary overlaps allocate nothing, and per-demand allocations
    sum to the demand while supply lasts."""
    from datalake_backend_spark.operators.allocation import fifo_allocate

    supply = spark.createDataFrame(
        [("u", 1, 10, 1), ("u", 2, 5, 2)],
        "k string, id bigint, qty bigint, o bigint",
    )
    demand = spark.createDataFrame(
        [("u", 101, 4, 1), ("u", 102, 6, 2), ("u", 103, 9, 3)],
        "k string, id bigint, qty bigint, o bigint",
    )
    rows = fifo_allocate(
        supply, demand, keys=["k"], qty_col="qty",
        order_cols=["o", "id"], id_col="id",
    ).collect()
    got = {(r.supply_id, r.demand_id): r.alloc_qty for r in rows}
    # lot1 covers d101 (4) and d102 (6) exactly -> lot1 exhausted at
    # the d102 boundary: NO zero-length (1,103) row; lot2 covers 5 of
    # d103's 9, the rest is unallocated (supply exhausted)
    assert got == {(1, 101): 4, (1, 102): 6, (2, 103): 5}


def test_sliding_distinct_window_semantics(spark):
    """sliding_distinct (operators/timeseries.py; r219): ids count for
    window_days days then age out; re-appearing ids never double-count
    within a window; output days clamp to the key's active days."""
    from pyspark.sql import functions as F

    from datalake_backend_spark.operators.timeseries import (
        sliding_distinct,
    )

    rows = [
        ("2024-01-01 01:00:00", 1),
        ("2024-01-01 02:00:00", 2),
        ("2024-01-03 01:00:00", 1),   # repeat inside window
        ("2024-01-05 01:00:00", 33),  # same bucket as 1
    ]
    df = spark.createDataFrame(rows, "s string, user_id bigint").select(
        F.col("s").cast("timestamp").alias("ts"), "user_id"
    )
    got = {r.day: r.n_active for r in sliding_distinct(df, "ts", "user_id", window_days=3).collect()}
    days = sorted(got)
    assert len(days) == 3  # only active days emitted (1, 3, 5)
    # day1: {1,2}; day3: {1,2(from d1),1(dup)} = {1,2}; day5: {1(d3),33}
    assert [got[d] for d in days] == [2, 2, 2]


def test_interval_concurrency_step_function(spark):
    """interval_concurrency (operators/timeseries.py; r221): +1/-1
    sweep with end+1 exclusivity — overlapping, touching, and nested
    intervals produce the exact step function."""
    from datalake_backend_spark.operators.timeseries import (
        interval_concurrency,
    )

    iv = spark.createDataFrame(
        [(1, 1, 3), (2, 2, 2), (3, 5, 6)], "id bigint, s bigint, e bigint"
    )
    got = {r.day: r.n_open for r in interval_concurrency(iv, "s", "e").collect()}
    # day1: {1}; day2: {1,2}; day3: {1}; day4: {}; day5-6: {3}; day7: {}
    assert got == {1: 1, 2: 2, 3: 1, 4: 0, 5: 1, 7: 0}


def test_maxsim_scores_known_geometry(spark):
    """maxsim_scores (datapipe/similarity.py; r220): axis-aligned unit
    vectors make MaxSim exactly countable — each query token scores 1
    when the doc set contains its axis, 0 otherwise."""
    from datalake_backend_spark.datapipe.similarity import maxsim_scores

    def vec(i):
        v = [0.0] * 4
        v[i] = 1.0
        return v

    queries = spark.createDataFrame(
        [(0, vec(0)), (1, vec(1))], "vec_id bigint, embedding array<float>"
    )
    docs = spark.createDataFrame(
        [("a", vec(0)), ("a", vec(1)), ("b", vec(0)), ("b", vec(3))],
        "label string, embedding array<float>",
    )
    got = {r.doc_key: r for r in maxsim_scores(queries, docs).collect()}
    assert got["a"].maxsim == 2.0 and got["a"].n_query_tokens == 2
    assert got["b"].maxsim == 1.0  # axis 1 missing -> max dot 0


def test_topn_with_other_tail_rollup(spark):
    """topn_with_other (operators/distributions.py; r222): top-N keep
    their labels, the tail keeps its mass and label count, ties break
    by label ascending."""
    from datalake_backend_spark.operators.distributions import (
        topn_with_other,
    )

    rows = [("g", "a", 10), ("g", "b", 5), ("g", "c", 5), ("g", "d", 1)]
    df = spark.createDataFrame(rows, "k string, label string, value bigint")
    got = {r.bucket: r for r in topn_with_other(df, ["k"], "label", "value", n=2).collect()}
    assert got["a"].total_value == 10
    assert got["b"].total_value == 5  # tie at 5 -> 'b' before 'c'
    assert got["__other__"].total_value == 6
    assert got["__other__"].n_labels == 2


def test_centroid_assign_routing(spark):
    """centroid_assign (datapipe/similarity.py; r224): rows route to
    the nearest centroid; exact-tie routes to the LOWEST centroid id."""
    from datalake_backend_spark.datapipe.similarity import centroid_assign

    cents = [(0, [0.0, 0.0]), (1, [4.0, 0.0])]
    df = spark.createDataFrame(
        [(10, [1.0, 0.0]), (11, [3.5, 0.0]), (12, [2.0, 0.0])],
        "vec_id bigint, embedding array<float>",
    )
    got = {r.vec_id: r for r in centroid_assign(df, cents).collect()}
    assert got[10].centroid_id == 0 and got[10].dist_sq == 1.0
    assert got[11].centroid_id == 1
    assert got[12].centroid_id == 0  # equidistant (4.0) -> lowest id
    assert got[12].dist_sq == 4.0


def test_confusion_at_thresholds_cells(spark):
    """confusion_at_thresholds (operators/evaluation.py; r225): exact
    cells; precision NULL when nothing clears the bar; >= strictness."""
    from datalake_backend_spark.operators.evaluation import (
        confusion_at_thresholds,
    )

    rows = [(10, True), (10, False), (5, True), (1, False)]
    df = spark.createDataFrame(rows, "score bigint, y boolean")
    got = {r.threshold: r for r in confusion_at_thresholds(df, "score", "y", [5, 100]).collect()}
    r5 = got[5]
    assert (r5.tp, r5.fp, r5.fn, r5.tn) == (2, 1, 0, 1)
    assert r5.precision_permille == 666 and r5.recall_permille == 1000
    r100 = got[100]
    assert (r100.tp, r100.fp) == (0, 0)
    assert r100.precision_permille is None
    assert r100.recall_permille == 0


def test_bbox_join_boundaries(spark):
    """bbox_join (core/geometry.py; r226): closed intervals on all
    four edges; a box spanning multiple grid cells still finds every
    point exactly once."""
    from datalake_backend_spark.core.geometry import bbox_join

    points = spark.createDataFrame(
        [(1, 0, 0), (2, 10, 10), (3, 11, 10), (4, 25, 25)],
        "pid bigint, x bigint, y bigint",
    )
    boxes = spark.createDataFrame(
        [(100, 0, 0, 10, 10), (200, 5, 5, 30, 30)],
        "bid bigint, x_min bigint, y_min bigint, x_max bigint, y_max bigint",
    )
    got = sorted(
        (r.pid, r.bid) for r in bbox_join(points, boxes, cell=7).collect()
    )
    # p1 on box100's min corner; p2 on its max corner AND inside 200;
    # p3 just outside 100 (x=11) but inside 200; p4 only in 200
    assert got == [(1, 100), (2, 100), (2, 200), (3, 200), (4, 200)]


def test_mann_whitney_ties_and_exactness(spark):
    """mann_whitney_u (operators/distributions.py; r229): hand-
    computed U on a tied pooled sample — A=[1,2,3] vs B=[2,3,4]:
    mid-ranks 1, 2.5, 2.5, 4.5, 4.5, 6 give R_A=8, U_A=2, U_B=7,
    tie term (2³−2)·2 = 12; U_A + U_B must equal n_a·n_b."""
    from datalake_backend_spark.operators.distributions import mann_whitney_u

    d = spark.createDataFrame(
        [("A", 1.0), ("A", 2.0), ("A", 3.0), ("B", 2.0), ("B", 3.0), ("B", 4.0)],
        "g string, v double",
    )
    r = mann_whitney_u(d, "v", "g", "A", "B").collect()[0]
    assert (r.n_a, r.n_b, r.u_a, r.u_b, r.tie_term) == (3, 3, 2.0, 7.0, 12.0)
    assert r.u_a + r.u_b == r.n_a * r.n_b


def test_spearman_rho_monotone_and_ties(spark):
    """spearman_rho (operators/distributions.py; r230): ±1 on
    perfectly monotone data (up to sqrt(a)·sqrt(a) ulps); a tied x
    value pulls |rho| below 1 via mid-ranks."""
    from datalake_backend_spark.operators.distributions import spearman_rho

    up = spark.createDataFrame(
        [(1.0, 10.0), (2.0, 20.0), (3.0, 25.0), (4.0, 40.0)],
        "x double, y double",
    )
    assert abs(spearman_rho(up, "x", "y").collect()[0].rho - 1.0) < 1e-12
    down = spark.createDataFrame(
        [(1.0, 40.0), (2.0, 30.0), (3.0, 20.0), (4.0, 10.0)],
        "x double, y double",
    )
    assert abs(spearman_rho(down, "x", "y").collect()[0].rho + 1.0) < 1e-12
    tied = spark.createDataFrame(
        [(1.0, 10.0), (2.0, 20.0), (2.0, 30.0), (4.0, 40.0)],
        "x double, y double",
    )
    rho = spearman_rho(tied, "x", "y").collect()[0].rho
    assert 0.9 < rho < 1.0


def test_kaplan_meier_censoring_and_full_death(spark):
    """kaplan_meier (operators/survival.py; r231): censored rows
    shrink the risk set without stepping the curve, and a final
    step where the whole risk set dies lands survival EXACTLY 0.0
    (the log(0)→NULL window-skip hazard)."""
    from datalake_backend_spark.operators.survival import kaplan_meier

    d = spark.createDataFrame(
        [(1, 1), (2, 0), (3, 1), (3, 1)], "dur int, ev int"
    )
    got = {
        r.dur: (r.at_risk, r.d, r.survival)
        for r in kaplan_meier(d, "dur", "ev").collect()
    }
    assert got == {1: (4, 1, 0.75), 3: (2, 2, 0.0)}


def test_ohlc_bars_tie_break_and_turnover(spark):
    """ohlc_bars (operators/timeseries.py; r232): same-timestamp
    ticks resolve open/close by seq id; turnover is the exact
    scaled-integer sum."""
    import datetime as dt

    from datalake_backend_spark.operators.timeseries import ohlc_bars

    rows = [
        ("s", dt.datetime(2024, 1, 1, 9), 10.0, 1),
        ("s", dt.datetime(2024, 1, 1, 9), 11.0, 2),
        ("s", dt.datetime(2024, 1, 1, 15), 5.0, 3),
        ("s", dt.datetime(2024, 1, 2, 9), 7.0, 4),
    ]
    d = spark.createDataFrame(rows, "k string, ts timestamp, v double, id long")
    got = sorted(
        ohlc_bars(d, "ts", "v", "id", ["k"]).collect(),
        key=lambda r: r.bucket_ts,
    )
    first = got[0]
    assert (
        first.open, first.high, first.low, first.close, first.n_ticks,
        first.turnover,
    ) == (10.0, 11.0, 5.0, 5.0, 3, 26.0)
    assert got[1].open == 7.0 and got[1].close == 7.0


def test_max_drawdown_peak_trough(spark):
    """max_drawdown (operators/timeseries.py; r233): flows
    5,−3,1,−4,10 → equity 5,2,3,−1,9 → peak 5 trough −1 → dd 6;
    two new-high ticks (the first and the last)."""
    import datetime as dt

    from datalake_backend_spark.operators.timeseries import max_drawdown

    rows = [
        ("k", dt.datetime(2024, 1, 1, i), v, i)
        for i, v in enumerate([5.0, -3.0, 1.0, -4.0, 10.0])
    ]
    d = spark.createDataFrame(rows, "k string, ts timestamp, v double, id long")
    r = max_drawdown(d, "ts", "v", "id", ["k"]).collect()[0]
    assert (r.max_drawdown, r.final_value, r.n_new_highs, r.n) == (
        6.0, 9.0, 2, 5,
    )


def test_nearest_within_radius_blocking(spark):
    """nearest_within_radius (core/geometry.py; r234): picks the
    argmin inside the radius (not just any candidate), drops points
    with no neighbor in range, breaks distance ties by smallest
    right id."""
    from datalake_backend_spark.core.geometry import nearest_within_radius

    left = spark.createDataFrame(
        [(1, 10, 10), (2, 100, 100)], "lid long, x long, y long"
    )
    right = spark.createDataFrame(
        [(7, 12, 10), (8, 10, 13), (9, 500, 500), (6, 8, 10)],
        "rid long, x long, y long",
    )
    got = {
        r.lid: (r.nearest_rid, r.dist2)
        for r in nearest_within_radius(left, right, 5, "lid", "rid").collect()
    }
    # rid 6 and 7 both at dist2=4 → tie goes to rid 6; lid 2 unmatched
    assert got == {1: (6, 4)}


def test_nearest_within_radius_colliding_right_id(spark):
    """Advisor fix (round 12): when the right id column name also
    exists on the left, the right side must be aliased BEFORE
    radius_join (which only renames the coordinate columns) — the
    argmin previously referenced a non-existent '<id>_r' column and
    raised AnalysisException."""
    from datalake_backend_spark.core.geometry import nearest_within_radius

    left = spark.createDataFrame(
        [(1, 10, 10), (2, 100, 100)], "lid long, x long, y long"
    )
    # right reuses the LEFT's id column name 'lid'
    right = spark.createDataFrame(
        [(7, 12, 10), (6, 8, 10)], "lid long, x long, y long"
    )
    got = {
        r.lid: (r.nearest_lid, r.dist2)
        for r in nearest_within_radius(left, right, 5, "lid", "lid").collect()
    }
    assert got == {1: (6, 4)}


def test_point_in_convex_polygon_boundary(spark):
    """point_in_convex_polygon (core/geometry.py; r235): interior,
    exterior, edge and vertex cases on a CCW square — boundary is
    INSIDE (closed polygon)."""
    from pyspark.sql import functions as F

    from datalake_backend_spark.core.geometry import point_in_convex_polygon

    pts = spark.createDataFrame(
        [(5, 5), (11, 5), (0, 5), (10, 10), (-1, -1)], "x long, y long"
    )
    square = [(0, 0), (10, 0), (10, 10), (0, 10)]
    got = [
        r[0]
        for r in pts.select(
            point_in_convex_polygon(F.col("x"), F.col("y"), square)
        ).collect()
    ]
    assert got == [True, False, True, True, False]


def test_business_days_weekend_spans(spark):
    """business_days_between (core/calendar.py; r236): the
    (start, end] convention — Fri→Mon is 1, Mon→Fri is 4, same-day
    0, weekend-only spans 0 — with no engine dayofweek dependence."""
    from pyspark.sql import functions as F

    from datalake_backend_spark.core.calendar import business_days_between

    d = spark.createDataFrame(
        [
            ("2026-08-14", "2026-08-17"),
            ("2026-08-10", "2026-08-14"),
            ("2026-08-14", "2026-08-14"),
            ("2026-08-15", "2026-08-16"),
            ("2026-08-14", "2026-08-16"),
        ],
        "a string, b string",
    )
    got = [
        r[0]
        for r in d.select(
            business_days_between(
                F.col("a").cast("date"), F.col("b").cast("date")
            )
        ).collect()
    ]
    assert got == [1, 4, 0, 0, 0]


def test_apportion_largest_remainder(spark):
    """apportion_largest_remainder (operators/allocation.py; r237):
    exact proportions allocate exactly; a 3-way tie on remainders
    gives the spare seat to the lexicographically first key; total
    always equals the seat count."""
    from pyspark.sql import functions as F

    from datalake_backend_spark.operators.allocation import (
        apportion_largest_remainder,
    )

    even = spark.createDataFrame(
        [("a",), ("b",), ("c",)], "k string"
    ).withColumn("w", F.lit(1))
    got = {
        r.k: r.seats_alloc
        for r in apportion_largest_remainder(even, "k", "w", 10).collect()
    }
    assert got == {"a": 4, "b": 3, "c": 3}
    prop = spark.createDataFrame(
        [("a", 5), ("b", 3), ("c", 2)], "k string, w int"
    )
    got2 = {
        r.k: r.seats_alloc
        for r in apportion_largest_remainder(prop, "k", "w", 10).collect()
    }
    assert got2 == {"a": 5, "b": 3, "c": 2}


def test_neighborhood_jaccard_wedge_and_hub_cap(spark):
    """neighborhood_jaccard (operators/graph.py; r239): only pairs
    sharing a neighbor appear; the hub cap drops a high-fanout dst
    and with it the pairs it would have generated."""
    from datalake_backend_spark.operators.graph import neighborhood_jaccard

    e = spark.createDataFrame(
        [("a", 1), ("a", 2), ("a", 3), ("b", 2), ("b", 3), ("c", 9)],
        "src string, dst int",
    )
    got = {
        (r.node_a, r.node_b): (r.common, r.union_size, r.jaccard)
        for r in neighborhood_jaccard(e).collect()
    }
    assert got == {("a", "b"): (2, 3, 2 / 3)}
    # hub: dst 0 shared by everyone; cap 2 drops it entirely
    hub = e.union(
        spark.createDataFrame(
            [("a", 0), ("b", 0), ("c", 0)], "src string, dst int"
        )
    )
    capped = {
        (r.node_a, r.node_b): r.common
        for r in neighborhood_jaccard(hub, max_degree=2).collect()
    }
    assert capped == {("a", "b"): 2}


def test_kmv_distinct_exact_and_estimate(spark):
    """kmv_distinct (operators/distributions.py; r240): below k the
    sketch is exact (estimate == kept count); above k the estimate
    lands within the expected ~1/sqrt(k) band and the two-phase rank
    equals the single-window form."""
    from pyspark.sql import functions as F

    from datalake_backend_spark.operators.distributions import kmv_distinct

    small = spark.range(0, 10).select(F.col("id").alias("v"))
    r = kmv_distinct(small, "v", k=64).collect()[0]
    assert r.n_kept == 10 and r.estimate == 10.0
    big = spark.range(0, 5000).select((F.col("id") % 2000).alias("v"))
    r2 = kmv_distinct(big, "v", k=256).collect()[0]
    assert r2.n_kept == 256
    assert 2000 * 0.8 < r2.estimate < 2000 * 1.25


def test_priority_sample_deterministic_topk(spark):
    """priority_sample (datapipe/sampling.py; r241): exactly k per
    group, identical to the single-window reference despite the
    two-phase bucketed rank, and stable across reruns."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from datalake_backend_spark.datapipe.dedup import portable_hash60
    from datalake_backend_spark.datapipe.sampling import priority_sample

    df = spark.range(0, 300).select(
        F.col("id").alias("key"),
        (F.col("id") % 3).alias("grp"),
        (F.col("id") % 7 + 1).cast("double").alias("w"),
    )
    got = sorted(
        (r.grp, r.key)
        for r in priority_sample(df, "w", "key", 5, group_col="grp").collect()
    )
    assert len(got) == 15
    h = portable_hash60(F.concat(F.col("key").cast("string"), F.lit("")))
    u = (h + F.lit(1)).cast("double") / F.lit(float(1 << 60))
    ref = df.withColumn("_p", F.col("w") / u)
    w_ref = Window.partitionBy("grp").orderBy(F.desc("_p"), F.col("key"))
    want = sorted(
        (r.grp, r.key)
        for r in ref.withColumn("rn", F.row_number().over(w_ref))
        .where("rn <= 5")
        .collect()
    )
    assert got == want


def test_key_skew_profile_positional_median(spark):
    """key_skew_profile (operators/distributions.py; r242): lower
    positional median (no interpolation), max/mean skew factor, and
    deterministic heaviest key."""
    from datalake_backend_spark.operators.distributions import (
        key_skew_profile,
    )

    df = spark.createDataFrame(
        [(1,)] * 10 + [(2,)] * 3 + [(3,)] * 1, "k int"
    )
    r = key_skew_profile(df, ["k"]).collect()[0]
    assert (r.n_keys, r.n_rows, r.max_n, r.median_n) == (3, 14, 10, 3)
    assert r.heaviest_key == "1"
    assert abs(r.skew_factor - 10 / (14 / 3)) < 1e-12


def test_roc_auc_separation_and_ties(spark):
    """roc_auc (operators/evaluation.py; r243): perfect separation
    → 1.0; all-tied scores → exactly 0.5; reversed separation → 0."""
    from datalake_backend_spark.operators.evaluation import roc_auc

    sep = spark.createDataFrame(
        [(1.0, 0), (2.0, 0), (3.0, 1), (4.0, 1)], "s double, y int"
    )
    assert roc_auc(sep, "s", "y").collect()[0].auc == 1.0
    tied = spark.createDataFrame(
        [(1.0, 0), (1.0, 1), (1.0, 0), (1.0, 1)], "s double, y int"
    )
    assert roc_auc(tied, "s", "y").collect()[0].auc == 0.5
    rev = spark.createDataFrame(
        [(4.0, 0), (3.0, 0), (2.0, 1), (1.0, 1)], "s double, y int"
    )
    assert roc_auc(rev, "s", "y").collect()[0].auc == 0.0


def test_bigram_lift_counts(spark):
    """bigram_lift (datapipe/text.py; r244): bigrams stay within
    documents, unigram totals include sub-bigram docs, lift is the
    exact count ratio."""
    from datalake_backend_spark.datapipe.text import bigram_lift

    docs = spark.createDataFrame(
        [("a b a b",), ("a b c",), ("",)], "text string"
    )
    got = {
        (r.w1, r.w2): (r.n12, r.n1, r.n2, r.lift)
        for r in bigram_lift(docs, "text", min_count=2).collect()
    }
    # bigrams: doc1 (a,b)x2 (b,a)x1; doc2 (a,b) (b,c) → only (a,b)≥2
    # unigrams a:3 b:3 c:1 '':1, N=8 → lift = 3·8/(3·3)
    assert got == {("a", "b"): (3, 3, 3, 24 / 9)}


def test_autocorrelation_exact_series(spark):
    """autocorrelation (operators/timeseries.py; r245): a strictly
    linear daily series gives acf=1 at every lag (pairs shrink by
    lag); a perfect alternation gives lag-1 acf = −1."""
    import datetime as dt

    from datalake_backend_spark.operators.timeseries import autocorrelation

    lin = spark.createDataFrame(
        [("k", dt.datetime(2024, 1, 1 + i), float(i + 1)) for i in range(6)],
        "k string, ts timestamp, v double",
    )
    got = {
        r.lag: (r.n_pairs, r.acf)
        for r in autocorrelation(lin, "ts", "v", ["k"], lags=(1, 2)).collect()
    }
    assert got[1][0] == 5 and abs(got[1][1] - 1.0) < 1e-12
    assert got[2][0] == 4 and abs(got[2][1] - 1.0) < 1e-12
    alt = spark.createDataFrame(
        [
            ("k", dt.datetime(2024, 1, 1 + i), float(1 if i % 2 else 5))
            for i in range(6)
        ],
        "k string, ts timestamp, v double",
    )
    r1 = {
        r.lag: r.acf
        for r in autocorrelation(alt, "ts", "v", ["k"], lags=(1,)).collect()
    }
    assert abs(r1[1] + 1.0) < 1e-12


def test_autocorrelation_non_day_buckets(spark):
    """Advisor fix (round 12): the lag shift must move by lag BUCKETS,
    not lag days — with bucket='week' a date_add(lag)-shifted date
    never hits another week start, silently yielding zero pairs. A
    linear weekly/monthly series must give acf=1 with n-lag pairs;
    sub-day buckets raise (the DATE key would merge hours)."""
    import datetime as dt

    import pytest

    from datalake_backend_spark.operators.timeseries import autocorrelation

    weekly = spark.createDataFrame(
        [
            ("k", dt.datetime(2024, 1, 1) + dt.timedelta(weeks=i), float(i + 1))
            for i in range(6)
        ],
        "k string, ts timestamp, v double",
    )
    got = {
        r.lag: (r.n_pairs, r.acf)
        for r in autocorrelation(
            weekly, "ts", "v", ["k"], lags=(1, 2), bucket="week"
        ).collect()
    }
    assert got[1][0] == 5 and abs(got[1][1] - 1.0) < 1e-12
    assert got[2][0] == 4 and abs(got[2][1] - 1.0) < 1e-12
    monthly = spark.createDataFrame(
        [("k", dt.datetime(2024, 1 + i, 15), float(i + 1)) for i in range(6)],
        "k string, ts timestamp, v double",
    )
    gm = {
        r.lag: (r.n_pairs, r.acf)
        for r in autocorrelation(
            monthly, "ts", "v", ["k"], lags=(1,), bucket="month"
        ).collect()
    }
    assert gm[1][0] == 5 and abs(gm[1][1] - 1.0) < 1e-12
    with pytest.raises(ValueError, match="bucket"):
        autocorrelation(weekly, "ts", "v", ["k"], bucket="hour")


def test_asof_nearest_tie_and_tolerance(spark):
    """asof_nearest (operators/asof.py; r246): equal |Δt| prefers the
    EARLIER right row; rows with nothing inside the tolerance drop;
    the bucketed plan finds matches that straddle bucket borders."""
    import datetime as dt

    from datalake_backend_spark.operators.asof import asof_nearest

    left = spark.createDataFrame(
        [
            (1, dt.datetime(2024, 1, 1, 0, 0, 10)),
            (2, dt.datetime(2024, 1, 1, 0, 5, 0)),
            (3, dt.datetime(2024, 1, 1, 2, 0, 1)),
        ],
        "eid long, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            (100, dt.datetime(2024, 1, 1, 0, 0, 7)),
            (101, dt.datetime(2024, 1, 1, 0, 0, 13)),
            (102, dt.datetime(2024, 1, 1, 1, 59, 32)),
        ],
        "rid long, rts timestamp",
    )
    got = {
        r.eid: (r.nearest_rid, r.delta_s)
        for r in asof_nearest(left, right, "ts", "rts", 30, "rid").collect()
    }
    # eid1: ±3 s tie → earlier row 100; eid2: nothing within 30 s;
    # eid3: match 29 s back across a bucket boundary
    assert got == {1: (100, -3), 3: (102, -29)}


def test_asof_nearest_preserves_duplicate_left_rows(spark):
    """Advisor fix (round 12): pandas merge_asof(direction='nearest')
    preserves left-row multiplicity — two identical left rows must
    produce two output rows, not collapse in the argmin groupBy."""
    import datetime as dt

    from datalake_backend_spark.operators.asof import asof_nearest

    t = dt.datetime(2024, 1, 1, 0, 0, 10)
    left = spark.createDataFrame(
        [("dup", t), ("dup", t), ("solo", t)], "tag string, ts timestamp"
    )
    right = spark.createDataFrame(
        [(100, dt.datetime(2024, 1, 1, 0, 0, 7))], "rid long, rts timestamp"
    )
    rows = asof_nearest(left, right, "ts", "rts", 30, "rid").collect()
    assert len(rows) == 3
    assert sorted(r.tag for r in rows) == ["dup", "dup", "solo"]
    assert all(r.nearest_rid == 100 and r.delta_s == -3 for r in rows)


def test_grid_density_clusters_components(spark):
    """grid_density_clusters (operators/clustering.py; r247): two
    adjacent dense cells share a component, a distant blob gets its
    own, sparse cells vanish as noise, and a singleton dense cell
    labels itself."""
    from datalake_backend_spark.operators.clustering import (
        grid_density_clusters,
    )

    pts = (
        [(10 + i, 10) for i in range(5)]
        + [(18 + i, 10) for i in range(5)]
        + [(100, 100)]
        + [(200 + i, 200) for i in range(4)]
    )
    df = spark.createDataFrame(pts, "x long, y long")
    got = {
        (r.cx, r.cy): (r.n_points, r.cluster_id)
        for r in grid_density_clusters(df, "x", "y", cell=8, min_pts=3).collect()
    }
    assert set(got) == {(1, 1), (2, 1), (25, 25)}
    assert got[(1, 1)][1] == got[(2, 1)][1]
    assert got[(25, 25)][1] != got[(1, 1)][1]
    assert got[(25, 25)][0] == 4


def test_block_jackknife_matches_replication(spark):
    """block_jackknife (operators/distributions.py; r248): constant
    values give se = 0; a varied series matches an independent
    Python replication of the same hash blocks and closed form."""
    import hashlib
    import math

    from pyspark.sql import functions as F

    from datalake_backend_spark.operators.distributions import (
        block_jackknife,
    )

    const = spark.range(0, 100).select(
        F.col("id").alias("u"), F.lit(5.0).alias("v")
    )
    r0 = block_jackknife(const, "v", "u", blocks=8).collect()[0]
    assert r0.jackknife_se == 0.0 and r0.mean == 5.0
    vals = [(i, float(i % 13)) for i in range(200)]
    blocks: dict = {}
    for u, v in vals:
        h = int(hashlib.md5(str(u).encode()).hexdigest()[:15], 16) % 8
        s, n = blocks.get(h, (0, 0))
        blocks[h] = (s + math.floor(v * 10**4), n + 1)
    st = sum(s for s, _ in blocks.values())
    nt = sum(n for _, n in blocks.values())
    center = st / nt
    mis = [
        math.floor(((st - s) / (nt - n) - center) * 1e9)
        for s, n in blocks.values()
    ]
    bb = len(mis)
    var = (sum(m * m for m in mis) - sum(mis) ** 2 / bb) * (bb - 1) / bb
    want = math.sqrt(var) / 1e9 / 1e4
    d = spark.createDataFrame(vals, "u long, v double")
    got = block_jackknife(d, "v", "u", blocks=8).collect()[0]
    assert abs(got.jackknife_se - want) < 1e-18


def test_diff_in_diff_cells(spark):
    """diff_in_diff (operators/evaluation.py; r249): hand-computed
    2×2 — (20−10) − (7−5) = 8 — with per-cell counts and means."""
    from datalake_backend_spark.operators.evaluation import diff_in_diff

    rows = (
        [("treat", "pre", 10.0)] * 2
        + [("treat", "post", 20.0)] * 2
        + [("ctl", "pre", 5.0)] * 2
        + [("ctl", "post", 7.0)] * 2
    )
    d = spark.createDataFrame(rows, "g string, p string, v double")
    r = diff_in_diff(d, "g", "p", "v", "treat", "post").collect()[0]
    assert r.did == 8.0
    assert (r.n_t_pre, r.mean_c_post, r.mean_t_post) == (2, 7.0, 20.0)


def test_reliability_bins_edges(spark):
    """reliability_bins (operators/evaluation.py; r250): score 1.0
    closes into the last bin; per-bin mean score and positive rate
    are exact."""
    from datalake_backend_spark.operators.evaluation import (
        reliability_bins,
    )

    rows = [
        (0.05, 0), (0.05, 1), (0.95, 1), (0.95, 1), (1.0, 1), (0.55, 0),
    ]
    d = spark.createDataFrame(rows, "s double, y int")
    got = {
        r.bin: (r.n, r.mean_score, r.pos_rate)
        for r in reliability_bins(d, "s", "y", 10).collect()
    }
    assert got[0] == (2, 0.05, 0.5)
    assert got[9] == (3, (0.95 + 0.95 + 1.0) / 3, 1.0)
    assert got[5] == (1, 0.55, 0.0)


def test_dhondt_classic_example(spark):
    """apportion_dhondt (operators/allocation.py; r251): the
    textbook 100/80/30/20 with 8 seats gives 4/3/1/0; totals always
    equal the seat count and zero-seat keys still appear."""
    from datalake_backend_spark.operators.allocation import apportion_dhondt

    w = spark.createDataFrame(
        [("A", 100), ("B", 80), ("C", 30), ("D", 20)], "k string, wt int"
    )
    got = {r.k: r.seats_alloc for r in apportion_dhondt(w, "k", "wt", 8).collect()}
    assert got == {"A": 4, "B": 3, "C": 1, "D": 0}
    assert sum(got.values()) == 8


def test_categorical_mi_anchors(spark):
    """categorical_mi (operators/distributions.py; r252):
    independent columns give MI ≈ 0 with H = ln 2; identical columns
    give MI = H and NMI = 1."""
    import math

    from datalake_backend_spark.operators.distributions import categorical_mi

    rows = [(x, y) for x in "ab" for y in "cd" for _ in range(10)]
    ind = spark.createDataFrame(rows, "x string, y string")
    r = categorical_mi(ind, "x", "y").collect()[0]
    assert abs(r.mi) < 1e-6 and abs(r.h_x - math.log(2)) < 1e-6
    same = spark.createDataFrame([(c, c) for c in "aabb"], "x string, y string")
    r2 = categorical_mi(same, "x", "y").collect()[0]
    assert abs(r2.nmi - 1.0) < 1e-6 and abs(r2.mi - r2.h_x) < 1e-6


def test_cohort_ltv_cumulative(spark):
    """cohort_ltv (operators/windows.py; r253): a two-user week-0
    cohort accumulates 40 then 60 total → 20 then 30 per user."""
    import datetime as dt

    from datalake_backend_spark.operators.windows import cohort_ltv

    rows = [
        (1, dt.datetime(2024, 1, 1), 10.0),
        (1, dt.datetime(2024, 1, 9), 20.0),
        (2, dt.datetime(2024, 1, 2), 30.0),
    ]
    d = spark.createDataFrame(rows, "u long, ts timestamp, v double")
    got = sorted(
        (r.age, r.n_users, r.ltv_per_user)
        for r in cohort_ltv(d, "u", "ts", "v").collect()
    )
    assert got == [(0, 2, 20.0), (1, 2, 30.0)]


def test_weighted_quantiles_crossing_rule(spark):
    """weighted_quantiles (operators/distributions.py; r255): equal
    unit weights reproduce positional quartiles; a dominant weight
    drags every quantile to its value; q_1_2 agrees with
    weighted_median."""
    from datalake_backend_spark.operators.distributions import (
        weighted_median,
        weighted_quantiles,
    )

    d = spark.createDataFrame(
        [("k", float(v), 1) for v in [1, 2, 3, 4]],
        "k string, v double, w int",
    )
    r = weighted_quantiles(d, ["k"], "v", "w").collect()[0]
    assert (r.q_1_4, r.q_1_2, r.q_3_4) == (1.0, 2.0, 3.0)
    d2 = spark.createDataFrame(
        [("k", 10.0, 1), ("k", 20.0, 9)], "k string, v double, w int"
    )
    wq = weighted_quantiles(d2, ["k"], "v", "w").collect()[0]
    wm = weighted_median(d2, ["k"], "v", "w").collect()[0]
    assert wq.q_1_4 == wq.q_1_2 == wq.q_3_4 == 20.0
    assert wq.q_1_2 == wm.weighted_median_scaled / 1e4


def test_contiguous_islands_runs(spark):
    """contiguous_islands (operators/windows.py; r257): runs split
    at gaps, missing-in-span counts interior holes only, buckets
    separate."""
    from datalake_backend_spark.operators.windows import contiguous_islands

    ids = [1, 2, 3, 7, 8, 10, 100001]
    d = spark.createDataFrame([(i,) for i in ids], "id long")
    got = {
        r.id_bucket: (
            r.n_present, r.n_islands, r.longest_run, r.n_missing_in_span
        )
        for r in contiguous_islands(d, "id").collect()
    }
    assert got == {0: (6, 3, 3, 4), 1: (1, 1, 1, 0)}


def test_hilbert_key_reference_bijective_adjacent(spark):
    """with_hilbert_key (core/geometry.py; r258): matches the
    textbook d2xy reference on the full 64×64 grid, is bijective
    onto [0, 4096), and consecutive indices are unit-adjacent points
    — the locality property that makes it a layout key."""
    from datalake_backend_spark.core.geometry import with_hilbert_key

    def xy2d(order, x, y):
        d = 0
        s = 1 << (order - 1)
        while s > 0:
            rx = 1 if (x & s) > 0 else 0
            ry = 1 if (y & s) > 0 else 0
            d += s * s * ((3 * rx) ^ ry)
            if ry == 0:
                if rx == 1:
                    x, y = s - 1 - x, s - 1 - y
                x, y = y, x
            s //= 2
        return d

    order, n = 6, 64
    df = spark.createDataFrame(
        [(x, y) for x in range(n) for y in range(n)], "x long, y long"
    )
    got = {
        (r.x, r.y): r.hkey
        for r in with_hilbert_key(df, "x", "y", order).collect()
    }
    assert all(d == xy2d(order, x, y) for (x, y), d in got.items())
    assert sorted(got.values()) == list(range(n * n))
    inv = {d: p for p, d in got.items()}
    assert all(
        abs(inv[d][0] - inv[d + 1][0]) + abs(inv[d][1] - inv[d + 1][1]) == 1
        for d in range(n * n - 1)
    )


def test_exact_percentiles_matches_numpy_linear(spark):
    """exact_percentiles (operators/distributions.py; round-12, backs
    r38/r107): order-statistic selection at exact rational ranks +
    one shared interpolation must equal numpy's 'linear' percentile
    to 1e-9 — including tie-heavy data, single-row groups (frac
    interpolates within the only value), and q hitting an exact rank
    (rem == 0 -> no interpolation). NOT bit-for-bit vs numpy: numpy
    computes the position as float q·(n−1) and can drift a few ulp
    (observed 97.72000000000003 where the exact rational answer is
    97.72) — the operator's position is exact integer arithmetic, and
    its CROSS-ENGINE bit-exactness is what the r38/r107 oracles pin."""
    import numpy as np

    from datalake_backend_spark.operators.distributions import (
        exact_percentiles,
    )

    rng = np.random.default_rng(11)
    vals = np.round(rng.uniform(0, 100, 2000), 0)  # heavy ties
    keys = rng.integers(0, 3, 2000)
    rows = [(f"k{k}", float(v)) for k, v in zip(keys, vals)]
    rows.append(("solo", 42.5))  # single-row group
    df = spark.createDataFrame(rows, "k string, v double")
    got = {
        r.k: (r.p_1_4, r.p_1_2, r.p_97_100)
        for r in exact_percentiles(
            df, "v", [(1, 4), (1, 2), (97, 100)], ["k"]
        ).collect()
    }
    for k in ("k0", "k1", "k2"):
        sel = vals[np.array([f"k{x}" for x in keys]) == k]
        want = tuple(
            float(np.percentile(sel, p, method="linear"))
            for p in (25, 50, 97)
        )
        assert all(
            abs(a - b) < 1e-9 for a, b in zip(got[k], want)
        ), (k, got[k], want)
    assert got["solo"] == (42.5, 42.5, 42.5)


def test_keyed_running_sum_repeat_calls_release_their_input(spark):
    """The kernel pins its input under the caller's owner: a repeat call
    inside a scope returns row-identical results, and leaving the scope
    releases every frame both calls pinned."""
    from datalake_backend_spark.core.materialize import scope
    from datalake_backend_spark.operators import ranking

    df = spark.createDataFrame(
        [(f"k{i % 3}", i, (i * 7) % 11 + 1) for i in range(400)],
        "k string, v bigint, w bigint",
    )
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())

    def run():
        return {
            (r.k, r.v): r.cum
            for r in ranking.keyed_running_sum(
                df, ["k"], ["v"], "w", out_col="cum"
            ).collect()
        }

    with scope("repeat"):
        first, second = run(), run()
        assert set(jsc.getPersistentRDDs().keys()) - before
    assert first == second
    assert set(jsc.getPersistentRDDs().keys()) - before == set()


def test_tuple_splitters_split_tie_heavy_leading_metric(spark):
    """Full-tuple splitter sampler (operators/ranking.py, round 13):
    when one leading value covers most rows (the RFM-frequency shape),
    the sampled splitters must cut INSIDE the tie group on the
    tiebreak column — a first-column-only boundary would funnel the
    whole group through one window task. Correctness is pinned by the
    NTILE result; balance by the splitter tuples themselves."""
    from datalake_backend_spark.operators.ranking import (
        _sample_splitters,
        ntile_exact,
    )

    # 90% of rows share freq=1; ids break the ties
    rows = [(1 if i % 10 else 2, f"u{i:05d}") for i in range(3000)]
    df = spark.createDataFrame(rows, "freq int, uid string")
    sp, n_est = _sample_splitters(df, ["freq", "uid"], 16)
    assert 0 < n_est  # free sizing estimate rides the sampler pass
    inside_tie = [t for t in sp if t[0] == 1]
    assert len(inside_tie) >= 8, sp  # cuts land inside the giant tie group
    # and the distributed NTILE over that order matches the SQL-standard
    # closed form computed driver-side
    got = {
        r.uid: r.bucket
        for r in ntile_exact(df, ["freq", "uid"], 4, out_col="bucket").collect()
    }
    ordered = sorted(rows)
    n = len(ordered)
    base, rem = divmod(n, 4)
    want = {}
    pos = 0
    for b in range(1, 5):
        size = base + (1 if b <= rem else 0)
        for _, uid in ordered[pos : pos + size]:
            want[uid] = b
        pos += size
    assert got == want


def test_keyed_running_sum_total_col(spark):
    """total_col (round 13): the per-key grand total must ride the
    metadata offsets frame and equal a plain groupBy sum — including
    negative deltas (sweep-line shapes), where a max-based total would
    be wrong."""
    from datalake_backend_spark.operators.ranking import keyed_running_sum

    df = spark.createDataFrame(
        [("a", 1, 5), ("a", 2, -3), ("a", 3, 4), ("b", 1, -2), ("b", 2, -1)],
        "k string, v int, w bigint",
    )
    out = keyed_running_sum(
        df, ["k"], ["v"], "w", out_col="cum", total_col="tot"
    ).collect()
    tots = {r.k: r.tot for r in out}
    assert tots == {"a": 6, "b": -3}
    finals = {r.k: r.cum for r in out if (r.k, r.v) in {("a", 3), ("b", 2)}}
    assert finals == {"a": 6, "b": -3}


def test_kernel_empty_input_and_bucket_cap(spark):
    """Kernel edge cases (operators/ranking.py): (a) empty inputs
    produce empty results through keyed_running_sum / ntile_exact /
    rfm_segments instead of a sampler or window crash; (b) at a
    cluster-realistic spark.sql.shuffle.partitions=2000 the bucket
    count clamps to _MAX_BUCKETS (the round-12 ADVICE cap) and the
    result is still exact."""
    from datalake_backend_spark.operators import ranking

    empty = spark.createDataFrame([], "k string, v bigint, w bigint")
    assert (
        ranking.keyed_running_sum(empty, ["k"], ["v"], "w").count() == 0
    )
    assert ranking.ntile_exact(empty.select("v", "k"), ["v", "k"], 4).count() == 0
    ev = spark.createDataFrame(
        [], "user_id string, ts timestamp, value double"
    )
    assert ranking.rfm_segments(ev).count() == 0

    df = spark.createDataFrame(
        [(i, (i * 37) % 101) for i in range(300)], "id bigint, value bigint"
    )
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "2000")
        assert ranking._bucket_count(spark) == ranking._MAX_BUCKETS
        got = {
            r.id: r.cum
            for r in ranking.keyed_running_sum(
                df, [], ["value", "id"], "value", out_col="cum"
            ).collect()
        }
        want = {}
        run = 0
        for v, i in sorted((v, i) for i, v in [(r, (r * 37) % 101) for r in range(300)]):
            run += v
            want[i] = run
        assert got == want
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_kernel_rejects_float_value_column(spark):
    """keyed_running_sum (round 13): a float value column must fail
    LOUD — the internal bigint cast would truncate silently, and float
    partial sums are partition-order-dependent, breaking the
    engine-exactness contract every caller relies on."""
    import pytest

    from datalake_backend_spark.operators.ranking import keyed_running_sum

    df = spark.createDataFrame([("a", 1, 0.5)], "k string, v int, w double")
    with pytest.raises(ValueError, match="integral value column"):
        keyed_running_sum(df, ["k"], ["v"], "w")
    with pytest.raises(ValueError, match="order column"):
        keyed_running_sum(df.select("k", "v", (df.w * 2).cast("long").alias("w")), ["k"], [], "w")


def test_splitter_sampler_drops_nan_candidates(spark):
    """NaN hazard (round-13 ADVICE): float NaN compares inconsistently
    under Python's sort, so a NaN in a sampled order column could
    yield splitters that violate the binary-search tree's
    sorted-invariant and silently corrupt global ranks. The sampler
    must drop NaN-bearing candidates (splitters only affect balance),
    and the end-to-end rank must still match Spark's own NaN-last
    ordering."""
    import math

    from datalake_backend_spark.operators.ranking import (
        _sample_splitters,
        global_rank,
    )

    nan = float("nan")
    rows = []
    for i in range(600):
        # every third row NaN — a sampler stride is guaranteed to hit them
        v = nan if i % 3 == 0 else float(i % 50)
        rows.append((v, f"id{i:04d}"))
    df = spark.createDataFrame(rows, "v double, uid string").repartition(8)
    sp, _ = _sample_splitters(df, ["v", "uid"], 16)
    assert sp, "sampler returned no splitters on 600 rows"
    # no float NaN survives into the splitter list (the Arrow
    # round-trip nullifies NaN on this path — from_pandas semantics —
    # and the explicit filter guards any non-Arrow source; a NULL
    # splitter is balance-suboptimal but monotone-safe)
    assert all(t[0] is None or not math.isnan(t[0]) for t in sp), sp
    # sorted-invariant holds (what the CASE tree requires)
    from datalake_backend_spark.operators.ranking import _sort_key

    keys = [_sort_key(t) for t in sp]
    assert keys == sorted(keys), sp
    got = {
        r.uid: r.rank
        for r in global_rank(df, ["v", "uid"], out_col="rank").collect()
    }
    # Spark orders NaN LAST: expected rank from a NaN-last driver sort
    expected_order = sorted(
        rows, key=lambda t: (math.isnan(t[0]), 0.0 if math.isnan(t[0]) else t[0], t[1])
    )
    want = {uid: i + 1 for i, (_, uid) in enumerate(expected_order)}
    assert got == want


def test_percentile_bounds_path_survives_nan(spark):
    """The numeric (percentile_approx) boundary path must also stay
    sane when the order column carries NaN: cut points are filtered of
    NaN before the sorted() the CASE tree requires, and NaN rows land
    in the top bucket (Spark treats NaN as largest), so the global
    running sum still reconciles."""
    nan = float("nan")
    rows = [(float(i % 100), 1) for i in range(500)] + [(nan, 1)] * 20
    df = spark.createDataFrame(rows, "v double, w bigint")
    from datalake_backend_spark.operators import ranking

    out = ranking.global_running_sum(df, ["v"], "w", out_col="cum")
    cums = [r.cum for r in out.collect()]
    # 520 rows of weight 1: the inclusive prefix sums must be a
    # permutation-free 1..520 (any bucket/offset corruption breaks this)
    assert sorted(cums) == list(range(1, 521))


def test_rfm_segments_null_user_preserved(spark):
    """NULL-user group (round-13 ADVICE): groupBy(user_col) emits one
    group for NULL users and the score-reassembly joins must be
    NULL-safe — an inner join on the column name silently dropped that
    row (and diverged from the DuckDB NTILE twin on NULL-bearing
    data)."""
    from datalake_backend_spark.operators.ranking import rfm_segments

    rows = [
        (f"u{i % 7}" if i % 11 else None, float(i % 5 + 1), i)
        for i in range(220)
    ]
    df = spark.createDataFrame(rows, "user_id string, value double, n int").select(
        "user_id",
        F.timestamp_micros(F.col("n") * 1_000_000).alias("ts"),
        "value",
    )
    out = rfm_segments(df, n=3).collect()
    users = {r.user_id for r in out}
    assert None in users, "NULL-user group was dropped by the score joins"
    assert len(out) == 8  # u0..u6 + the NULL group, one row each
    null_row = next(r for r in out if r.user_id is None)
    # the NULL group aggregated all 20 NULL events
    assert null_row.frequency == len([r for r in rows if r[0] is None])
    assert set("123") >= set(null_row.segment)


def test_keyed_running_sum_correct_after_data_growth(spark, tmp_path):
    """A long-lived session that re-runs the same plan over a table
    grown 10x into a disjoint, higher value range: the boundary job runs
    on every call, so the prefix sums stay exact at both sizes."""
    from datalake_backend_spark.operators import ranking

    path = str(tmp_path / "grow")
    spark.createDataFrame(
        [(float(i % 100), 1) for i in range(1000)], "v double, w bigint"
    ).write.mode("overwrite").parquet(path)

    def run():
        df = spark.read.parquet(path)
        return ranking.keyed_running_sum(df, [], ["v"], "w", out_col="cum")

    assert sorted(r.cum for r in run().collect()) == list(range(1, 1001))
    spark.createDataFrame(
        [(100.0 + float(i % 900), 1) for i in range(9000)],
        "v double, w bigint",
    ).write.mode("append").parquet(path)
    cums = sorted(r.cum for r in run().collect())
    assert cums == list(range(1, 10001))  # correctness at the new size


def test_skyline_adversarial_all_frontier_two_phase(spark):
    """Round-14 skyline rework: the final sweep is range-bucketed
    (sampled splitters + per-bucket window + <=64 metadata carry-in
    rows), never a data-sized unpartitioned window. The adversarial
    shape — EVERY point on the frontier (y rises as x falls), so the
    local prune removes nothing — must still return all points, and
    the executed plan's only unpartitioned window must be the
    metadata prefix-max (input: an aggregate over bucket ids, not
    data rows)."""
    from datalake_backend_spark.operators import ranking
    from datalake_backend_spark.operators.skyline import skyline_2d

    n = 5000
    rows = [(float(i), float(n - i)) for i in range(n)]  # all undominated
    df = spark.createDataFrame(rows, "x double, y double").repartition(8)
    out = skyline_2d(df, "x", "y")
    assert out.count() == n
    plan = out._jdf.queryExecution().executedPlan().toString()
    import re

    unpart = [
        m.group(0)
        for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan)
        if not m.group(1).split(",")[0].strip().startswith("_b")
        and "_p" not in m.group(1).split(",")[0]
    ]
    # the only unpartitioned spec orders by _b (metadata rows); the
    # data window leads with the _b partition column
    for spec in unpart:
        assert "_b" in spec, plan


def test_family_pins_bounded_unscoped_and_released_in_scope(spark):
    """The share-the-scan pins of the text, dedup and association
    families: called outside every scope, repeated rounds leave the
    JVM's persisted-RDD count flat (the session FIFO keeps 8); called
    inside a scope, each round leaves no persisted RDD behind."""
    from datalake_backend_spark.core import materialize
    from datalake_backend_spark.datapipe import dedup
    from datalake_backend_spark.datapipe import text as textmod
    from datalake_backend_spark.operators import association

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta w{i % 5}") for i in range(40)],
        "doc_id long, text string",
    )
    baskets = spark.createDataFrame(
        [(i % 7, f"i{i % 5}") for i in range(60)],
        "basket long, item string",
    )
    jsc = spark.sparkContext._jsc

    def persisted() -> set:
        return set(jsc.getPersistentRDDs().keys())

    def one_round() -> None:
        textmod.bm25_scores(docs, ["alpha", "beta"]).count()
        textmod.bm25_multi_query(docs, {"q1": ["alpha"], "q2": ["beta"]}).count()
        textmod.tfidf_top_terms(docs).count()
        association.association_lift(baskets, "basket", "item").count()
        dedup.set_similarity_join(docs, 1, 2).count()

    materialize.release_all()
    before = persisted()
    sizes = []
    for _ in range(3):
        one_round()
        sizes.append(len(persisted() - before))
    assert sizes[1] == sizes[2] <= materialize._SESSION_KEEP, sizes
    materialize.release_all()
    assert persisted() - before == set()
    for _ in range(2):
        with materialize.scope("family"):
            one_round()
        assert persisted() - before == set()
