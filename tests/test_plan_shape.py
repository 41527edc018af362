"""Plan-shape regression tests: lock in the scale guarantees.

These assert properties of the PHYSICAL PLAN, not results — a change
that silently adds a shuffle or drops pushdown fails here long before
it shows up in a 100 TB bill.
"""

from __future__ import annotations

import io
import contextlib
import re

import pytest
from pyspark.sql import functions as F

from datalake_backend_spark.operators.sessionize import sessionize_by_gap
from datalake_backend_spark.operators.windows import change_count
from datalake_backend_spark.queries import QUERIES

SF_DIR = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def shuffle_count(plan: str) -> int:
    # node list entries like "(4) Exchange"; BroadcastExchange excluded
    return len(re.findall(r"^\(\d+\) Exchange\b", plan, re.M))


def test_sessionize_single_shuffle(spark):
    ev = spark.createDataFrame(
        [("u", float(i)) for i in range(10)], "id string, t double"
    )
    plan = plan_of(sessionize_by_gap(ev, ["id"], "t", 2.0))
    assert shuffle_count(plan) == 1, plan


def test_window_metric_single_shuffle(spark):
    ev = spark.createDataFrame(
        [("u", float(i), "x") for i in range(10)], "id string, t double, s string"
    )
    plan = plan_of(change_count(ev, ["id"], ["t"], "s"))
    assert shuffle_count(plan) == 1, plan


def test_q01_pushdown_and_pruning(spark):
    plan = plan_of(QUERIES["q01_pricing_summary"].fn(spark, SF_DIR))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    m = re.search(r"ReadSchema: struct<([^>]*)", plan)
    read_cols = m.group(1)
    assert "l_orderkey" not in read_cols  # unused column pruned
    assert "l_quantity" in read_cols


def test_q02_broadcasts_dimension(spark):
    plan = plan_of(QUERIES["r02_shipping_priority"].fn(spark, SF_DIR))
    assert "BroadcastExchange" in plan
    assert "EqualTo(c_mktsegment,BUILDING)" in plan  # filter pushed to scan


def test_value_distribution_no_global_window(spark):
    """The share-of-total must be a broadcast scalar, never a
    partition-less WindowExec (single-partition serializer at high
    group cardinality)."""
    from datalake_backend_spark.operators.distributions import value_distribution

    df = spark.createDataFrame([(str(i % 5),) for i in range(50)], "v string")
    out = value_distribution(df, "v")
    plan = plan_of(out)
    assert "Window" not in plan, plan
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan, plan
    # single scan: AQE reuses the hash exchange between the counted
    # branch and the scalar-total branch at runtime
    out.collect()
    final = out._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in final or "ReusedQueryStage" in final, final


def test_repetition_metrics_map_only(spark):
    """Per-doc repetition stats must stay a pure projection — the
    relational alternative shuffles every n-gram of a 100 TB corpus."""
    from datalake_backend_spark.datapipe.text import repetition_metrics

    df = spark.createDataFrame([(1, "a b a b c")], ["doc_id", "text"])
    plan = plan_of(repetition_metrics(df))
    assert shuffle_count(plan) == 0, plan
    assert "BroadcastExchange" not in plan


def test_sampling_map_only(spark):
    """Deterministic sampling/splitting is a filter/projection — no
    shuffle, no window, so it composes under any upstream partitioning."""
    from datalake_backend_spark.datapipe.sampling import (
        deterministic_split,
        stratified_sample,
    )

    df = spark.createDataFrame([(1, "en")], ["doc_id", "lang"])
    s = stratified_sample(df, "lang", {"en": 0.5}, key_col="doc_id")
    plan = plan_of(deterministic_split(s, "doc_id", {"a": 0.5, "b": 0.5}))
    assert shuffle_count(plan) == 0, plan
    assert "Window" not in plan


def test_contamination_broadcasts_eval(spark):
    """The eval fingerprint set must broadcast: the train side feeds a
    BroadcastHashJoin with no sort-merge and no text shuffle before the
    final per-doc aggregate."""
    from datalake_backend_spark.datapipe.dedup import contamination

    tr = spark.createDataFrame(
        [(i, "w x y z a b c d e f") for i in range(20)], ["doc_id", "text"]
    )
    ev = spark.createDataFrame([(100, "a b c d e f")], ["doc_id", "text"])
    plan = plan_of(contamination(tr, ev, window=4))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_chunk_overlap_no_cartesian(spark):
    """Containment candidates come from the fingerprint equi-join —
    never a nested-loop/cartesian stage."""
    from datalake_backend_spark.datapipe.dedup import chunk_overlap_pairs

    df = spark.createDataFrame(
        [(i, "a b c d e f g h i j") for i in range(5)], ["doc_id", "text"]
    )
    plan = plan_of(chunk_overlap_pairs(df, window=4))
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan, plan


def test_sequence_packing_no_global_data_window(spark):
    """The global offset must come from the two-phase kernel
    (ranking.keyed_running_sum, round 13): the data-path running sum
    is partitioned by the value-derived bucket _p, the only
    partition-less window runs over per-bucket TOTALS (_pv —
    metadata-sized by construction), and nothing is pinned through a
    localCheckpoint (no ExistingRDD leaf beyond the createDataFrame
    input itself) — never a whole-corpus single-task sort."""
    from datalake_backend_spark.datapipe.packing import token_stream_offsets

    df = spark.createDataFrame(
        [(i, "a b c") for i in range(100)], ["doc_id", "text"]
    )
    plan = plan_of(token_stream_offsets(df))
    windows = [
        b for b in plan.split("\n\n") if b.strip().startswith("(") and
        b.strip().splitlines()[0].endswith("Window")
    ]
    assert len(windows) == 2, plan
    for b in windows:
        if "text#" in b:  # the data-path window carries the text column
            # partitioned spec renders as "..., [_p#N], [doc_id#N ASC..."
            assert re.search(r", \[_p#\d+\], \[doc_id#\d+L? ASC", b), b
        else:  # totals window: input is (_p, _pv) only — metadata-sized
            assert "_pv#" in b, b
    # exactly one ExistingRDD NODE: the createDataFrame input (a
    # localCheckpoint would add a second, distinct leaf node)
    rdd_nodes = re.findall(r"^\(\d+\) Scan ExistingRDD", plan, re.M)
    assert len(rdd_nodes) <= 1, plan


def test_sessionized_summary_single_shuffle(spark):
    """The fused summary+sessions operator must keep ONE exchange:
    window → groupBy(entity, sid) → groupBy(entity) all share the
    entity hash partitioning (the round-4 q52 fix: 8 → 2 exchanges)."""
    from datalake_backend_spark.operators.sessionize import sessionized_summary

    ev = spark.createDataFrame(
        [("s", float(i), i % 3 == 0) for i in range(12)],
        "id string, t double, occ boolean",
    )
    plan = plan_of(sessionized_summary(ev, ["id"], "t", "occ", True))
    assert shuffle_count(plan) == 1, plan


def test_sessionize_no_join(spark):
    """sessionize is a single windowed pass + one conditional aggregate
    — the old two-branch groupBy + join re-evaluated the input."""
    from datalake_backend_spark.operators.sessionize import sessionize

    ev = spark.createDataFrame(
        [("s", float(i), i % 3 == 0) for i in range(12)],
        "id string, t double, occ boolean",
    )
    plan = plan_of(sessionize(ev, ["id"], "t", "occ", True))
    assert shuffle_count(plan) == 1, plan
    assert "Join" not in plan, plan


def test_upsert_scans_each_side_once(spark, tmp_path):
    """The full-outer upsert evaluates base and updates ONCE each; the
    anti-join + union form scanned the deduped updates twice and base
    twice (7 parquet scans in the old q64 plan)."""
    from datalake_backend_spark.operators.merge import upsert

    base_p, upd_p = str(tmp_path / "base"), str(tmp_path / "upd")
    spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0)], "key long, seg string, bal double"
    ).write.parquet(base_p)
    spark.createDataFrame(
        [(2, "b", 9.0), (3, "c", 3.0)], "key long, seg string, bal double"
    ).write.parquet(upd_p)
    out = upsert(
        spark.read.parquet(base_p), spark.read.parquet(upd_p), ["key"]
    )
    plan = plan_of(out)
    # node-list entries only — the formatted detail section repeats them
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M)) == 2, plan
    got = {r.key: (r.seg, r.bal) for r in out.collect()}
    assert got == {1: ("a", 1.0), 2: ("b", 9.0), 3: ("c", 3.0)}


def test_dynamic_partition_pruning_on_partitioned_zone(spark, tmp_path):
    """A date-partitioned fact joined to a selectively-filtered dim
    must plan a dynamic partition pruning subquery — at 100 TB this is
    the difference between scanning 3 partitions and 3000. Locks in
    that zone tables partitioned by ingest date keep DPP eligible."""
    fact_path = str(tmp_path / "fact")
    n_days = 20
    fact = spark.range(0, 20_000).select(
        F.col("id"),
        (F.col("id") % n_days).cast("int").alias("day"),
        (F.col("id") % 100).cast("double").alias("v"),
    )
    fact.write.partitionBy("day").parquet(fact_path)
    dim = spark.range(0, n_days).select(
        F.col("id").cast("int").alias("day"),
        F.when(F.col("id") < 3, "hot").otherwise("cold").alias("tier"),
    )
    j = (
        spark.read.parquet(fact_path)
        .join(dim.where(F.col("tier") == "hot"), "day")
        .groupBy("day")
        .agg(F.sum("v").alias("s"))
    )
    plan = plan_of(j)
    assert re.search(r"dynamicpruning", plan, re.I), plan
    # and it actually returns only the 3 hot days
    assert j.count() == 3


def test_runtime_bloom_filter_join_pruning(spark, tmp_path):
    """A shuffle join against a selectively-filtered build side must
    inject Spark's runtime bloom filter on the probe side (a
    bloom_filter_agg subquery feeding might_contain above the fact
    scan) — at 100 TB this drops most probe rows BEFORE the shuffle,
    the row-level sibling of dynamic partition pruning. The size
    thresholds are lowered to make the sf-tiny fixture eligible; the
    optimization itself ships enabled in config.py."""
    fact_path, dim_path = str(tmp_path / "fact"), str(tmp_path / "dim")
    spark.range(0, 200_000).select(
        (F.col("id") % 1000).alias("k"),
        (F.col("id") % 97).cast("double").alias("v"),
    ).write.parquet(fact_path)
    spark.range(0, 1000).select(
        F.col("id").alias("k"),
        F.when(F.col("id") < 5, "hot").otherwise("cold").alias("tier"),
    ).write.parquet(dim_path)

    overrides = {
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force shuffle join
    }
    saved = {k: spark.conf.get(k) for k in overrides}
    try:
        for k, v in overrides.items():
            spark.conf.set(k, v)
        assert spark.conf.get(
            "spark.sql.optimizer.runtime.bloomFilter.enabled"
        ) == "true"
        j = (
            spark.read.parquet(fact_path)
            .join(
                spark.read.parquet(dim_path).where(F.col("tier") == "hot"),
                "k",
            )
            .groupBy("k")
            .agg(F.sum("v").alias("s"))
        )
        plan = j._jdf.queryExecution().toString()
        assert re.search(r"bloom_filter_agg", plan), plan[:2000]
        assert re.search(r"might_contain", plan, re.I), plan[:2000]
        assert j.count() == 5
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_global_running_sum_no_unpartitioned_data_window(spark):
    """global_running_sum / abc_classification (operators/ranking.py;
    r211): the cumulative sum must come from per-partition windows +
    a metadata-row offset prefix sum — an unpartitioned WindowExec
    over the DATA (rows >> #partitions) would be the single-reducer
    sort the two-phase idiom exists to avoid. The offsets window IS
    unpartitioned, but runs over #shuffle-partitions rows; assert the
    data-side window keeps its _p partition key."""
    from datalake_backend_spark.operators.ranking import abc_classification

    df = spark.createDataFrame(
        [(i, (i * 37) % 100 + 1) for i in range(200)], "id bigint, value bigint"
    )
    out = abc_classification(df, "id", "value")
    plan = plan_of(out)
    assert "windowspecdefinition(_p" in plan or "partitionBy" not in plan, plan
    # and the result is correct end-to-end: cum of the top row == its value
    top = out.orderBy("cum_value").limit(1).collect()[0]
    assert top.cum_value == top.value


def test_ranking_family_no_checkpoint_scan(spark):
    """global_rank / ntile_exact / keyed_running_sum (operators/
    ranking.py; round-12 VERDICT ask #3): the two-phase prefix family
    must derive its buckets from VALUES (frozen boundary literals) —
    never from ``localCheckpoint``-pinned ``spark_partition_id``,
    whose eager materialization writes the whole frame to executor
    disks (a real cost at 100 TB). A checkpointed frame surfaces in
    the plan as a ``Scan ExistingRDD`` leaf, so with a parquet input
    the only leaves must be the parquet scan / its in-memory cache
    (a createDataFrame input would itself be an ExistingRDD — hence
    the file source here)."""
    from datalake_backend_spark.operators.ranking import (
        keyed_running_sum,
        ntile_exact,
    )

    df = (
        spark.read.parquet(f"{SF_DIR}/orders.parquet")
        .select(
            F.col("o_orderkey").alias("id"),
            (F.col("o_totalprice") * 100).cast("bigint").alias("value"),
        )
    )
    n = df.count()
    for out in (
        ntile_exact(df, ["value", "id"], 4),
        keyed_running_sum(df, [], ["value", "id"], "value"),
    ):
        plan = plan_of(out)
        assert "ExistingRDD" not in plan, plan[:2000]
        assert out.count() == n


def test_keyed_running_sum_matches_window_semantics(spark):
    """keyed_running_sum (operators/ranking.py; round-12 scale fix):
    the two-phase per-key prefix sum must equal the plain per-key
    window cumulative on every row — including keys whose rows span
    multiple range partitions — and its data-side window must keep
    the _p partition key (the whole point is no per-key single-reducer
    sort when distinct values ≈ raw rows)."""
    from pyspark.sql import Window

    from datalake_backend_spark.operators.ranking import keyed_running_sum

    df = spark.createDataFrame(
        [(f"k{i % 3}", i, (i * 7) % 11 + 1) for i in range(500)],
        "k string, v bigint, w bigint",
    )
    got = {
        (r.k, r.v): r.cum
        for r in keyed_running_sum(df, ["k"], ["v"], "w", out_col="cum").collect()
    }
    w = Window.partitionBy("k").orderBy("v").rowsBetween(
        Window.unboundedPreceding, 0
    )
    want = {
        (r.k, r.v): r.cum
        for r in df.withColumn("cum", F.sum("w").over(w)).collect()
    }
    assert got == want
    plan = plan_of(keyed_running_sum(df, ["k"], ["v"], "w"))
    assert "windowspecdefinition(_p" in plan, plan


def test_nearest_neighbor_join_no_cartesian(spark):
    """nearest_within_radius (r234): the radius bound must turn NN
    into a grid equi-join — no CartesianProduct, no
    BroadcastNestedLoopJoin — with the argmin as one hash aggregate
    over candidates."""
    from datalake_backend_spark.core.geometry import nearest_within_radius

    left = spark.range(100).select(
        F.col("id").alias("lid"),
        (F.col("id") * 37 % 1000).alias("x"),
        (F.col("id") * 91 % 1000).alias("y"),
    )
    right = spark.range(20).select(
        F.col("id").alias("rid"),
        (F.col("id") * 53 % 1000).alias("x"),
        (F.col("id") * 17 % 1000).alias("y"),
    )
    plan = plan_of(nearest_within_radius(left, right, 40, "lid", "rid"))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_asof_nearest_no_cartesian(spark):
    """asof_nearest (r246): the tolerance bound must make time-NN an
    epoch-bucket equi-join, never an inequality-only join (which
    Spark would plan as a nested loop)."""
    import datetime as dt

    from datalake_backend_spark.operators.asof import asof_nearest

    left = spark.createDataFrame(
        [(i, dt.datetime(2024, 1, 1, 0, i % 60)) for i in range(60)],
        "eid long, ts timestamp",
    )
    right = spark.createDataFrame(
        [(100 + i, dt.datetime(2024, 1, 1, 0, (i * 7) % 60)) for i in range(20)],
        "rid long, rts timestamp",
    )
    plan = plan_of(asof_nearest(left, right, "ts", "rts", 300, "rid"))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_kmv_and_priority_two_phase_rank(spark):
    """kmv_distinct / priority_sample (r240/r241): the first rank
    window must partition by (keys..., bucket) — the skew-safe
    two-phase shape — never a single global sort of the raw rows."""
    from datalake_backend_spark.datapipe.sampling import priority_sample
    from datalake_backend_spark.operators.distributions import kmv_distinct

    df = spark.range(1000).select(
        F.col("id").alias("v"), (F.col("id") % 3).alias("g")
    )
    plan = plan_of(kmv_distinct(df, "v", ["g"], k=16))
    # two rank windows = two sorts, each hash-partitioned (no global
    # "Sort [**]" without partitioning over raw data)
    assert plan.count("Window") >= 2, plan
    samp = spark.range(1000).select(
        F.col("id").alias("key"),
        (F.col("id") % 3).alias("grp"),
        (F.col("id") % 7 + 1).cast("double").alias("w"),
    )
    plan2 = plan_of(priority_sample(samp, "w", "key", 5, group_col="grp"))
    assert plan2.count("Window") >= 2, plan2


def test_rfm_score_joins_stay_equi_joins(spark):
    """rfm_segments (round 14): the NULL-safe score reassembly joins
    on a STRUCT-wrapped user key by NAME — struct equality is
    null-safe on its fields AND stays an extractable equi-join. The
    regression this pins: an eqNullSafe EXPRESSION condition under the
    r/f/m self-join lineage (all three score frames derive from the
    same persisted per-user frame) planned as BroadcastNestedLoopJoin,
    an O(n*m) scale-killer. Every _jk join must be a hash/merge join;
    no nested-loop join may carry the _jk key (the only legitimate
    BNLJ is the 1-row recency-anchor broadcast, which has no _jk)."""
    import datetime as dt

    from datalake_backend_spark.operators.ranking import rfm_segments

    df = spark.createDataFrame(
        [
            (f"u{i % 40}", dt.datetime(2024, 1, 1 + i % 27), float(i % 9 + 1))
            for i in range(400)
        ],
        "user_id string, ts timestamp, value double",
    )
    # raw executedPlan string: join KEYS print on the node line there
    # (explain("formatted") moves them to a details section)
    plan = (
        rfm_segments(df, n=4)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    join_lines = [
        ln for ln in plan.splitlines() if "Join" in ln and "_jk" in ln
    ]
    equi = [
        ln
        for ln in join_lines
        if "BroadcastHashJoin" in ln
        or "SortMergeJoin" in ln
        or "ShuffledHashJoin" in ln
    ]
    assert len(equi) >= 3, plan  # the three score joins
    assert not any("BroadcastNestedLoopJoin" in ln for ln in join_lines), plan
