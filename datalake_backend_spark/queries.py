"""Driver-facing query registry: Spark implementation + DuckDB oracle.

Each entry exercises one or more operators from SURVEY §2 on the
synthetic testdata tables (TESTDATA.md) and carries the ANSI-SQL oracle
the driver runs side-by-side in DuckDB. The mapping of reference
operators onto the TPC-H-ish tables follows FIXTURES.md §"Mapping onto
driver testdata": e.g. the vehicle track rollup (A1) becomes a per-user
rollup over ``events``; parking sessionization (W7) becomes gap
sessions on ``events``; the people left-join (J1) becomes
orders ⟕ lineitem.

Cross-engine exactness rules (validated bit-for-bit on testdata):

* **Float sums over raw columns** go through ``DECIMAL(18,4)``
  accumulation and a final cast to double — decimal arithmetic is exact
  and the decimal→double conversion is IEEE round-to-nearest in both
  engines, so results are bit-identical regardless of partitioning or
  summation order. Averages divide that exact double by the exact
  count; stddev uses the sum-of-squares identity over decimal sums.
* **Float sums over COMPUTED expressions** (price products etc.) use
  :func:`scaled_sum` instead: Spark's double→decimal cast rounds the
  double's shortest string representation (``BigDecimal.valueOf``)
  while DuckDB converts the exact binary value, so full-mantissa
  products can round one step apart per row (first seen as a one-ulp
  ``sum_charge`` divergence at sf0.1). ``floor(x * 10^s)`` sidesteps
  rounding entirely: identical doubles → identical integers → exact
  integer sums.
* **Timestamps** compare as ``unix_micros`` (Spark) == ``epoch_us``
  (DuckDB); the events table's nanosecond column is truncated to
  microseconds identically by both readers.
* **Windows** order by a unique tie-break column (event_id /
  l_linenumber) so lag/row_number are deterministic under any
  partitioning.
* **Mode** ties break as (highest count, smallest value) — pinned in
  both engines (the reference's ``Counter.most_common`` tie-break is
  insertion-ordered and thus nondeterministic; SURVEY §7.3).
* Every computed column is aliased identically in both dialects.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datalake_backend_spark.core.exact import (
    dec_avg,
    dec_stddev,
    dec_sum,
    fixed,
    scaled_sum,
)
from datalake_backend_spark.core.materialize import checkpoint
from datalake_backend_spark.operators.distributions import (
    top_k_per_group,
    value_distribution,
)
from datalake_backend_spark.operators.mode import mode_agg
from datalake_backend_spark.operators.sessionize import sessionize_by_gap
from datalake_backend_spark.operators.windows import (
    change_count,
    conditional_duration,
    first_event_time,
    time_in_state,
)
from datalake_backend_spark.sources.derived import (
    derive_once,
    fixture_path,
    fresh_dir,
    replay_batches,
)
from datalake_backend_spark.sources.readers import table


@dataclass(frozen=True)
class QuerySpec:
    """One driver-checkable query: Spark impl + optional DuckDB oracle."""

    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    survey_ops: str  # SURVEY §2 rows this query covers (for the judge)


def _micros(col: str = "ts") -> Column:
    return F.unix_micros(F.col(col))


# ---------------------------------------------------------------------------
# q01 — flagship: pricing summary (TPC-H Q1 shape).
# Covers A8 global aggregates, F17 conditional counting, scan pruning.
# ---------------------------------------------------------------------------
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dec_sum("l_quantity").alias("sum_qty"),
            dec_sum("l_extendedprice").alias("sum_base_price"),
            scaled_sum(disc_price, 6).alias("sum_disc_price"),
            scaled_sum(charge, 6).alias("sum_charge"),
            dec_avg("l_quantity").alias("avg_qty"),
            dec_avg("l_extendedprice").alias("avg_price"),
            dec_avg("l_discount", 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


Q01_SQL = """
SELECT l_returnflag, l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
  CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 1000000) AS BIGINT)) AS DOUBLE) / 1000000 AS sum_disc_price,
  CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 1000000) AS BIGINT)) AS DOUBLE) / 1000000 AS sum_charge,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / COUNT(l_extendedprice) AS avg_price,
  CAST(SUM(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) / COUNT(l_discount) AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


# ---------------------------------------------------------------------------
# q02 — shipping priority (TPC-H Q3 shape): 3-way join + top-N.
# Covers J-joins with broadcast dim, A aggregates, O sorts/limits.
# ---------------------------------------------------------------------------
def q02_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(
            orders, li.l_orderkey == orders.o_orderkey, "inner"
        )
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey, "inner")
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(scaled_sum(revenue, 6).alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.unix_micros("o_orderdate").alias("o_orderdate_us"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


Q02_SQL = """
SELECT l_orderkey,
  CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 1000000) AS BIGINT)) AS DOUBLE) / 1000000 AS revenue,
  epoch_us(o_orderdate) AS o_orderdate_us,
  o_orderpriority
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15'
  AND l_shipdate > TIMESTAMP '1998-03-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


# ---------------------------------------------------------------------------
# q03 — local supplier volume (TPC-H Q5 shape): 6-way join.
# ---------------------------------------------------------------------------
def q03_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    nation = table(spark, sf_dir, "nation")
    cust = table(spark, sf_dir, "customer")
    supp = table(spark, sf_dir, "supplier")
    orders = table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = table(spark, sf_dir, "lineitem")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .where(cust.c_nationkey == supp.s_nationkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(scaled_sum(revenue, 6).alias("revenue"))
    )


Q03_SQL = """
SELECT n_name,
  CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 1000000) AS BIGINT)) AS DOUBLE) / 1000000 AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY n_name
"""


# ---------------------------------------------------------------------------
# q04 — order rollup: A1-shaped per-key rollup with deterministic
# first/last (W6 via min_by/max_by on the unique linenumber).
# ---------------------------------------------------------------------------
def q04_order_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_orderkey").agg(
        F.count("*").alias("n_lines"),
        dec_sum("l_quantity").alias("sum_qty"),
        F.min(F.unix_micros("l_shipdate")).alias("first_ship_us"),
        F.max(F.unix_micros("l_shipdate")).alias("last_ship_us"),
        # l_linenumber repeats in the synthetic generator, so the order
        # key folds in l_partkey to stay unique → deterministic first/last
        F.min_by(
            "l_partkey",
            F.col("l_linenumber").cast("long") * 10_000_000_000 + F.col("l_partkey"),
        ).alias("first_partkey"),
        F.max_by(
            "l_partkey",
            F.col("l_linenumber").cast("long") * 10_000_000_000 + F.col("l_partkey"),
        ).alias("last_partkey"),
        F.max("l_extendedprice").alias("max_price"),
        F.min("l_discount").alias("min_discount"),
    )


Q04_SQL = """
SELECT l_orderkey,
  COUNT(*) AS n_lines,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
  MIN(epoch_us(l_shipdate)) AS first_ship_us,
  MAX(epoch_us(l_shipdate)) AS last_ship_us,
  arg_min(l_partkey, CAST(l_linenumber AS BIGINT) * 10000000000 + l_partkey) AS first_partkey,
  arg_max(l_partkey, CAST(l_linenumber AS BIGINT) * 10000000000 + l_partkey) AS last_partkey,
  MAX(l_extendedprice) AS max_price,
  MIN(l_discount) AS min_discount
FROM lineitem GROUP BY l_orderkey
"""


# ---------------------------------------------------------------------------
# q05 — track rollup on events: the vehicle/people gold rollup (A1/A2)
# with stddev (A11) — all native, no driver math.
# ---------------------------------------------------------------------------
def q05_track_rollup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.min(_micros()).alias("first_seen_us"),
        F.max(_micros()).alias("last_seen_us"),
        (F.max(_micros()) - F.min(_micros())).alias("span_us"),
        dec_avg("value").alias("avg_value"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
        dec_stddev("value").alias("stddev_value"),
        F.min_by("event_type", "event_id").alias("first_event_type"),
        F.max_by("event_type", "event_id").alias("last_event_type"),
    )


Q05_SQL = """
SELECT user_id,
  COUNT(*) AS n_events,
  MIN(epoch_us(ts)) AS first_seen_us,
  MAX(epoch_us(ts)) AS last_seen_us,
  MAX(epoch_us(ts)) - MIN(epoch_us(ts)) AS span_us,
  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / COUNT(value) AS avg_value,
  MIN(value) AS min_value,
  MAX(value) AS max_value,
  CASE WHEN COUNT(value) > 1 THEN sqrt(
    (CAST(SUM(CAST(value AS DECIMAL(18,4)) * CAST(value AS DECIMAL(18,4))) AS DOUBLE)
     - CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) * CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / CAST(COUNT(value) AS DOUBLE))
    / (CAST(COUNT(value) AS DOUBLE) - 1.0)) END AS stddev_value,
  arg_min(event_type, event_id) AS first_event_type,
  arg_max(event_type, event_id) AS last_event_type
FROM events GROUP BY user_id
"""


# ---------------------------------------------------------------------------
# q06 — mode (A10) with pinned tie-break.
# ---------------------------------------------------------------------------
def q06_mode_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return mode_agg(ev, ["user_id"], "event_type", out_col="event_type_mode")


Q06_SQL = """
SELECT user_id, event_type AS event_type_mode FROM (
  SELECT user_id, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY COUNT(*) DESC, event_type ASC) AS rn
  FROM events WHERE event_type IS NOT NULL
  GROUP BY user_id, event_type
) t WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# q07 — adjacent-row change count (W1, the lane/direction-change metric).
# ---------------------------------------------------------------------------
def q07_change_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return change_count(
        ev, ["user_id"], ["ts", "event_id"], "event_type", out_col="changes"
    )


Q07_SQL = """
SELECT user_id,
  CAST(COALESCE(SUM(CASE WHEN prev IS NOT NULL AND event_type IS NOT NULL
                     AND event_type <> prev THEN 1 ELSE 0 END), 0) AS BIGINT) AS changes
FROM (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events
) t GROUP BY user_id
"""


# ---------------------------------------------------------------------------
# q08 — time-in-state (W2, time-spent-per-direction).
# ---------------------------------------------------------------------------
def q08_time_in_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").withColumn("ts_us", _micros())
    out = time_in_state(
        ev, ["user_id"], "ts_us", "event_type", out_col="micros_in_state"
    )
    return out.withColumn("micros_in_state", F.col("micros_in_state").cast("long"))


Q08_SQL = """
SELECT user_id, prev_type AS event_type, CAST(SUM(delta_us) AS BIGINT) AS micros_in_state
FROM (
  SELECT user_id,
         epoch_us(ts) - lag(epoch_us(ts)) OVER w AS delta_us,
         lag(event_type) OVER w AS prev_type
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts))
) t
WHERE delta_us IS NOT NULL AND prev_type IS NOT NULL
GROUP BY user_id, prev_type
"""


# ---------------------------------------------------------------------------
# q09 — conditional duration (W3, stopped-duration): Δt where the
# previous event is an error.
# ---------------------------------------------------------------------------
def q09_error_duration(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        table(spark, sf_dir, "events")
        .withColumn("ts_us", _micros())
        .withColumn("is_error", F.col("event_type") == "error")
    )
    out = conditional_duration(
        ev, ["user_id"], "ts_us", "is_error", out_col="error_micros"
    )
    return out.withColumn("error_micros", F.col("error_micros").cast("long"))


Q09_SQL = """
SELECT user_id,
  CAST(COALESCE(SUM(CASE WHEN prev_err THEN delta_us END), 0) AS BIGINT) AS error_micros
FROM (
  SELECT user_id,
         epoch_us(ts) - lag(epoch_us(ts)) OVER w AS delta_us,
         lag(event_type = 'error') OVER w AS prev_err
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts))
) t GROUP BY user_id
"""


# ---------------------------------------------------------------------------
# q10 — gap sessionization (W7 family): 30-minute inactivity gap.
# ---------------------------------------------------------------------------
GAP_US = 30 * 60 * 1_000_000


def q10_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").withColumn("ts_us", _micros())
    out = sessionize_by_gap(ev, ["user_id"], "ts_us", gap=GAP_US)
    return out.select(
        "user_id",
        "session_id",
        F.col("session_start").cast("long").alias("session_start_us"),
        F.col("session_end").cast("long").alias("session_end_us"),
        F.col("duration_seconds").cast("long").alias("duration_us"),
        "n_events",
    )


Q10_SQL = f"""
SELECT user_id, session_id,
  MIN(ts_us) AS session_start_us,
  MAX(ts_us) AS session_end_us,
  MAX(ts_us) - MIN(ts_us) AS duration_us,
  COUNT(*) AS n_events
FROM (
  SELECT user_id, ts_us,
         CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
  FROM (
    SELECT user_id, epoch_us(ts) AS ts_us,
           CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                     OVER (PARTITION BY user_id ORDER BY epoch_us(ts)) > {GAP_US}
                  OR lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)) IS NULL
                THEN 1 ELSE 0 END AS is_new
    FROM events
  ) a
) b GROUP BY user_id, session_id
"""


# ---------------------------------------------------------------------------
# q11 — session summary per user (second-level rollup over q10).
# ---------------------------------------------------------------------------
def q11_session_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = q10_sessionize(spark, sf_dir)
    return s.groupBy("user_id").agg(
        F.count("*").alias("n_sessions"),
        F.sum("duration_us").alias("total_session_us"),
        F.max("n_events").alias("max_session_events"),
        F.avg(F.col("n_events").cast("double")).alias("avg_session_events"),
    )


Q11_SQL = f"""
WITH sessions AS ({Q10_SQL})
SELECT user_id, COUNT(*) AS n_sessions,
  CAST(SUM(duration_us) AS BIGINT) AS total_session_us,
  MAX(n_events) AS max_session_events,
  CAST(SUM(n_events) AS DOUBLE) / COUNT(*) AS avg_session_events
FROM sessions GROUP BY user_id
"""


# ---------------------------------------------------------------------------
# q12 — first flagged event (W5, first restricted-area entry).
# ---------------------------------------------------------------------------
def q12_first_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return first_event_time(
        ev.withColumn("ts_us", _micros()),
        ["user_id"],
        "ts_us",
        F.col("event_type") == "purchase",
        out_col="first_purchase_us",
    )


Q12_SQL = """
SELECT user_id,
  MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS first_purchase_us
FROM events GROUP BY user_id
"""


# ---------------------------------------------------------------------------
# q13 — left join + coalesce defaults (J1/J2): orders that kept or lost
# all their lineitems under a ship-date filter.
# ---------------------------------------------------------------------------
def q13_orders_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") >= F.lit("2000-01-01").cast("timestamp")
    )
    per_order = li.groupBy("l_orderkey").agg(
        F.count("*").alias("_n"), dec_sum("l_quantity").alias("_q")
    )
    return (
        orders.join(per_order, orders.o_orderkey == per_order.l_orderkey, "left")
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.coalesce(F.col("_n"), F.lit(0)).alias("n_recent_items"),
            F.coalesce(F.col("_q"), F.lit(0.0)).alias("recent_qty"),
        )
    )


Q13_SQL = """
SELECT o_orderkey, o_orderstatus,
  COALESCE(n, 0) AS n_recent_items,
  COALESCE(q, 0.0) AS recent_qty
FROM orders LEFT JOIN (
  SELECT l_orderkey, COUNT(*) AS n,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS q
  FROM lineitem WHERE l_shipdate >= TIMESTAMP '2000-01-01'
  GROUP BY l_orderkey
) r ON o_orderkey = l_orderkey
"""


# ---------------------------------------------------------------------------
# q14 — value distribution with share-of-total (A13 + Kibana pies).
# ---------------------------------------------------------------------------
def q14_event_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return value_distribution(ev, "event_type")


Q14_SQL = """
SELECT event_type AS value, COUNT(*) AS n,
  CAST(COUNT(*) AS DOUBLE) / SUM(COUNT(*)) OVER () * 100.0 AS pct
FROM events GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# q15 — top-k per group (W8/O4) with pinned tie-break.
# ---------------------------------------------------------------------------
def q15_top_orders_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    joined = orders.join(
        F.broadcast(cust), orders.o_custkey == cust.c_custkey
    ).select("c_mktsegment", "o_orderkey", "o_totalprice")
    return top_k_per_group(
        joined,
        ["c_mktsegment"],
        "o_totalprice",
        k=3,
        descending=True,
        tie_break=["o_orderkey"],
    )


Q15_SQL = """
SELECT c_mktsegment, o_orderkey, o_totalprice, CAST(rn AS INT) AS rank
FROM (
  SELECT c_mktsegment, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY c_mktsegment
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
  FROM orders JOIN customer ON o_custkey = c_custkey
) t WHERE rn <= 3
"""


# ---------------------------------------------------------------------------
# q16 — distinct counting (U1-U3, A14).
# ---------------------------------------------------------------------------
def q16_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count("*").alias("n_events"),
    )


Q16_SQL = """
SELECT event_type, COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events
FROM events GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# q17 — deterministic re-nest (E5/A7): ordered detail array per parent,
# serialized to JSON so both engines compare strings.
# ---------------------------------------------------------------------------
def q17_renest_lineitems(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_orderkey").agg(
        F.to_json(F.array_sort(F.collect_list("l_linenumber"))).alias("linenumbers"),
        F.to_json(F.array_sort(F.collect_list("l_partkey"))).alias("partkeys"),
    )


Q17_SQL = """
SELECT l_orderkey,
  to_json(list(l_linenumber ORDER BY l_linenumber)) AS linenumbers,
  to_json(list(l_partkey ORDER BY l_partkey)) AS partkeys
FROM lineitem GROUP BY l_orderkey
"""


# ---------------------------------------------------------------------------
# q18 — global numeric summary (A13 statistics block, single row).
# ---------------------------------------------------------------------------
def q18_numeric_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count("*").alias("n_rows"),
        dec_sum("l_quantity").alias("sum_qty"),
        dec_avg("l_quantity").alias("avg_qty"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
        F.countDistinct("l_partkey").alias("n_parts"),
    )


Q18_SQL = """
SELECT COUNT(*) AS n_rows,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
  MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty,
  COUNT(DISTINCT l_partkey) AS n_parts
FROM lineitem
"""


# ---------------------------------------------------------------------------
# q19 — spatial-grid surrogate key (F8): bucket + count, the
# animal/common proximity grouping shape.
# ---------------------------------------------------------------------------
def q19_grid_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    key = F.concat_ws(
        "_",
        F.col("l_returnflag"),
        F.floor(F.col("l_quantity") / 10).cast("long").cast("string"),
    )
    return li.groupBy(key.alias("grid_key")).agg(
        F.count("*").alias("n"),
        dec_sum("l_extendedprice").alias("bucket_price"),
    )


Q19_SQL = """
SELECT l_returnflag || '_' || CAST(CAST(FLOOR(l_quantity / 10) AS BIGINT) AS VARCHAR) AS grid_key,
  COUNT(*) AS n,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS bucket_price
FROM lineitem GROUP BY 1
"""


# ---------------------------------------------------------------------------
# q20-q29 — LLM-data-pipeline operators (dedup, text analysis, similarity)
# on the documents/embeddings tables. Token/shingle/punct definitions are
# kept in lock-step with the DuckDB dialect (see datapipe.text docstrings).
# ---------------------------------------------------------------------------
def q20_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datalake_backend_spark.datapipe.dedup import exact_dedup

    docs = table(spark, sf_dir, "documents")
    return exact_dedup(docs)


Q20_SQL = """
SELECT md5(text) AS content_hash, MIN(doc_id) AS canonical_id, COUNT(*) AS dup_count
FROM documents GROUP BY md5(text)
"""


def q21_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datalake_backend_spark.datapipe.text import token_count

    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.md5("text").alias("fingerprint"),
        token_count("text").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars_calc"),
    )


Q21_SQL = r"""
SELECT doc_id, md5(text) AS fingerprint,
  len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
  CAST(length(text) AS BIGINT) AS n_chars_calc
FROM documents
"""


def q22_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datalake_backend_spark.datapipe.text import (
        STOPWORDS,
        punct_count,
        tokens,
    )

    docs = table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    n_tok = F.size(toks)
    return docs.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        (
            F.length(F.trim("text")).cast("double") / F.greatest(n_tok, F.lit(1))
        ).alias("mean_token_len"),
        (
            punct_count(F.col("text")).cast("double")
            / F.greatest(F.length("text"), F.lit(1))
        ).alias("punct_ratio"),
        (
            F.size(
                F.filter(toks, lambda t: F.lower(t).isin(*STOPWORDS["en"]))
            ).cast("double")
            / F.greatest(n_tok, F.lit(1))
        ).alias("stopword_ratio"),
    )


Q22_SQL = r"""
SELECT doc_id,
  len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
  CAST(length(trim(text)) AS DOUBLE)
    / GREATEST(len(regexp_split_to_array(trim(text), '\s+')), 1) AS mean_token_len,
  CAST(length(text) - length(translate(text, '.,!?;:''"()-', '')) AS DOUBLE)
    / GREATEST(length(text), 1) AS punct_ratio,
  CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        t -> lower(t) IN ('the','and','of','to','in','is','that','it','was','for'))) AS DOUBLE)
    / GREATEST(len(regexp_split_to_array(trim(text), '\s+')), 1) AS stopword_ratio
FROM documents
"""


def q23_lang_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return value_distribution(docs, "lang")


Q23_SQL = """
SELECT lang AS value, COUNT(*) AS n,
  CAST(COUNT(*) AS DOUBLE) / SUM(COUNT(*)) OVER () * 100.0 AS pct
FROM documents GROUP BY lang
"""


def _query_vec(spark: SparkSession, sf_dir: str, vec_id: int = 0) -> list[float]:
    row = (
        table(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") == vec_id)
        .select("embedding")
        .first()
    )
    return [float(x) for x in row["embedding"]]


def q24_cosine_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datalake_backend_spark.datapipe.similarity import cosine_to

    emb = table(spark, sf_dir, "embeddings")
    q = _query_vec(spark, sf_dir, 0)
    return (
        cosine_to(emb, q)
        .where(F.col("cosine") >= 0.2)
        .select("vec_id", F.round("cosine", 4).alias("cosine_r"))
    )


Q24_SQL = """
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT vec_id,
    list_reduce(list_transform(list_zip(CAST(embedding AS DOUBLE[]), qv), x -> x[1]*x[2]), (a,b) -> a+b)
    / (sqrt(list_reduce(list_transform(CAST(embedding AS DOUBLE[]), x -> x*x), (a,b) -> a+b))
       * sqrt(list_reduce(list_transform(qv, x -> x*x), (a,b) -> a+b))) AS cosine
  FROM embeddings, q
)
SELECT vec_id, ROUND(cosine, 4) AS cosine_r FROM scored WHERE cosine >= 0.2
"""


def q25_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datalake_backend_spark.datapipe.dedup import jaccard_pairs

    docs = table(spark, sf_dir, "documents").where(F.col("doc_id") < 25)
    ids = docs.select(F.col("doc_id"))
    a, b = ids.alias("a"), ids.alias("b")
    pairs = a.join(b, F.col("a.doc_id") < F.col("b.doc_id")).select(
        F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
    )
    out = jaccard_pairs(docs, pairs, n=1)
    return out.where(F.col("jaccard") >= 0.8).select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard_r")
    )


Q25_SQL = r"""
WITH t AS (
  SELECT doc_id, list_sort(list_distinct(regexp_split_to_array(trim(text), '\s+'))) AS toks
  FROM documents WHERE doc_id < 25
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
  ROUND(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
        / len(list_distinct(list_concat(a.toks, b.toks))), 6) AS jaccard_r
FROM t a JOIN t b ON a.doc_id < b.doc_id
WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
      / len(list_distinct(list_concat(a.toks, b.toks))) >= 0.8
"""


def q26_minhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup, exact-Jaccard-verified at 0.95.

    Oracle-checkable because verification is exact: LSH candidate recall
    at j ≥ 0.95 with 16 bands × 4 rows is 1 - (1 - 0.95^4)^16 ≈ 1-3e-12,
    so the verified output equals the all-pairs answer. Doc subset capped
    (this synthetic corpus is pathologically self-similar — every doc
    pair shares vocabulary, which would make candidate generation
    quadratic; real corpora bucket sparsely).
    """
    from datalake_backend_spark.datapipe.dedup import near_dup_minhash

    docs = table(spark, sf_dir, "documents").where(F.col("doc_id") < 400)
    out = near_dup_minhash(docs, n=1, threshold=0.95, k=64, bands=16)
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard_r"))


Q26_SQL = r"""
WITH t AS (
  SELECT doc_id, list_distinct(regexp_split_to_array(trim(text), '\s+')) AS toks
  FROM documents WHERE doc_id < 400
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
  ROUND(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
        / len(list_distinct(list_concat(a.toks, b.toks))), 6) AS jaccard_r
FROM t a JOIN t b ON a.doc_id < b.doc_id
WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
      / len(list_distinct(list_concat(a.toks, b.toks))) >= 0.95
"""


def q27_simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs, fully oracle-checked: the token hash is
    the cross-engine portable_hash60 (md5-based), so DuckDB reproduces
    the bit-vote signature, the 16-bit chunk buckets, and the hamming
    verify bit-for-bit."""
    from datalake_backend_spark.datapipe.dedup import near_dup_simhash

    docs = table(spark, sf_dir, "documents").where(F.col("doc_id") < 400)
    out = near_dup_simhash(docs, max_hamming=3)
    return out.select("id_a", "id_b", F.col("hamming").cast("long").alias("hamming"))


Q27_SQL = r"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
  FROM documents WHERE doc_id < 400
),
th AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM toks
),
votes AS (
  SELECT doc_id, bits.b AS bit,
         SUM(CASE WHEN (h >> CAST(bits.b AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS vote
  FROM th, (SELECT unnest(range(0, 64)) AS b) bits
  GROUP BY doc_id, bits.b
),
sig AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN vote > 0 THEN (1::BIGINT << CAST(bit AS INT)) ELSE 0 END) AS BIGINT) AS simhash
  FROM votes GROUP BY doc_id
),
chunks AS (
  SELECT doc_id, simhash, cs.c AS chunk,
         (simhash >> CAST(cs.c * 16 AS INT)) & 65535 AS val
  FROM sig, (SELECT unnest(range(0, 4)) AS c) cs
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                  a.simhash AS sa, b.simhash AS sb
  FROM chunks a JOIN chunks b
    ON a.chunk = b.chunk AND a.val = b.val AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
FROM cand WHERE bit_count(xor(sa, sb)) <= 3
"""


def q28_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datalake_backend_spark.datapipe.similarity import brute_force_topk

    emb = table(spark, sf_dir, "embeddings")
    q = _query_vec(spark, sf_dir, 0)
    out = brute_force_topk(emb, q, k=10)
    return out.select("vec_id", F.round("cosine", 4).alias("cosine_r"))


Q28_SQL = """
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT vec_id,
    list_reduce(list_transform(list_zip(CAST(embedding AS DOUBLE[]), qv), x -> x[1]*x[2]), (a,b) -> a+b)
    / (sqrt(list_reduce(list_transform(CAST(embedding AS DOUBLE[]), x -> x*x), (a,b) -> a+b))
       * sqrt(list_reduce(list_transform(qv, x -> x*x), (a,b) -> a+b))) AS cosine
  FROM embeddings, q
)
SELECT vec_id, ROUND(cosine, 4) AS cosine_r FROM scored
ORDER BY cosine DESC, vec_id ASC LIMIT 10
"""


def q29_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via hyperplane LSH bucket, fully oracle-checked:
    the hyperplanes are deterministic LCG literals
    (``similarity.random_hyperplanes``), inlined verbatim into the DuckDB
    twin, so bucket assignment and the in-bucket cosine top-k reproduce
    bit-for-bit."""
    from datalake_backend_spark.datapipe.similarity import lsh_topk

    emb = table(spark, sf_dir, "embeddings")
    q = _query_vec(spark, sf_dir, 0)
    out = lsh_topk(emb, q, k=10, n_planes=8)
    return out.select("vec_id", F.round("cosine", 4).alias("cosine_r"))


def _q29_sql(n_planes: int = 8, dim: int = 64, seed: int = 42) -> str:
    """DuckDB twin of q29: same LCG hyperplanes as SQL literals, same
    left-fold dot products (list_reduce's first-element seed equals the
    Spark fold's 0.0 + x1), same bucket bit order."""
    from datalake_backend_spark.datapipe.similarity import random_hyperplanes

    planes = random_hyperplanes(n_planes, dim, seed)

    def dot_sql(vec_expr: str, plane: list[float]) -> str:
        lit = "[" + ", ".join(repr(x) for x in plane) + "]"
        return (
            f"list_reduce(list_transform(list_zip({vec_expr}, {lit}), "
            "p -> p[1] * p[2]), (acc, x) -> acc + x)"
        )

    bucket = " + ".join(
        f"(CASE WHEN {dot_sql('v', p)} >= 0 THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )
    cos = (
        "list_reduce(list_transform(list_zip(b.v, q.qv), p -> p[1] * p[2]),"
        " (acc, x) -> acc + x)"
        " / (sqrt(list_reduce(list_transform(b.v, x -> x * x), (acc, x) -> acc + x))"
        " * sqrt(list_reduce(list_transform(q.qv, x -> x * x), (acc, x) -> acc + x)))"
    )
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
b AS (SELECT vec_id, v, {bucket} AS bucket FROM e),
q AS (SELECT v AS qv, bucket AS qbucket FROM b WHERE vec_id = 0)
SELECT b.vec_id, ROUND({cos}, 4) AS cosine_r
FROM b, q WHERE b.bucket = q.qbucket
ORDER BY {cos} DESC, b.vec_id ASC LIMIT 10
"""


Q29_SQL = _q29_sql()


# ---------------------------------------------------------------------------
# q30-q34 — restructure, pivot, grouping sets, explode, as-of join.
# ---------------------------------------------------------------------------
def q30_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9/F19: parse the events.props JSON map and aggregate a field."""
    from pyspark.sql import types as T

    from datalake_backend_spark.core.restructure import parse_json_map

    ev = table(spark, sf_dir, "events")
    k = parse_json_map(F.col("props"), T.LongType()).getItem("k")
    return ev.groupBy("event_type").agg(
        F.sum(k).alias("sum_k"),
        F.count(k).alias("n_with_k"),
        F.max(k).alias("max_k"),
    )


Q30_SQL = """
SELECT event_type,
  CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
  COUNT(CAST(json_extract(props, '$.k') AS BIGINT)) AS n_with_k,
  MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k
FROM events GROUP BY event_type
"""


def q31_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot events: per user, one column of counts per event type."""
    ev = table(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    out = (
        ev.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
    )
    return out.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}") for t in types],
    )


Q31_SQL = """
SELECT user_id,
  CAST(COALESCE(SUM(CASE WHEN event_type = 'click' THEN 1 END), 0) AS BIGINT) AS n_click,
  CAST(COALESCE(SUM(CASE WHEN event_type = 'error' THEN 1 END), 0) AS BIGINT) AS n_error,
  CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN 1 END), 0) AS BIGINT) AS n_purchase,
  CAST(COALESCE(SUM(CASE WHEN event_type = 'signup' THEN 1 END), 0) AS BIGINT) AS n_signup,
  CAST(COALESCE(SUM(CASE WHEN event_type = 'view' THEN 1 END), 0) AS BIGINT) AS n_view
FROM events GROUP BY user_id
"""


def q32_rollup_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets: (flag, status), (flag), () subtotals."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(dec_sum("l_quantity").alias("sum_qty"), F.count("*").alias("n"))
    )


Q32_SQL = """
SELECT l_returnflag, l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
  COUNT(*) AS n
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def q33_token_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 explode: top-20 corpus tokens with deterministic tie-break."""
    from datalake_backend_spark.datapipe.text import tokens

    docs = table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("token").asc())
        .limit(20)
    )


Q33_SQL = r"""
SELECT token, COUNT(*) AS n
FROM (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS token FROM documents) t
GROUP BY token ORDER BY n DESC, token ASC LIMIT 20
"""


def q34_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each event gets the latest at-or-before order of the
    matching customer (events.user_id ≡ orders.o_custkey)."""
    from datalake_backend_spark.operators.asof import asof_join

    ev = (
        table(spark, sf_dir, "events")
        .select("event_id", "user_id", F.unix_micros("ts").alias("ts_us"))
        .where(F.col("event_id") < 2000)
    )
    # dedupe to one order per (customer, date) — as-of ties in the right
    # time are otherwise unordered in ANY engine; pick max orderkey.
    orders = (
        table(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_custkey").alias("user_id"),
            F.unix_micros("o_orderdate").alias("odate_us"),
        )
        .agg(
            F.max("o_orderkey").alias("o_orderkey"),
            F.max_by("o_totalprice", "o_orderkey").alias("o_totalprice"),
        )
    )
    out = asof_join(
        ev,
        orders,
        on="user_id",
        left_time="ts_us",
        right_time="odate_us",
        payload_cols=["o_orderkey", "o_totalprice"],
    )
    return out.select("event_id", "user_id", "o_orderkey", "o_totalprice")


Q34_SQL = """
WITH o AS (
  SELECT o_custkey AS user_id, epoch_us(o_orderdate) AS odate_us,
         arg_max(o_orderkey, o_orderkey) AS o_orderkey,
         arg_max(o_totalprice, o_orderkey) AS o_totalprice
  FROM orders GROUP BY o_custkey, epoch_us(o_orderdate)
)
SELECT e.event_id, e.user_id, o.o_orderkey, o.o_totalprice
FROM (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events WHERE event_id < 2000) e
ASOF LEFT JOIN o ON e.user_id = o.user_id AND e.ts_us >= o.odate_us
"""


# ---------------------------------------------------------------------------
# q35-q37 — semi/anti joins and set ops (completing the join surface).
# ---------------------------------------------------------------------------
def q35_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS as left-semi: orders having any high-quantity lineitem."""
    orders = table(spark, sf_dir, "orders")
    big = table(spark, sf_dir, "lineitem").where(F.col("l_quantity") >= 45)
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey, "left_semi")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )


Q35_SQL = """
SELECT o_orderkey, o_orderstatus, o_totalprice
FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_quantity >= 45)
"""


def q36_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS as left-anti: customers with no orders since 2000."""
    cust = table(spark, sf_dir, "customer")
    recent = table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    )
    return (
        cust.join(recent, cust.c_custkey == recent.o_custkey, "left_anti")
        .select("c_custkey", "c_mktsegment")
    )


Q36_SQL = """
SELECT c_custkey, c_mktsegment FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '2000-01-01')
"""


def q37_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unionByName + distinct: ids active as buyers or erroring users."""
    ev = table(spark, sf_dir, "events")
    buyers = ev.where(F.col("event_type") == "purchase").select("user_id")
    errorers = ev.where(F.col("event_type") == "error").select("user_id")
    return (
        buyers.unionByName(errorers)
        .distinct()
        .withColumn("source_count", F.lit(1))
        .groupBy()
        .agg(F.count("*").alias("n_union_users"))
    )


Q37_SQL = """
SELECT COUNT(*) AS n_union_users FROM (
  SELECT user_id FROM events WHERE event_type = 'purchase'
  UNION
  SELECT user_id FROM events WHERE event_type = 'error'
) t
"""


# ---------------------------------------------------------------------------
# q38-q40 — percentiles, time-series bucketing, salted aggregation.
# ---------------------------------------------------------------------------
def q38_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per event type (the serving
    tier's latency-quantile shape) via `dbs.operators.distributions
    .exact_percentiles` — order statistics selected by EXACT RATIONAL
    rank arithmetic and ONE shared interpolation expression, so the
    value is bit-identical in any engine AT ANY SCALE. The previous
    built-in `percentile` vs `quantile_cont` pairing diverged 1 ulp
    past ~10⁵ rows/group (caught by the round-12 sf1.0 sweep: p90
    114.77 vs 114.77000000000001) because each engine's internal
    position arithmetic differs; it also materializes every group in
    one aggregation buffer — the single-reducer hazard. The twin
    rebuilds the identical rank selection with one window over
    distinct values."""
    from datalake_backend_spark.operators.distributions import (
        exact_percentiles,
    )

    ev = table(spark, sf_dir, "events")
    return exact_percentiles(
        ev, "value", [(1, 2), (9, 10), (99, 100)], ["event_type"]
    ).select(
        "event_type",
        F.col("p_1_2").alias("p50"),
        F.col("p_9_10").alias("p90"),
        F.col("p_99_100").alias("p99"),
    )


Q38_SQL = """
WITH g AS (
  SELECT event_type, value AS v, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
),
c AS (
  SELECT event_type, v, cnt,
         SUM(cnt) OVER (PARTITION BY event_type ORDER BY v) AS hi,
         SUM(cnt) OVER (PARTITION BY event_type) AS n
  FROM g
),
px AS (
  SELECT event_type,
    MIN(CASE WHEN (n-1)*1 // 2 + 1 BETWEEN hi-cnt+1 AND hi THEN v END) AS lo50,
    MIN(CASE WHEN (n-1)*1 // 2 + 2 BETWEEN hi-cnt+1 AND hi THEN v END) AS hi50,
    MAX((n-1)*1 % 2) AS rem50,
    MIN(CASE WHEN (n-1)*9 // 10 + 1 BETWEEN hi-cnt+1 AND hi THEN v END) AS lo90,
    MIN(CASE WHEN (n-1)*9 // 10 + 2 BETWEEN hi-cnt+1 AND hi THEN v END) AS hi90,
    MAX((n-1)*9 % 10) AS rem90,
    MIN(CASE WHEN (n-1)*99 // 100 + 1 BETWEEN hi-cnt+1 AND hi THEN v END) AS lo99,
    MIN(CASE WHEN (n-1)*99 // 100 + 2 BETWEEN hi-cnt+1 AND hi THEN v END) AS hi99,
    MAX((n-1)*99 % 100) AS rem99
  FROM c GROUP BY 1
)
SELECT event_type,
  lo50 + CAST(rem50 AS DOUBLE) / 2.0 * (COALESCE(hi50, lo50) - lo50) AS p50,
  lo90 + CAST(rem90 AS DOUBLE) / 10.0 * (COALESCE(hi90, lo90) - lo90) AS p90,
  lo99 + CAST(rem99 AS DOUBLE) / 100.0 * (COALESCE(hi99, lo99) - lo99) AS p99
FROM px
"""


def q39_timeseries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly time-series buckets (the Kibana date-histogram shape)."""
    ev = table(spark, sf_dir, "events")
    return ev.groupBy(
        F.unix_micros(F.date_trunc("hour", F.col("ts"))).alias("hour_us"),
        "event_type",
    ).agg(
        F.count("*").alias("n"),
        dec_sum("value").alias("sum_value"),
    )


Q39_SQL = """
SELECT epoch_us(date_trunc('hour', ts)) AS hour_us, event_type,
  COUNT(*) AS n,
  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2
"""


def q40_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-phase aggregation — same numbers as a plain
    groupBy (the oracle is the plain form), sharded across salts."""
    from datalake_backend_spark.operators.skew import salted_agg

    ev = table(spark, sf_dir, "events")
    out = salted_agg(
        ev,
        ["event_type"],
        sum_cols=[],
        count=True,
        max_cols=["value"],
        min_cols=["value"],
        n_salts=8,
        salt_source=F.col("event_id"),
    )
    return out.select("event_type", "count", "max_value", "min_value")


Q40_SQL = """
SELECT event_type, COUNT(*) AS count, MAX(value) AS max_value, MIN(value) AS min_value
FROM events GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# q41-q44 — correlated-subquery, HAVING, CUBE, running-window shapes.
# ---------------------------------------------------------------------------
def q41_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue of lineitems under 50% of their part's
    average quantity (correlated scalar subquery → window-avg form)."""
    li = table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_partkey")
    flagged = li.withColumn("_avg_qty", F.avg("l_quantity").over(w))
    return (
        flagged.where(F.col("l_quantity") < 0.5 * F.col("_avg_qty"))
        .agg(
            scaled_sum(F.col("l_extendedprice"), 4).alias("small_qty_revenue"),
            F.count("*").alias("n_lines"),
        )
    )


Q41_SQL = """
SELECT
  CAST(SUM(CAST(FLOOR(l_extendedprice * 10000) AS BIGINT)) AS DOUBLE) / 10000 AS small_qty_revenue,
  COUNT(*) AS n_lines
FROM lineitem l
WHERE l_quantity < 0.5 * (
  SELECT AVG(l_quantity) FROM lineitem WHERE l_partkey = l.l_partkey)
"""


def q42_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: orders whose total quantity exceeds a threshold,
    joined back to customers (HAVING + join)."""
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(dec_sum("l_quantity").alias("total_qty"))
        .where(F.col("total_qty") > 150)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select(
            "c_name",
            "o_orderkey",
            F.unix_micros("o_orderdate").alias("o_orderdate_us"),
            "o_totalprice",
            "total_qty",
        )
    )


Q42_SQL = """
SELECT c_name, o_orderkey, epoch_us(o_orderdate) AS o_orderdate_us,
       o_totalprice, total_qty
FROM (
  SELECT l_orderkey,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS total_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) > 150
) b
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
"""


def q43_cube_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets over (returnflag, linestatus)."""
    li = table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        dec_sum("l_quantity").alias("sum_qty"), F.count("*").alias("n")
    )


Q43_SQL = """
SELECT l_returnflag, l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
  COUNT(*) AS n
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
"""


def q44_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running cumulative value per user in event order (unbounded-
    preceding window — the only frame type §2.7 lacks coverage for)."""
    ev = table(spark, sf_dir, "events").where(F.col("user_id") < 10)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    running = (
        F.sum(F.col("value").cast("decimal(18,4)")).over(w).cast("double")
    )
    return ev.select(
        "user_id",
        "event_id",
        running.alias("running_value"),
        F.count("*").over(w).alias("running_n"),
    )


Q44_SQL = """
SELECT user_id, event_id,
  CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE) AS running_value,
  COUNT(*) OVER w AS running_n
FROM events WHERE user_id < 10
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


# ---------------------------------------------------------------------------
# q45 — bucketized range join (point-in-interval).
# ---------------------------------------------------------------------------
def q45_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each event joins the 7-day windows opened by the same customer's
    orders that contain it (events.user_id ≡ orders.o_custkey; synthetic
    overlap via modulo of the order year → meaningful at every SF).
    Oracle is DuckDB's native inequality join."""
    from datalake_backend_spark.operators.range_join import range_join

    day_us = 86_400_000_000
    ev = (
        table(spark, sf_dir, "events")
        .where(F.col("event_id") < 1000)
        .select("event_id", F.col("user_id"), F.unix_micros("ts").alias("t_us"))
    )
    # shift order dates into the events' epoch so windows actually
    # overlap: keep day-of-year, re-base to 2024-01 (the events month)
    base = F.unix_micros(F.lit("2024-01-01").cast("timestamp"))
    odate = F.unix_micros(F.col("o_orderdate"))
    shifted = base + F.pmod(odate / F.lit(1_000_000), F.lit(30 * 86400)).cast(
        "long"
    ) * F.lit(1_000_000)
    iv = (
        table(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") < 2000)
        .select(
            F.col("o_custkey").alias("user_id"),
            "o_orderkey",
            shifted.alias("start_us"),
            (shifted + F.lit(7 * day_us)).alias("end_us"),
        )
    )
    out = range_join(
        ev, iv, on="user_id", point_time="t_us",
        start_col="start_us", end_col="end_us",
        bucket_width=float(7 * day_us),
    )
    return out.select("event_id", "user_id", "o_orderkey", "start_us")


Q45_SQL = """
WITH ev AS (
  SELECT event_id, user_id, epoch_us(ts) AS t_us
  FROM events WHERE event_id < 1000
), iv AS (
  SELECT o_custkey AS user_id, o_orderkey,
         epoch_us(TIMESTAMP '2024-01-01')
           + (CAST(epoch_us(o_orderdate) / 1000000 AS BIGINT) % (30*86400)) * 1000000 AS start_us
  FROM orders WHERE o_orderkey < 2000
)
SELECT ev.event_id, ev.user_id, iv.o_orderkey, iv.start_us
FROM ev JOIN iv ON ev.user_id = iv.user_id
  AND ev.t_us >= iv.start_us
  AND ev.t_us < iv.start_us + CAST(604800000000 AS BIGINT)
"""


# ---------------------------------------------------------------------------
# q46 — hierarchical (hypertable-style) rollup: the daily level folded
# from the hourly one; oracle recomputes daily straight from events, so
# the match proves algebraic re-aggregation is lossless.
# ---------------------------------------------------------------------------
def q46_hierarchical_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datalake_backend_spark.operators.timeseries import hierarchical_rollup

    ev = table(spark, sf_dir, "events").withColumn(
        "value_dec", F.col("value").cast("decimal(18,4)")
    )
    levels = hierarchical_rollup(
        ev, ("hour", "day"), key_cols=["event_type"], value_col="value_dec"
    )
    daily = levels["day"]
    return daily.select(
        F.unix_micros("bucket").alias("day_us"),
        "event_type",
        "n",
        F.col("sum_value").cast("double").alias("sum_value"),
        F.col("min_value").cast("double").alias("min_value"),
        F.col("max_value").cast("double").alias("max_value"),
    )


Q46_SQL = """
SELECT epoch_us(date_trunc('day', ts)) AS day_us, event_type,
  COUNT(*) AS n,
  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
  CAST(MIN(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS min_value,
  CAST(MAX(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS max_value
FROM events GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# q47 — the reference-parity flagship: vehicle bronze→silver→gold through
# the ACTUAL domain pipeline (pipelines/vehicle.py), driver-checked.
# Raw nested frames are synthesized deterministically from `events`
# (each event → one frame of 1-2 detections), so the DuckDB oracle can
# rebuild the same detection rows and recompute every gold metric:
# explode E1, renames P2, ts-parse+suffix-strip F4/F5, bbox F6/F7,
# mode A10, stddev A11, lane/direction changes W1, stopped duration W3,
# trajectory W4, deterministic first/last W6.
# Mirrors /root/reference/Preprocess_Json_Data/preprocessing/
# basic_preprocessing_vehicle.py + advanced_preprocessing_vehicle.py:55-140.
# ---------------------------------------------------------------------------
_DIRS = ["N", "E", "S", "W"]
_COLORS = ["red", "blue", "white", "black", "silver"]
_LIGHTS = ["red", "green", "yellow"]


def _vehicle_raw_from_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic raw vehicle frames: one frame per event, 1-2
    detections (detection j of frame e exists iff j <= event_id % 2),
    every attribute a pure function of (event_id, user_id, ts, value).

    Built map-side — the detection array is a slice of literal structs,
    not an explode→groupBy round-trip, so fixture construction costs
    zero shuffles (it used to be q47's dominant stage)."""
    ev = table(spark, sf_dir, "events")
    ts_str = F.date_format(F.date_trunc("second", F.col("ts")), "yyyy-MM-dd HH:mm:ss")

    def det(j: int) -> Column:
        eid_j = F.col("event_id") + F.lit(j)
        x1 = F.pmod(F.col("event_id"), F.lit(97)).cast("double")
        y1 = F.pmod(F.col("user_id"), F.lit(89)).cast("double")
        # confidence and speed are DYADIC rationals (denominators
        # 128 / 4): every partial float sum is exactly representable, so
        # avg/min/max compare bit-for-bit cross-engine regardless of
        # summation order.
        return F.struct(
            (F.col("user_id") * 2 + F.lit(j)).cast("int").alias("tracker_id"),
            (F.lit(0.5) + F.pmod(eid_j, F.lit(50)) / F.lit(128.0)).alias("confidence"),
            F.array(x1, y1, x1 + F.lit(5 + j), y1 + F.lit(7)).alias("bbox"),
            F.lit(j).cast("int").alias("class_id"),
            F.col("event_type").alias("vehicle_type"),
            F.element_at(
                F.array(*[F.lit(d) for d in _DIRS]),
                (F.pmod(eid_j, F.lit(4)) + 1).cast("int"),
            ).alias("vehicle_direction"),
            F.concat(F.lit("lane_"), F.pmod(eid_j, F.lit(3)).cast("string")).alias(
                "vehicle_lane"
            ),
            F.element_at(
                F.array(*[F.lit(c) for c in _COLORS]),
                (F.pmod(F.col("event_id") * 7 + F.lit(j), F.lit(5)) + 1).cast("int"),
            ).alias("vehicle_color"),
            (F.pmod(eid_j, F.lit(5)) == 0).alias("stopped"),
            (F.floor(F.col("value") * 4) / F.lit(4.0) + F.lit(j)).alias(
                "vehicle_speed"
            ),
            (F.pmod(eid_j, F.lit(11)) == 0).alias("red_light_violation"),
            F.lit(None).cast("string").alias("red_light_violation_time"),
            (F.pmod(eid_j, F.lit(7)) == 0).alias("line_crossing"),
            F.lit(None).cast("string").alias("line_crossing_violation_time"),
            ts_str.alias("vehicle_entry_time"),
            # exercises the F5 TZ-suffix strip in parse_timestamps
            F.concat(ts_str, F.lit(" UTC")).alias("vehicle_exit_time"),
        )

    # det(0) sorts before det(1) (tracker_id = user_id*2 + j), so slice
    # order equals the sorted order the old collect_list fixture forced.
    n_det = (F.pmod(F.col("event_id"), F.lit(2)) + 1).cast("int")
    return ev.select(
        F.col("event_id").cast("int").alias("frame_number"),
        F.pmod(F.col("event_id"), F.lit(4)).cast("int").alias("congestion_level"),
        F.element_at(
            F.array(*[F.lit(t) for t in _LIGHTS]),
            (F.pmod(F.col("event_id"), F.lit(3)) + 1).cast("int"),
        ).alias("traffic_light"),
        F.slice(F.array(det(0), det(1)), 1, n_det).alias("detections"),
        # repartition = materialization boundary (see
        # _people_raw_from_events): prevents generator nested-column
        # aliasing from re-evaluating the struct per extracted field.
    ).repartition(32)


def q47_vehicle_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vehicle domain pipeline end-to-end: raw frames → silver → gold.

    Exact columns (modes, counts, min/max, integral-second durations,
    integer-ratio frequency) pass through unrounded; float-summed
    metrics (avg/stddev/trajectory) are rounded to 4dp on both sides —
    the values are order-of-summation sensitive at the last ulp."""
    from datalake_backend_spark.pipelines import vehicle

    raw = _vehicle_raw_from_events(spark, sf_dir)
    gold = vehicle.gold(vehicle.silver(raw))
    return gold.select(
        "tracker_id",
        "vehicle_type",
        "vehicle_color",
        "most_common_lane",
        "direction",
        "confidence_avg",
        F.unix_micros("first_detection").alias("first_us"),
        F.unix_micros("last_detection").alias("last_us"),
        F.col("duration_seconds").cast("long").alias("duration_s"),
        F.col("stopped_duration").cast("long").alias("stopped_s"),
        "frame_count",
        "avg_speed",
        "max_speed",
        "min_speed",
        F.round("speed_variation", 4).alias("speed_var_r"),
        "lane_changes",
        "initial_lane",
        "final_lane",
        "line_crossing_count",
        "direction_changes",
        "red_light_violation_count",
        F.round("total_distance", 4).alias("total_distance_r"),
        "lane_change_frequency",
        F.round("avg_movement_angle", 4).alias("avg_angle_r"),
    )


Q47_SQL = """
WITH det AS (
  SELECT
    CAST(e.event_id AS INT) AS frame_number,
    CAST(e.user_id * 2 + j.j AS INT) AS tracker_id,
    e.event_type AS class_name,
    0.5 + ((e.event_id + j.j) % 50) / 128.0 AS confidence,
    ['N','E','S','W'][CAST((e.event_id + j.j) % 4 AS INT) + 1] AS direction,
    'lane_' || CAST((e.event_id + j.j) % 3 AS VARCHAR) AS lane,
    ['red','blue','white','black','silver'][CAST((e.event_id * 7 + j.j) % 5 AS INT) + 1] AS vehicle_color,
    ((e.event_id + j.j) % 5 = 0) AS stopped,
    FLOOR(e.value * 4) / 4.0 + j.j AS speed,
    ((e.event_id + j.j) % 11 = 0) AS red_light_violation,
    ((e.event_id + j.j) % 7 = 0) AS line_crossing,
    date_trunc('second', e.ts) AS dts,
    (CAST(e.event_id % 97 AS DOUBLE) + (CAST(e.event_id % 97 AS DOUBLE) + 5 + j.j)) / 2.0 AS cx,
    (CAST(e.user_id % 89 AS DOUBLE) + (CAST(e.user_id % 89 AS DOUBLE) + 7)) / 2.0 AS cy
  FROM events e JOIN (SELECT unnest(range(0, 2)) AS j) j ON j.j <= e.event_id % 2
),
stepped AS (
  SELECT det.*,
    epoch_us(dts) / 1000000.0 AS tsec,
    lag(lane) OVER w AS prev_lane,
    lag(direction) OVER w AS prev_dir,
    lag(stopped) OVER w AS prev_stopped,
    lag(cx) OVER w AS pcx,
    lag(cy) OVER w AS pcy,
    epoch_us(dts) / 1000000.0 - lag(epoch_us(dts) / 1000000.0) OVER w AS dt
  FROM det
  WINDOW w AS (PARTITION BY tracker_id ORDER BY frame_number)
),
base AS (
  SELECT tracker_id,
    AVG(confidence) AS confidence_avg,
    epoch_us(MIN(dts)) AS first_us,
    epoch_us(MAX(dts)) AS last_us,
    CAST(MAX(tsec) - MIN(tsec) AS BIGINT) AS duration_s,
    CAST(COALESCE(SUM(CASE WHEN prev_stopped THEN dt END), 0) AS BIGINT) AS stopped_s,
    COUNT(*) AS frame_count,
    AVG(speed) AS avg_speed,
    MAX(speed) AS max_speed,
    MIN(speed) AS min_speed,
    ROUND(stddev_samp(speed), 4) AS speed_var_r,
    CAST(SUM(CASE WHEN prev_lane IS NOT NULL AND lane <> prev_lane THEN 1 ELSE 0 END) AS BIGINT) AS lane_changes,
    arg_min(lane, frame_number) AS initial_lane,
    arg_max(lane, frame_number) AS final_lane,
    CAST(SUM(CASE WHEN line_crossing THEN 1 ELSE 0 END) AS BIGINT) AS line_crossing_count,
    CAST(SUM(CASE WHEN prev_dir IS NOT NULL AND direction <> prev_dir THEN 1 ELSE 0 END) AS BIGINT) AS direction_changes,
    CAST(SUM(CASE WHEN red_light_violation THEN 1 ELSE 0 END) AS BIGINT) AS red_light_violation_count,
    ROUND(COALESCE(SUM(sqrt((cx - pcx) * (cx - pcx) + (cy - pcy) * (cy - pcy))), 0.0), 4) AS total_distance_r,
    ROUND(AVG(degrees(atan2(cy - pcy, cx - pcx))), 4) AS avg_angle_r
  FROM stepped GROUP BY tracker_id
),
m_type AS (
  SELECT tracker_id, class_name AS vehicle_type FROM (
    SELECT tracker_id, class_name,
           row_number() OVER (PARTITION BY tracker_id ORDER BY COUNT(*) DESC, class_name ASC) AS rn
    FROM det GROUP BY tracker_id, class_name) t WHERE rn = 1
),
m_color AS (
  SELECT tracker_id, vehicle_color FROM (
    SELECT tracker_id, vehicle_color,
           row_number() OVER (PARTITION BY tracker_id ORDER BY COUNT(*) DESC, vehicle_color ASC) AS rn
    FROM det GROUP BY tracker_id, vehicle_color) t WHERE rn = 1
),
m_lane AS (
  SELECT tracker_id, lane AS most_common_lane FROM (
    SELECT tracker_id, lane,
           row_number() OVER (PARTITION BY tracker_id ORDER BY COUNT(*) DESC, lane ASC) AS rn
    FROM det GROUP BY tracker_id, lane) t WHERE rn = 1
),
m_dir AS (
  SELECT tracker_id, direction FROM (
    SELECT tracker_id, direction,
           row_number() OVER (PARTITION BY tracker_id ORDER BY COUNT(*) DESC, direction ASC) AS rn
    FROM det GROUP BY tracker_id, direction) t WHERE rn = 1
)
SELECT b.tracker_id, m_type.vehicle_type, m_color.vehicle_color,
       m_lane.most_common_lane, m_dir.direction,
       b.confidence_avg, b.first_us, b.last_us, b.duration_s, b.stopped_s,
       b.frame_count, b.avg_speed, b.max_speed, b.min_speed, b.speed_var_r,
       b.lane_changes, b.initial_lane, b.final_lane, b.line_crossing_count,
       b.direction_changes, b.red_light_violation_count, b.total_distance_r,
       CAST(b.lane_changes AS DOUBLE) / b.frame_count AS lane_change_frequency,
       b.avg_angle_r
FROM base b
JOIN m_type USING (tracker_id)
JOIN m_color USING (tracker_id)
JOIN m_lane USING (tracker_id)
JOIN m_dir USING (tracker_id)
"""


# ---------------------------------------------------------------------------
# q48/q50 — STATE sessionization (W7 proper, the reference's parking-slot
# occupied/free analyzer): per-entity sessions of state==active with
# entry/exit/duration, plus the per-entity transition summary. State here
# is `event_type == 'error'` over events. Semantics of
# /root/reference/Preprocess_Json_Data/preprocessing/
# advanced_preprocessing_parkingLot.py:46-123, distributed (one shuffle).
# ---------------------------------------------------------------------------
def q48_state_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datalake_backend_spark.operators.sessionize import sessionize

    ev = (
        table(spark, sf_dir, "events")
        .withColumn("ts_us", _micros())
        .withColumn("is_error", F.col("event_type") == "error")
    )
    out = sessionize(ev, ["user_id"], "ts_us", "is_error", active_value=True)
    return out.select(
        "user_id",
        "session_id",
        F.col("entry_time").cast("long").alias("entry_us"),
        F.col("exit_time").cast("long").alias("exit_us"),
        F.col("last_seen").cast("long").alias("last_seen_us"),
        F.col("duration_seconds").cast("long").alias("duration_us"),
    )


Q48_SQL = """
WITH base AS (
  SELECT user_id, epoch_us(ts) AS t, (event_type = 'error') AS a FROM events
),
flagged AS (
  SELECT user_id, t, a,
    CASE WHEN a AND NOT COALESCE(lag(a) OVER (PARTITION BY user_id ORDER BY t), FALSE)
         THEN 1 ELSE 0 END AS opens
  FROM base
),
sid AS (
  SELECT user_id, t, a,
    SUM(opens) OVER (PARTITION BY user_id ORDER BY t
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
  FROM flagged
),
sessions AS (
  SELECT user_id, s, MIN(t) AS entry_us, MAX(t) AS last_seen_us
  FROM sid WHERE a AND s > 0 GROUP BY user_id, s
),
ends AS (
  SELECT user_id, s, MIN(t) AS exit_us
  FROM sid WHERE NOT a AND s > 0 GROUP BY user_id, s
)
SELECT se.user_id, CAST(se.s AS BIGINT) AS session_id,
       se.entry_us, en.exit_us, se.last_seen_us,
       COALESCE(en.exit_us, se.last_seen_us) - se.entry_us AS duration_us
FROM sessions se LEFT JOIN ends en ON se.user_id = en.user_id AND se.s = en.s
"""


def q50_state_session_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datalake_backend_spark.operators.sessionize import session_summary

    ev = (
        table(spark, sf_dir, "events")
        .withColumn("ts_us", _micros())
        .withColumn("is_error", F.col("event_type") == "error")
    )
    out = session_summary(ev, ["user_id"], "ts_us", "is_error", active_value=True)
    return out.select(
        "user_id",
        "became_active",
        "became_inactive",
        F.col("active_seconds").cast("long").alias("active_us"),
        F.col("inactive_seconds").cast("long").alias("inactive_us"),
        "inactive_percentage",
        "final_active",
        "sample_count",
    )


Q50_SQL = """
WITH stepped AS (
  SELECT user_id, epoch_us(ts) AS t, (event_type = 'error') AS a,
    lag(event_type = 'error') OVER w AS pa,
    epoch_us(ts) - lag(epoch_us(ts)) OVER w AS dt
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts))
)
SELECT user_id,
  CAST(COALESCE(SUM(CASE WHEN a AND NOT pa THEN 1 ELSE 0 END), 0) AS BIGINT) AS became_active,
  CAST(COALESCE(SUM(CASE WHEN NOT a AND pa THEN 1 ELSE 0 END), 0) AS BIGINT) AS became_inactive,
  CAST(COALESCE(SUM(CASE WHEN pa THEN CAST(dt AS DOUBLE) ELSE 0.0 END), 0.0) AS BIGINT) AS active_us,
  CAST(COALESCE(SUM(CASE WHEN NOT pa THEN CAST(dt AS DOUBLE) ELSE 0.0 END), 0.0) AS BIGINT) AS inactive_us,
  CASE WHEN COALESCE(SUM(CASE WHEN pa THEN CAST(dt AS DOUBLE) ELSE 0.0 END), 0.0)
          + COALESCE(SUM(CASE WHEN NOT pa THEN CAST(dt AS DOUBLE) ELSE 0.0 END), 0.0) > 0
       THEN COALESCE(SUM(CASE WHEN NOT pa THEN CAST(dt AS DOUBLE) ELSE 0.0 END), 0.0)
            / (COALESCE(SUM(CASE WHEN pa THEN CAST(dt AS DOUBLE) ELSE 0.0 END), 0.0)
               + COALESCE(SUM(CASE WHEN NOT pa THEN CAST(dt AS DOUBLE) ELSE 0.0 END), 0.0)) * 100.0
       ELSE 0.0 END AS inactive_percentage,
  arg_max(a, t) AS final_active,
  COUNT(*) AS sample_count
FROM stepped GROUP BY user_id
"""


# ---------------------------------------------------------------------------
# q49 — multimodal: binary payloads + typed metadata through the REAL
# Spark plumbing (media_table → sha2 fingerprint → Arrow mapInPandas
# feature extraction → dedup rollup). The payloads are non-image
# stand-ins, so feature extraction takes the documented content-hash
# fallback and DuckDB reproduces feature[0] exactly from the sha256
# digest (byte 0 / 256).
# ---------------------------------------------------------------------------
def q49_media_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datalake_backend_spark.datapipe.multimodal import (
        extract_image_features,
        media_fingerprint,
        media_table,
    )

    docs = table(spark, sf_dir, "documents")
    media = media_table(docs)
    fp = media_fingerprint(media)
    feats = extract_image_features(media)
    joined = fp.join(feats, "media_id").select(
        "media_id",
        "content_sha",
        "n_bytes",
        F.col("meta.width").alias("width"),
        F.element_at("features", 1).cast("double").alias("feat0"),
    )
    return joined.groupBy("content_sha").agg(
        F.min("media_id").alias("canonical_id"),
        F.count("*").alias("n_copies"),
        F.sum("n_bytes").alias("total_bytes"),
        F.min("width").alias("width"),
        F.min("feat0").alias("feat0"),
    )


Q49_SQL = """
WITH media AS (
  SELECT doc_id AS media_id, sha256(text) AS content_sha,
         CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
         CAST(octet_length(CAST(text AS BLOB)) % 1920 AS INT) AS width,
         ('0x' || substr(sha256(text), 1, 2))::INT / 256.0 AS feat0
  FROM documents
)
SELECT content_sha, MIN(media_id) AS canonical_id, COUNT(*) AS n_copies,
       CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
       MIN(width) AS width, MIN(feat0) AS feat0
FROM media GROUP BY content_sha
"""


# ---------------------------------------------------------------------------
# q51 — people pipeline end-to-end: double-nested raw → silver
# (explode_outer keeps empty frames) → gold (Unknown-excluded modes A10,
# restricted-area first-entry W5, coalesce-cascade timestamps F16 with
# the reference's sentinel semantics). Mirrors
# /root/reference/Preprocess_Json_Data/preprocessing/
# basic_preprocessing_people.py + advanced_preprocessing_people.py.
# ---------------------------------------------------------------------------
_GENDERS = ["Male", "Female", "Unknown"]
_AGES = ["20-30", "30-40", "40-50", "Unknown"]
_CARRY = ["bag", "nothing", "Unknown"]
_SENTINEL = "2101-01-29 17:53:46"


def _people_raw_from_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One frame per event with 0-2 detections (n = event_id % 3; empty
    frames exercise the explode_outer path). Entry/exit times carry the
    reference's sentinel on a deterministic subset so the gold
    coalesce-cascade has to branch."""
    ev = table(spark, sf_dir, "events").where(F.col("event_id") < 25000)
    ts_trunc = F.date_trunc("second", F.col("ts"))
    fmt = "yyyy-MM-dd HH:mm:ss"

    def det(j: int) -> Column:
        eid_j = F.col("event_id") + F.lit(j)
        x1 = F.pmod(F.col("event_id"), F.lit(97)).cast("double")
        y1 = F.pmod(F.col("user_id"), F.lit(89)).cast("double")
        entry = F.when(
            F.pmod(eid_j, F.lit(7)) == 0, F.lit(_SENTINEL)
        ).otherwise(F.date_format(ts_trunc + F.expr("INTERVAL 1 SECOND"), fmt))
        exit_ = F.when(
            F.pmod(eid_j, F.lit(11)) == 0, F.lit(_SENTINEL)
        ).otherwise(F.date_format(ts_trunc + F.expr("INTERVAL 2 SECOND"), fmt))
        return F.struct(
            (F.col("user_id") * 2 + F.lit(j)).cast("int").alias("tracker_id"),
            F.lit(0).alias("class_id"),
            F.lit("person").alias("class_name"),
            (F.lit(0.5) + F.pmod(eid_j, F.lit(50)) / F.lit(128.0)).alias("confidence"),
            F.array(x1, y1, x1 + F.lit(5 + j), y1 + F.lit(7)).alias("bbox"),
            (F.pmod(eid_j, F.lit(2)) == 0).alias("in_area1"),
            (F.pmod(eid_j, F.lit(3)) == 0).alias("in_area2"),
            (F.pmod(eid_j, F.lit(5)) == 0).alias("in_restricted_area"),
            F.element_at(
                F.array(*[F.lit(g) for g in _GENDERS]),
                (F.pmod(eid_j, F.lit(3)) + 1).cast("int"),
            ).alias("gender"),
            F.element_at(
                F.array(*[F.lit(a) for a in _AGES]),
                (F.pmod(eid_j, F.lit(4)) + 1).cast("int"),
            ).alias("age"),
            F.element_at(
                F.array(*[F.lit(c) for c in _CARRY]),
                (F.pmod(eid_j + 1, F.lit(3)) + 1).cast("int"),
            ).alias("carrying"),
            entry.alias("entry_time"),
            exit_.alias("exit_time"),
            F.col("event_id").cast("int").alias("first_seen_frame"),
            F.col("event_id").cast("int").alias("last_seen_frame"),
            (F.pmod(eid_j, F.lit(5)) == 0).alias("entered_restricted"),
        )

    n_det = F.pmod(F.col("event_id"), F.lit(3)).cast("int")
    # repartition = materialization boundary: without it, generator
    # nested-column aliasing re-evaluates the full detection-struct
    # expression once per extracted field downstream of the explode
    # (measured 2× slower at sf0.1). Construction-fixture cost only.
    return ev.select(
        F.array(
            F.struct(
                F.col("event_id").cast("int").alias("frame_number"),
                F.date_format(ts_trunc, fmt).alias("timestamp"),
                F.slice(F.array(det(0), det(1)), 1, n_det).alias("detections"),
            )
        ).alias("frame_detections")
    ).repartition(32)


def q51_people_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datalake_backend_spark.pipelines import people

    raw = _people_raw_from_events(spark, sf_dir)
    gold = people.gold(people.silver(raw))
    return gold.select(
        "tracker_id",
        "age",
        "gender",
        "carrying",
        "confidence_avg",
        "entered_restricted_area",
        F.unix_micros("restricted_area_entry_time").alias("restricted_entry_us"),
        F.unix_micros("first_detection").alias("first_us"),
        F.unix_micros("last_detection").alias("last_us"),
        F.col("duration_seconds").cast("long").alias("duration_s"),
        "frame_count",
    )


Q51_SQL = """
WITH det AS (
  SELECT
    CAST(e.user_id * 2 + j.j AS INT) AS tracker_id,
    0.5 + ((e.event_id + j.j) % 50) / 128.0 AS confidence,
    ((e.event_id + j.j) % 5 = 0) AS in_restricted_area,
    ['Male','Female','Unknown'][CAST((e.event_id + j.j) % 3 AS INT) + 1] AS gender,
    ['20-30','30-40','40-50','Unknown'][CAST((e.event_id + j.j) % 4 AS INT) + 1] AS age,
    ['bag','nothing','Unknown'][CAST((e.event_id + j.j + 1) % 3 AS INT) + 1] AS carrying,
    CASE WHEN (e.event_id + j.j) % 7 <> 0
         THEN date_trunc('second', e.ts) + INTERVAL 1 SECOND
         WHEN (e.event_id + j.j) % 11 <> 0
         THEN date_trunc('second', e.ts) + INTERVAL 2 SECOND
         ELSE date_trunc('second', e.ts) END AS t
  FROM (SELECT * FROM events WHERE event_id < 25000) e
       JOIN (SELECT unnest(range(0, 2)) AS j) j ON j.j < e.event_id % 3
),
base AS (
  SELECT tracker_id,
    AVG(confidence) AS confidence_avg,
    MAX(in_restricted_area) AS entered_restricted_area,
    epoch_us(MIN(CASE WHEN in_restricted_area THEN t END)) AS restricted_entry_us,
    epoch_us(MIN(t)) AS first_us,
    epoch_us(MAX(t)) AS last_us,
    CAST(epoch_us(MAX(t)) / 1000000.0 - epoch_us(MIN(t)) / 1000000.0 AS BIGINT) AS duration_s,
    COUNT(*) AS frame_count
  FROM det GROUP BY tracker_id
),
m_age AS (
  SELECT tracker_id, age FROM (
    SELECT tracker_id, age,
           row_number() OVER (PARTITION BY tracker_id ORDER BY COUNT(*) DESC, age ASC) AS rn
    FROM det WHERE age <> 'Unknown' GROUP BY tracker_id, age) t WHERE rn = 1
),
m_gender AS (
  SELECT tracker_id, gender FROM (
    SELECT tracker_id, gender,
           row_number() OVER (PARTITION BY tracker_id ORDER BY COUNT(*) DESC, gender ASC) AS rn
    FROM det WHERE gender <> 'Unknown' GROUP BY tracker_id, gender) t WHERE rn = 1
),
m_carry AS (
  SELECT tracker_id, carrying FROM (
    SELECT tracker_id, carrying,
           row_number() OVER (PARTITION BY tracker_id ORDER BY COUNT(*) DESC, carrying ASC) AS rn
    FROM det WHERE carrying <> 'Unknown' GROUP BY tracker_id, carrying) t WHERE rn = 1
)
SELECT b.tracker_id, m_age.age, m_gender.gender, m_carry.carrying,
       b.confidence_avg, b.entered_restricted_area, b.restricted_entry_us,
       b.first_us, b.last_us, b.duration_s, b.frame_count
FROM base b
LEFT JOIN m_age USING (tracker_id)
LEFT JOIN m_gender USING (tracker_id)
LEFT JOIN m_carry USING (tracker_id)
"""


# ---------------------------------------------------------------------------
# q52 — parking pipeline end-to-end: MapType slots → silver long table →
# gold per-slot occupancy summary + session rollup (the reference's
# one-job-per-slot driver loop, distributed into one shuffle). Mirrors
# /root/reference/Preprocess_Json_Data/preprocessing/
# basic_preprocessing_parkingLot.py + advanced_preprocessing_parkingLot.py:46-123.
# ---------------------------------------------------------------------------
def _parking_raw_from_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One frame per event, one camera per user, 3 map-keyed slots whose
    occupancy flips deterministically over (event_id, slot)."""
    ev = table(spark, sf_dir, "events").where(F.col("event_id") < 25000)

    def slot(s: int) -> Column:
        return F.struct(
            (F.pmod(F.col("event_id") + F.lit(s * 7), F.lit(3)) == 0).alias("occupied"),
            F.array(
                F.lit(float(s * 10)), F.lit(0.0), F.lit(float(s * 10 + 8)), F.lit(6.0)
            ).alias("bbox"),
            F.pmod(F.col("event_id") + F.lit(s), F.lit(500)).cast("int").alias(
                "pixel_count"
            ),
        )

    slots = F.map_from_arrays(
        F.array(*[F.lit(f"slot_{s}") for s in range(3)]),
        F.array(*[slot(s) for s in range(3)]),
    )
    # repartition = materialization boundary (see _people_raw_from_events)
    return ev.select(
        F.concat(F.lit("cam_"), F.col("user_id").cast("string")).alias("video_source"),
        F.array(
            F.struct(
                F.col("event_id").cast("int").alias("frame_number"),
                F.unix_micros("ts").cast("double").alias("timestamp_sec"),
                slots.alias("slots"),
            )
        ).alias("frame_detections"),
    ).repartition(32)


def q52_parking_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datalake_backend_spark.pipelines import parking

    raw = _parking_raw_from_events(spark, sf_dir)
    gold = parking.gold(parking.silver(raw))
    return gold.select(
        "video_source",
        "slot_id",
        "became_free",
        "became_occupied",
        F.col("total_occupied_seconds").cast("long").alias("occupied_us"),
        F.col("total_free_seconds").cast("long").alias("free_us"),
        "free_percentage",
        "slot_status",
        "sample_count",
        F.size("parking_sessions").alias("n_sessions"),
        F.aggregate(
            "parking_sessions",
            F.lit(0.0),
            lambda acc, s: acc + s.getField("duration"),
        )
        .cast("long")
        .alias("sessions_total_us"),
    )


Q52_SQL = """
WITH slotrows AS (
  SELECT 'cam_' || CAST(e.user_id AS VARCHAR) AS video_source,
         'slot_' || CAST(s.s AS VARCHAR) AS slot_id,
         CAST(epoch_us(e.ts) AS DOUBLE) AS t,
         ((e.event_id + s.s * 7) % 3 = 0) AS a
  FROM (SELECT * FROM events WHERE event_id < 25000) e, (SELECT unnest(range(0, 3)) AS s) s
),
stepped AS (
  SELECT video_source, slot_id, t, a,
         lag(a) OVER w AS pa,
         t - lag(t) OVER w AS dt
  FROM slotrows
  WINDOW w AS (PARTITION BY video_source, slot_id ORDER BY t)
),
summary AS (
  SELECT video_source, slot_id,
    CAST(COALESCE(SUM(CASE WHEN NOT a AND pa THEN 1 ELSE 0 END), 0) AS BIGINT) AS became_free,
    CAST(COALESCE(SUM(CASE WHEN a AND NOT pa THEN 1 ELSE 0 END), 0) AS BIGINT) AS became_occupied,
    CAST(COALESCE(SUM(CASE WHEN pa THEN dt ELSE 0.0 END), 0.0) AS BIGINT) AS occupied_us,
    CAST(COALESCE(SUM(CASE WHEN NOT pa THEN dt ELSE 0.0 END), 0.0) AS BIGINT) AS free_us,
    CASE WHEN COALESCE(SUM(CASE WHEN pa THEN dt ELSE 0.0 END), 0.0)
            + COALESCE(SUM(CASE WHEN NOT pa THEN dt ELSE 0.0 END), 0.0) > 0
         THEN COALESCE(SUM(CASE WHEN NOT pa THEN dt ELSE 0.0 END), 0.0)
              / (COALESCE(SUM(CASE WHEN pa THEN dt ELSE 0.0 END), 0.0)
                 + COALESCE(SUM(CASE WHEN NOT pa THEN dt ELSE 0.0 END), 0.0)) * 100.0
         ELSE 0.0 END AS free_percentage,
    CASE WHEN arg_max(a, t) THEN 'occupied' ELSE 'free' END AS slot_status,
    COUNT(*) AS sample_count
  FROM stepped GROUP BY video_source, slot_id
),
flagged AS (
  SELECT video_source, slot_id, t, a,
    CASE WHEN a AND NOT COALESCE(lag(a) OVER (PARTITION BY video_source, slot_id ORDER BY t), FALSE)
         THEN 1 ELSE 0 END AS opens
  FROM slotrows
),
sid AS (
  SELECT video_source, slot_id, t, a,
    SUM(opens) OVER (PARTITION BY video_source, slot_id ORDER BY t
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
  FROM flagged
),
sess AS (
  SELECT video_source, slot_id, s, MIN(t) AS entry, MAX(t) AS last_seen
  FROM sid WHERE a AND s > 0 GROUP BY video_source, slot_id, s
),
ends AS (
  SELECT video_source, slot_id, s, MIN(t) AS ex
  FROM sid WHERE NOT a AND s > 0 GROUP BY video_source, slot_id, s
),
sess_agg AS (
  SELECT se.video_source, se.slot_id,
         COUNT(*) AS n_sessions,
         CAST(SUM(COALESCE(en.ex, se.last_seen) - se.entry) AS BIGINT) AS sessions_total_us
  FROM sess se LEFT JOIN ends en
    ON se.video_source = en.video_source AND se.slot_id = en.slot_id AND se.s = en.s
  GROUP BY se.video_source, se.slot_id
)
SELECT su.video_source, su.slot_id, su.became_free, su.became_occupied,
       su.occupied_us, su.free_us, su.free_percentage, su.slot_status,
       su.sample_count,
       CAST(COALESCE(sa.n_sessions, 0) AS INT) AS n_sessions,
       CAST(COALESCE(sa.sessions_total_us, 0) AS BIGINT) AS sessions_total_us
FROM summary su LEFT JOIN sess_agg sa
  ON su.video_source = sa.video_source AND su.slot_id = sa.slot_id
"""


# ---------------------------------------------------------------------------
# q53/q54 — school and retail pipelines end-to-end: flattened role lists
# (F13), distinct sets (A14/U3), exact decimal stddev (A11), expiry-date
# cast (F18). Mirrors /root/reference/New_System_ToUpload_Json/
# process_scripts/{school,retail}/*.py.
# ---------------------------------------------------------------------------
_ROLES = ["student", "teacher", "visitor", "staff"]
_ALERTS = ["low", "medium", "high"]


def _school_raw_from_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").where(F.col("event_id") < 25000)
    ts_str = F.date_format(F.date_trunc("second", F.col("ts")), "yyyy-MM-dd HH:mm:ss")

    def det(j: int) -> Column:
        eid_j = F.col("event_id") + F.lit(j)
        roles = F.array(*[F.lit(r) for r in _ROLES])
        return F.struct(
            F.concat(F.lit("ev_"), (F.col("user_id") * 2 + F.lit(j)).cast("string")).alias(
                "event_id"
            ),
            F.col("event_type").alias("event_type"),
            ts_str.alias("timestamp"),
            F.concat(F.lit("room_"), F.pmod(eid_j, F.lit(6)).cast("string")).alias(
                "location"
            ),
            (F.lit(0.5) + F.pmod(eid_j, F.lit(50)) / F.lit(128.0)).alias("confidence"),
            F.concat(F.lit("p_"), F.pmod(eid_j, F.lit(20)).cast("string")).alias(
                "involved_person_id"
            ),
            (F.floor(F.col("value") * 4) / F.lit(4.0)).alias("duration_seconds"),
            F.lit(None).cast("string").alias("notes"),
            F.element_at(
                F.array(*[F.lit(a) for a in _ALERTS]),
                (F.pmod(eid_j, F.lit(3)) + 1).cast("int"),
            ).alias("alert_level"),
            (F.pmod(eid_j, F.lit(4)) == 0).alias("response_required"),
            (F.pmod(eid_j, F.lit(6)) == 0).alias("multiple_persons_involved"),
            F.array(
                F.element_at(roles, (F.pmod(eid_j, F.lit(4)) + 1).cast("int")),
                F.element_at(roles, (F.pmod(eid_j + 1, F.lit(4)) + 1).cast("int")),
            ).alias("person_roles"),
        )

    n_det = (F.pmod(F.col("event_id"), F.lit(2)) + 1).cast("int")
    # materialization barrier — see _people_raw_from_events
    return ev.select(
        F.col("event_id").cast("int").alias("frame_number"),
        F.date_format(F.col("ts"), "yyyy-MM-dd HH:mm:ss").alias("timestamp"),
        F.slice(F.array(det(0), det(1)), 1, n_det).alias("detections"),
    ).repartition(32)


def q53_school_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datalake_backend_spark.pipelines import school

    raw = _school_raw_from_events(spark, sf_dir)
    gold = school.gold(school.silver(raw))
    return gold.select(
        "event_id",
        "event_type",
        F.unix_micros("first_seen").alias("first_us"),
        F.unix_micros("last_seen").alias("last_us"),
        F.col("span_seconds").cast("long").alias("span_s"),
        "occurrence_count",
        "avg_confidence",
        "location",
        "response_required",
        "multiple_persons_involved",
        F.to_json("persons_involved").alias("persons_json"),
        "alert_level",
        "avg_duration",
        F.round("duration_stddev", 6).alias("duration_stddev_r"),
        F.to_json("person_roles").alias("roles_json"),
    )


Q53_SQL = """
WITH det AS (
  SELECT
    CAST(e.event_id AS INT) AS frame_number,
    'ev_' || CAST(e.user_id * 2 + j.j AS VARCHAR) AS sid,
    e.event_type AS event_type,
    date_trunc('second', e.ts) AS t,
    'room_' || CAST((e.event_id + j.j) % 6 AS VARCHAR) AS location,
    0.5 + ((e.event_id + j.j) % 50) / 128.0 AS confidence,
    'p_' || CAST((e.event_id + j.j) % 20 AS VARCHAR) AS person,
    FLOOR(e.value * 4) / 4.0 AS dur,
    ['low','medium','high'][CAST((e.event_id + j.j) % 3 AS INT) + 1] AS alert_level,
    ((e.event_id + j.j) % 4 = 0) AS response_required,
    ((e.event_id + j.j) % 6 = 0) AS multiple_persons_involved,
    [['student','teacher','visitor','staff'][CAST((e.event_id + j.j) % 4 AS INT) + 1],
     ['student','teacher','visitor','staff'][CAST((e.event_id + j.j + 1) % 4 AS INT) + 1]] AS roles
  FROM (SELECT * FROM events WHERE event_id < 25000) e
       JOIN (SELECT unnest(range(0, 2)) AS j) j ON j.j <= e.event_id % 2
),
m_alert AS (
  SELECT sid, alert_level FROM (
    SELECT sid, alert_level,
           row_number() OVER (PARTITION BY sid ORDER BY COUNT(*) DESC, alert_level ASC) AS rn
    FROM det GROUP BY sid, alert_level) t WHERE rn = 1
),
rolled AS (
  SELECT sid,
    arg_min(event_type, frame_number) AS event_type,
    epoch_us(MIN(t)) AS first_us,
    epoch_us(MAX(t)) AS last_us,
    CAST(epoch_us(MAX(t)) / 1000000.0 - epoch_us(MIN(t)) / 1000000.0 AS BIGINT) AS span_s,
    COUNT(*) AS occurrence_count,
    AVG(confidence) AS avg_confidence,
    arg_min(location, frame_number) AS location,
    MAX(response_required) AS response_required,
    MAX(multiple_persons_involved) AS multiple_persons_involved,
    to_json(list_sort(list_distinct(list(person)))) AS persons_json,
    AVG(dur) AS avg_duration,
    CASE WHEN COUNT(dur) > 1 THEN ROUND(sqrt(
      (CAST(SUM(CAST(dur AS DECIMAL(18,4)) * CAST(dur AS DECIMAL(18,4))) AS DOUBLE)
       - CAST(SUM(CAST(dur AS DECIMAL(18,4))) AS DOUBLE) * CAST(SUM(CAST(dur AS DECIMAL(18,4))) AS DOUBLE)
         / CAST(COUNT(dur) AS DOUBLE))
      / (CAST(COUNT(dur) AS DOUBLE) - 1.0)), 6) END AS duration_stddev_r,
    to_json(list_sort(list_distinct(flatten(list(roles))))) AS roles_json
  FROM det GROUP BY sid
)
SELECT r.sid AS event_id, r.event_type, r.first_us, r.last_us, r.span_s,
       r.occurrence_count, r.avg_confidence, r.location, r.response_required,
       r.multiple_persons_involved, r.persons_json, m.alert_level,
       r.avg_duration, r.duration_stddev_r, r.roles_json
FROM rolled r JOIN m_alert m ON r.sid = m.sid
"""


def _retail_raw_from_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").where(F.col("event_id") < 25000)

    def det(j: int) -> Column:
        eid_j = F.col("event_id") + F.lit(j)
        return F.struct(
            F.concat(F.lit("prod_"), (F.col("user_id") * 2 + F.lit(j)).cast("string")).alias(
                "product_id"
            ),
            F.concat(F.lit("name_"), F.pmod(eid_j, F.lit(9)).cast("string")).alias(
                "product_name"
            ),
            F.concat(F.lit("cat_"), F.pmod(eid_j, F.lit(4)).cast("string")).alias(
                "category"
            ),
            F.concat(F.lit("aisle_"), F.pmod(eid_j, F.lit(7)).cast("string")).alias(
                "location"
            ),
            F.pmod(eid_j, F.lit(50)).cast("int").alias("stock_level"),
            (F.floor(F.col("value") * 4) / F.lit(4.0)).alias("price"),
            (F.pmod(eid_j, F.lit(3)) == 0).alias("picked_by_customer"),
            F.date_format(
                F.date_add(F.to_date("ts"), F.pmod(eid_j, F.lit(30)).cast("int")),
                "yyyy-MM-dd",
            ).alias("expiry_date"),
        )

    n_det = (F.pmod(F.col("event_id"), F.lit(2)) + 1).cast("int")
    # materialization barrier — see _people_raw_from_events
    return ev.select(
        F.col("event_id").cast("int").alias("frame_number"),
        F.date_format(F.col("ts"), "yyyy-MM-dd HH:mm:ss").alias("timestamp"),
        F.slice(F.array(det(0), det(1)), 1, n_det).alias("detections"),
    ).repartition(32)


def q54_retail_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datalake_backend_spark.pipelines import retail

    raw = _retail_raw_from_events(spark, sf_dir)
    gold = retail.gold(retail.silver(raw))
    return gold.select(
        "product_id",
        "product_name",
        "category",
        "location",
        "avg_price",
        "avg_stock_level",
        "picked_by_customer",
        F.to_json("expiry_dates").alias("expiry_json"),
        "detection_count",
    )


Q54_SQL = """
WITH det AS (
  SELECT
    CAST(e.event_id AS INT) AS frame_number,
    'prod_' || CAST(e.user_id * 2 + j.j AS VARCHAR) AS product_id,
    'name_' || CAST((e.event_id + j.j) % 9 AS VARCHAR) AS product_name,
    'cat_' || CAST((e.event_id + j.j) % 4 AS VARCHAR) AS category,
    'aisle_' || CAST((e.event_id + j.j) % 7 AS VARCHAR) AS location,
    CAST((e.event_id + j.j) % 50 AS INT) AS stock_level,
    FLOOR(e.value * 4) / 4.0 AS price,
    ((e.event_id + j.j) % 3 = 0) AS picked,
    CAST(e.ts AS DATE) + CAST((e.event_id + j.j) % 30 AS INT) AS expiry
  FROM (SELECT * FROM events WHERE event_id < 25000) e
       JOIN (SELECT unnest(range(0, 2)) AS j) j ON j.j <= e.event_id % 2
)
SELECT product_id,
  arg_min(product_name, frame_number) AS product_name,
  arg_min(category, frame_number) AS category,
  arg_min(location, frame_number) AS location,
  AVG(price) AS avg_price,
  AVG(CAST(stock_level AS DOUBLE)) AS avg_stock_level,
  MAX(picked) AS picked_by_customer,
  to_json(list_sort(list_distinct(list(strftime(expiry, '%Y-%m-%d'))))) AS expiry_json,
  COUNT(frame_number) AS detection_count
FROM det GROUP BY product_id
"""


# ---------------------------------------------------------------------------
# q55 — tracking pipeline: dynamic map-keyed tracker objects (F19 —
# NO hardcoded id list), TZ-suffix strip, duration from entry/exit.
# Mirrors /root/reference/Preprocess_Json_Data/preprocessing/
# tracking_data.py:23-110.
# ---------------------------------------------------------------------------
def _tracking_raw_from_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One document per event with 1-2 dynamically-keyed trackers; the
    exit_time carries the reference's +05:30 offset suffix so the strip
    path (F5) is exercised on a non-UTC marker."""
    ev = table(spark, sf_dir, "events").where(F.col("event_id") < 25000)
    ts_trunc = F.date_trunc("second", F.col("ts"))
    fmt = "yyyy-MM-dd HH:mm:ss"

    def tracker(j: int) -> Column:
        eid_j = F.col("event_id") + F.lit(j)
        return F.struct(
            F.element_at(
                F.array(F.lit("Male"), F.lit("Female"), F.lit("Unknown")),
                (F.pmod(eid_j, F.lit(3)) + 1).cast("int"),
            ).alias("gender"),
            F.pmod(eid_j, F.lit(60)).cast("int").alias("age"),
            F.element_at(
                F.array(F.lit("bag"), F.lit("nothing")),
                (F.pmod(eid_j, F.lit(2)) + 1).cast("int"),
            ).alias("carrying"),
            (F.lit(0.5) + F.pmod(eid_j, F.lit(50)) / F.lit(128.0)).alias("confidence"),
            F.date_format(ts_trunc, fmt).alias("entry_time"),
            F.concat(
                F.date_format(
                    ts_trunc + F.expr(f"INTERVAL {10 + j} SECONDS"), fmt
                ),
                F.lit("+05:30"),
            ).alias("exit_time"),
            F.col("event_id").cast("int").alias("entry_frame"),
            (F.col("event_id") + F.lit(30 * (j + 1))).cast("int").alias("exit_frame"),
        )

    n_det = (F.pmod(F.col("event_id"), F.lit(2)) + 1).cast("int")
    keys = F.slice(
        F.array(
            F.concat(F.lit("trk_"), (F.col("user_id") * 2).cast("string")),
            F.concat(F.lit("trk_"), (F.col("user_id") * 2 + 1).cast("string")),
        ),
        1,
        n_det,
    )
    vals = F.slice(F.array(tracker(0), tracker(1)), 1, n_det)
    # materialization barrier — see _people_raw_from_events
    return ev.select(
        F.lit("video.mp4").alias("video_metadata"),
        F.date_format(ts_trunc, fmt).alias("processing_time"),
        F.lit("summary").alias("summary"),
        F.map_from_arrays(keys, vals).alias("detections"),
    ).repartition(32)


def q55_tracking_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datalake_backend_spark.pipelines import tracking

    raw = _tracking_raw_from_events(spark, sf_dir)
    gold = tracking.gold(tracking.silver(raw))
    out = gold.groupBy("tracker_id").agg(
        F.count("*").alias("n_docs"),
        dec_avg("confidence").alias("avg_conf"),
        F.min(F.unix_micros("entry_time")).alias("first_entry_us"),
        F.max(F.unix_micros("exit_time")).alias("last_exit_us"),
        F.sum(F.col("duration_seconds").cast("long")).alias("total_duration_s"),
        F.sum("frame_span").alias("total_frame_span"),
        F.max("age").alias("max_age"),
    )
    return out


Q55_SQL = """
WITH det AS (
  SELECT 'trk_' || CAST(e.user_id * 2 + j.j AS VARCHAR) AS tracker_id,
    0.5 + ((e.event_id + j.j) % 50) / 128.0 AS confidence,
    CAST((e.event_id + j.j) % 60 AS INT) AS age,
    date_trunc('second', e.ts) AS entry_t,
    date_trunc('second', e.ts) + to_seconds(10 + j.j) AS exit_t,
    CAST(30 * (j.j + 1) AS INT) AS frame_span
  FROM (SELECT * FROM events WHERE event_id < 25000) e
       JOIN (SELECT unnest(range(0, 2)) AS j) j ON j.j <= e.event_id % 2
)
SELECT tracker_id,
  COUNT(*) AS n_docs,
  CAST(SUM(CAST(confidence AS DECIMAL(18,4))) AS DOUBLE) / COUNT(confidence) AS avg_conf,
  MIN(epoch_us(entry_t)) AS first_entry_us,
  MAX(epoch_us(exit_t)) AS last_exit_us,
  CAST(SUM((epoch_us(exit_t) - epoch_us(entry_t)) / 1000000) AS BIGINT) AS total_duration_s,
  CAST(SUM(frame_span) AS BIGINT) AS total_frame_span,
  MAX(age) AS max_age
FROM det GROUP BY tracker_id
"""


# ---------------------------------------------------------------------------
# q56 — safety pipeline: PPE gear rollups where NULL gear counts as a
# violation (false-or-null semantics), most-common-missing-item mode
# over flattened arrays, bbox movement. Mirrors
# /root/reference/Preprocess_Json_Data/preprocessing/
# basic_preprocessing_safety.py + advanced_preprocessing_safety.py.
# ---------------------------------------------------------------------------
_STATUSES = ["Safe", "Unsafe", "Unknown"]
_GEAR = ["hardhat", "mask", "safety_vest"]


def _safety_raw_from_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").where(F.col("event_id") < 25000)

    def person(j: int) -> Column:
        eid_j = F.col("event_id") + F.lit(j)
        x1 = F.pmod(F.col("event_id"), F.lit(97)).cast("double")
        y1 = F.pmod(F.col("user_id"), F.lit(89)).cast("double")
        null_b = F.lit(None).cast("boolean")
        return F.struct(
            # NULL on a deterministic subset: null gear counts as a violation
            F.when(F.pmod(eid_j, F.lit(13)) == 0, null_b)
            .otherwise(F.pmod(eid_j, F.lit(2)) == 0)
            .alias("hardhat"),
            F.when(F.pmod(eid_j, F.lit(17)) == 0, null_b)
            .otherwise(F.pmod(eid_j, F.lit(3)) == 0)
            .alias("mask"),
            (F.pmod(eid_j, F.lit(5)) == 0).alias("safety_vest"),
            (F.col("user_id") * 2 + F.lit(j)).cast("int").alias("tracker_id"),
            F.element_at(
                F.array(*[F.lit(s) for s in _STATUSES]),
                (F.pmod(eid_j, F.lit(3)) + 1).cast("int"),
            ).alias("safety_status"),
            F.slice(
                F.array(*[F.lit(g) for g in _GEAR]),
                (F.pmod(eid_j, F.lit(3)) + 1).cast("int"),
                F.pmod(eid_j, F.lit(2)).cast("int"),
            ).alias("missing_items"),
            F.array(x1, y1, x1 + F.lit(5 + j), y1 + F.lit(7)).alias("bbox"),
        )

    n_det = (F.pmod(F.col("event_id"), F.lit(2)) + 1).cast("int")
    # materialization barrier — see _people_raw_from_events
    return ev.select(
        F.col("event_id").cast("int").alias("frame_number"),
        F.slice(F.array(person(0), person(1)), 1, n_det).alias("people"),
    ).repartition(32)


def q56_safety_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datalake_backend_spark.pipelines import safety

    raw = _safety_raw_from_events(spark, sf_dir)
    gold = safety.gold(safety.silver(raw))
    return gold.select(
        "tracker_id",
        "first_frame",
        "last_frame",
        "frame_count",
        "initial_safety_status",
        "final_safety_status",
        "had_hardhat",
        "had_mask",
        "had_safety_vest",
        "hardhat_violations",
        "mask_violations",
        "safety_vest_violations",
        "total_unsafe_frames",
        "most_common_missing_item",
        "bbox_count",
        F.round("bbox_movement_estimate", 4).alias("bbox_movement_r"),
    )


Q56_SQL = """
WITH det AS (
  SELECT
    CAST(e.event_id AS INT) AS frame_number,
    CAST(e.user_id * 2 + j.j AS INT) AS tracker_id,
    CASE WHEN (e.event_id + j.j) % 13 = 0 THEN NULL
         ELSE (e.event_id + j.j) % 2 = 0 END AS hardhat,
    CASE WHEN (e.event_id + j.j) % 17 = 0 THEN NULL
         ELSE (e.event_id + j.j) % 3 = 0 END AS mask,
    ((e.event_id + j.j) % 5 = 0) AS safety_vest,
    ['Safe','Unsafe','Unknown'][CAST((e.event_id + j.j) % 3 AS INT) + 1] AS safety_status,
    CASE WHEN (e.event_id + j.j) % 2 = 1
         THEN [['hardhat','mask','safety_vest'][CAST((e.event_id + j.j) % 3 AS INT) + 1]]
         ELSE [] END AS missing_items,
    (CAST(e.event_id % 97 AS DOUBLE) + (CAST(e.event_id % 97 AS DOUBLE) + 5 + j.j)) / 2.0 AS cx,
    (CAST(e.user_id % 89 AS DOUBLE) + (CAST(e.user_id % 89 AS DOUBLE) + 7)) / 2.0 AS cy
  FROM (SELECT * FROM events WHERE event_id < 25000) e
       JOIN (SELECT unnest(range(0, 2)) AS j) j ON j.j <= e.event_id % 2
),
stepped AS (
  SELECT det.*,
    lag(cx) OVER w AS pcx, lag(cy) OVER w AS pcy
  FROM det WINDOW w AS (PARTITION BY tracker_id ORDER BY frame_number)
),
m_missing AS (
  SELECT tracker_id, item AS most_common_missing_item FROM (
    SELECT tracker_id, item,
           row_number() OVER (PARTITION BY tracker_id ORDER BY COUNT(*) DESC, item ASC) AS rn
    FROM (SELECT tracker_id, unnest(missing_items) AS item FROM det) u
    GROUP BY tracker_id, item) t WHERE rn = 1
),
base AS (
  SELECT tracker_id,
    MIN(frame_number) AS first_frame,
    MAX(frame_number) AS last_frame,
    COUNT(*) AS frame_count,
    arg_min(safety_status, frame_number) AS initial_safety_status,
    arg_max(safety_status, frame_number) AS final_safety_status,
    MAX(COALESCE(hardhat, FALSE)) AS had_hardhat,
    MAX(COALESCE(mask, FALSE)) AS had_mask,
    MAX(COALESCE(safety_vest, FALSE)) AS had_safety_vest,
    CAST(SUM(CASE WHEN NOT COALESCE(hardhat, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS hardhat_violations,
    CAST(SUM(CASE WHEN NOT COALESCE(mask, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS mask_violations,
    CAST(SUM(CASE WHEN NOT COALESCE(safety_vest, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS safety_vest_violations,
    CAST(SUM(CASE WHEN safety_status = 'Unsafe' THEN 1 ELSE 0 END) AS BIGINT) AS total_unsafe_frames,
    COUNT(*) AS bbox_count,
    ROUND(COALESCE(SUM(sqrt((cx - pcx) * (cx - pcx) + (cy - pcy) * (cy - pcy))), 0.0), 4) AS bbox_movement_r
  FROM stepped GROUP BY tracker_id
)
SELECT b.tracker_id, b.first_frame, b.last_frame, b.frame_count,
       b.initial_safety_status, b.final_safety_status,
       b.had_hardhat, b.had_mask, b.had_safety_vest,
       b.hardhat_violations, b.mask_violations, b.safety_vest_violations,
       b.total_unsafe_frames, m.most_common_missing_item,
       b.bbox_count, b.bbox_movement_r
FROM base b LEFT JOIN m_missing m USING (tracker_id)
"""


# ---------------------------------------------------------------------------
# q57 — pose pipeline: keypoint arrays, confidence floor (P4), per-action
# stats with gap-aware frame durations (W9). Mirrors
# /root/reference/Preprocess_Json_Data/preprocessing/
# basic_preprocessing_pose.py + split_pose_data/split_pose.py:80-86.
# ---------------------------------------------------------------------------
def _pose_raw_from_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").where(F.col("event_id") < 25000)

    def pose(j: int) -> Column:
        eid_j = F.col("event_id") + F.lit(j)
        kps = F.transform(
            F.sequence(F.lit(0), F.lit(3)),
            lambda k: F.struct(
                k.cast("double").alias("landmark_id"),
                (F.pmod(eid_j + k, F.lit(97))).cast("double").alias("x"),
                (F.pmod(eid_j + k * 3, F.lit(89))).cast("double").alias("y"),
                F.lit(0.0).alias("z"),
                # dyadic (k/128): per-row visibility means sum exactly
                (F.pmod(eid_j + k * 7, F.lit(128)) / F.lit(128.0)).alias("visibility"),
            ),
        )
        return F.struct(
            kps.alias("keypoints"),
            # action unique per (user, j): frame_number stays unique per group
            F.concat(F.lit("act_"), (F.col("user_id") * 2 + F.lit(j)).cast("string")).alias(
                "action"
            ),
            # dyadic confidence k/128; the > 0.1 floor drops k <= 12
            (F.pmod(eid_j, F.lit(128)) / F.lit(128.0)).alias("confidence"),
        )

    n_det = (F.pmod(F.col("event_id"), F.lit(2)) + 1).cast("int")
    # materialization barrier — see _people_raw_from_events
    return ev.select(
        F.col("event_id").cast("int").alias("frame_number"),
        F.lit(None).cast("int").alias("frame"),
        F.slice(F.array(pose(0), pose(1)), 1, n_det).alias("pose_data"),
    ).repartition(32)


def q57_pose_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datalake_backend_spark.pipelines import pose

    raw = _pose_raw_from_events(spark, sf_dir)
    # fps=4 → frame_seconds=0.25 (dyadic): duration sums are exact
    gold = pose.gold(pose.silver(raw), fps=4.0)
    return gold.select(
        "action",
        "frame_count",
        "avg_confidence",
        "first_frame",
        "last_frame",
        "avg_visibility",
        "duration_seconds",
    )


Q57_SQL = """
WITH det AS (
  SELECT
    CAST(e.event_id AS INT) AS frame_number,
    'act_' || CAST(e.user_id * 2 + j.j AS VARCHAR) AS action,
    ((e.event_id + j.j) % 128) / 128.0 AS confidence,
    (((e.event_id + j.j) % 128) / 128.0
     + ((e.event_id + j.j + 7) % 128) / 128.0
     + ((e.event_id + j.j + 14) % 128) / 128.0
     + ((e.event_id + j.j + 21) % 128) / 128.0) / 4.0 AS vis_mean
  FROM (SELECT * FROM events WHERE event_id < 25000) e
       JOIN (SELECT unnest(range(0, 2)) AS j) j ON j.j <= e.event_id % 2
  WHERE ((e.event_id + j.j) % 128) / 128.0 > 0.1
),
durs AS (
  SELECT action,
    SUM(CASE WHEN gap IS NULL OR gap > 1 THEN CAST(0.25 AS DOUBLE)
             ELSE gap * CAST(0.25 AS DOUBLE) END) AS duration_seconds
  FROM (
    SELECT action,
           frame_number - lag(frame_number) OVER (PARTITION BY action ORDER BY frame_number) AS gap
    FROM det
  ) g GROUP BY action
)
SELECT d.action,
  COUNT(*) AS frame_count,
  AVG(d.confidence) AS avg_confidence,
  MIN(d.frame_number) AS first_frame,
  MAX(d.frame_number) AS last_frame,
  AVG(d.vis_mean) AS avg_visibility,
  MIN(du.duration_seconds) AS duration_seconds
FROM det d JOIN durs du USING (action)
GROUP BY d.action
"""


# ---------------------------------------------------------------------------
# q58 — animal pipeline: untracked detections, null-row drop (P8),
# spatial-grid proximity grouping (F8/A4) with ordered position arrays.
# Mirrors /root/reference/Preprocess_Json_Data/preprocessing/
# basic_preprocessing_animal.py + advanced_preprocessing_animal.py.
# ---------------------------------------------------------------------------
_SPECIES = ["dog", "cat", "bird", "deer"]


def _animal_raw_from_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").where(F.col("event_id") < 25000)
    tsec = F.unix_micros("ts") / F.lit(1_000_000.0)

    def det(j: int) -> Column:
        eid_j = F.col("event_id") + F.lit(j)
        # grid cells cluster detections of the same user into few keys
        x1 = (F.pmod(F.col("user_id"), F.lit(8)) * 20 + F.pmod(eid_j, F.lit(10))).cast(
            "double"
        )
        y1 = (F.pmod(F.col("user_id"), F.lit(6)) * 20).cast("double")
        return F.struct(
            # NULL class_id on a deterministic subset → row dropped (P8)
            F.when(
                F.pmod(eid_j, F.lit(19)) == 0, F.lit(None).cast("int")
            ).otherwise(F.pmod(eid_j, F.lit(4)).cast("int")).alias("class_id"),
            F.element_at(
                F.array(*[F.lit(s) for s in _SPECIES]),
                (F.pmod(eid_j, F.lit(4)) + 1).cast("int"),
            ).alias("class_name"),
            (F.lit(0.5) + F.pmod(eid_j, F.lit(50)) / F.lit(128.0)).alias("confidence"),
            F.array(x1, y1, x1 + F.lit(4), y1 + F.lit(6)).alias("bbox"),
            F.struct(
                (x1 + F.lit(2.0)).alias("x"), (y1 + F.lit(3.0)).alias("y")
            ).alias("center"),
            F.pmod(eid_j, F.lit(900)).cast("int").alias("area"),
            F.col("event_id").cast("int").alias("frame_number"),
            tsec.alias("timestamp"),
        )

    n_det = (F.pmod(F.col("event_id"), F.lit(2)) + 1).cast("int")
    # materialization barrier — see _people_raw_from_events
    return ev.select(
        F.col("event_id").cast("int").alias("frame_number"),
        tsec.alias("timestamp"),
        F.slice(F.array(det(0), det(1)), 1, n_det).alias("detections"),
    ).repartition(32)


def q58_animal_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datalake_backend_spark.pipelines import animal

    raw = _animal_raw_from_events(spark, sf_dir)
    gold = animal.gold(animal.silver(raw), cell=10.0)
    return gold.select(
        "object_id",
        "class_name",
        "first_frame",
        "last_frame",
        "detection_count",
        "avg_confidence",
        F.col("avg_area"),
        # raw double epoch seconds: identical in both engines, no cast
        "first_timestamp",
        "last_timestamp",
        F.to_json("positions").alias("positions_json"),
    )


Q58_SQL = """
WITH det AS (
  SELECT
    CAST(e.event_id AS INT) AS frame_number,
    ['dog','cat','bird','deer'][CAST((e.event_id + j.j) % 4 AS INT) + 1] AS class_name,
    0.5 + ((e.event_id + j.j) % 50) / 128.0 AS confidence,
    CAST((e.event_id + j.j) % 900 AS INT) AS area,
    epoch_us(e.ts) / 1000000.0 AS t,
    CAST(e.user_id % 8 AS DOUBLE) * 20 + CAST((e.event_id + j.j) % 10 AS DOUBLE) + 2.0 AS cx,
    CAST(e.user_id % 6 AS DOUBLE) * 20 + 3.0 AS cy
  FROM (SELECT * FROM events WHERE event_id < 25000) e
       JOIN (SELECT unnest(range(0, 2)) AS j) j ON j.j <= e.event_id % 2
  WHERE (e.event_id + j.j) % 19 <> 0
),
keyed AS (
  SELECT det.*,
    class_name || '_' || CAST(CAST(FLOOR(cx / 10.0) AS BIGINT) AS VARCHAR)
               || '_' || CAST(CAST(FLOOR(cy / 10.0) AS BIGINT) AS VARCHAR) AS object_id
  FROM det
)
SELECT object_id,
  arg_min(class_name, frame_number) AS class_name,
  MIN(frame_number) AS first_frame,
  MAX(frame_number) AS last_frame,
  COUNT(*) AS detection_count,
  AVG(confidence) AS avg_confidence,
  AVG(CAST(area AS DOUBLE)) AS avg_area,
  MIN(t) AS first_timestamp,
  MAX(t) AS last_timestamp,
  to_json(list_sort(list(struct_pack(frame_number := frame_number, x := cx, y := cy))))
    AS positions_json
FROM keyed GROUP BY object_id
"""


# ---------------------------------------------------------------------------
# q59/q60 — geolocation and common pipelines (flat detections): renames
# P2, confidence floor P4, lat/lon struct extraction P1, and the
# tracker-or-grid fallback key. With these, ALL 11 reference domain
# pipelines are driver-checked end-to-end.
# ---------------------------------------------------------------------------
def _geo_raw_from_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    eid = F.col("event_id")
    x1 = F.pmod(eid, F.lit(97)).cast("double")
    y1 = F.pmod(F.col("user_id"), F.lit(89)).cast("double")
    # dyadic lat/lon (k/128): spatial averages sum exactly cross-engine
    lat = (F.pmod(F.col("user_id"), F.lit(170)) - 85 + F.pmod(eid, F.lit(128)) / F.lit(128.0)).cast("double")
    lon = (F.pmod(F.col("user_id") * 3, F.lit(340)) - 170 + F.pmod(eid * 5, F.lit(128)) / F.lit(128.0)).cast("double")
    return ev.select(
        eid.cast("int").alias("frame"),
        F.col("event_type").alias("class"),
        (F.pmod(eid, F.lit(128)) / F.lit(128.0)).alias("confidence"),
        F.array(x1, y1, x1 + F.lit(5), y1 + F.lit(7)).alias("bbox"),
        F.struct(lat.alias("latitude"), lon.alias("longitude")).alias("geolocation"),
    )


def q59_geolocation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datalake_backend_spark.pipelines import geolocation

    raw = _geo_raw_from_events(spark, sf_dir)
    return geolocation.gold(geolocation.silver(raw))


Q59_SQL = """
WITH det AS (
  SELECT event_type AS class_name,
    (event_id % 128) / 128.0 AS confidence,
    (user_id % 170) - 85 + (event_id % 128) / 128.0 AS latitude,
    ((user_id * 3) % 340) - 170 + ((event_id * 5) % 128) / 128.0 AS longitude
  FROM events
  WHERE (event_id % 128) / 128.0 > 0.1
)
SELECT class_name,
  COUNT(*) AS detection_count,
  AVG(confidence) AS avg_confidence,
  AVG(latitude) AS avg_latitude,
  AVG(longitude) AS avg_longitude,
  MIN(latitude) AS min_latitude,
  MAX(latitude) AS max_latitude,
  MIN(longitude) AS min_longitude,
  MAX(longitude) AS max_longitude
FROM det GROUP BY class_name
"""


def _common_raw_from_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    eid = F.col("event_id")
    x1 = (F.pmod(F.col("user_id"), F.lit(8)) * 20).cast("double")
    y1 = (F.pmod(F.col("user_id"), F.lit(6)) * 20).cast("double")
    return ev.select(
        eid.cast("int").alias("frame_number"),
        # -1 on a subset → grid-key fallback branch
        F.when(F.pmod(eid, F.lit(4)) == 0, F.lit(-1))
        .otherwise(F.col("user_id"))
        .cast("int")
        .alias("tracker_id"),
        F.pmod(eid, F.lit(5)).cast("int").alias("class_id"),
        F.col("event_type").alias("class_name"),
        (F.lit(0.5) + F.pmod(eid, F.lit(50)) / F.lit(128.0)).alias("confidence"),
        F.array(x1, y1, x1 + F.lit(4), y1 + F.lit(6)).alias("bbox"),
    )


def q60_common_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datalake_backend_spark.pipelines import common

    raw = _common_raw_from_events(spark, sf_dir)
    return common.gold(common.silver(raw), cell=10.0)


Q60_SQL = """
WITH det AS (
  SELECT CAST(event_id AS INT) AS frame_number,
    CASE WHEN event_id % 4 = 0 THEN -1 ELSE CAST(user_id AS INT) END AS tracker_id,
    event_type AS class_name,
    0.5 + (event_id % 50) / 128.0 AS confidence,
    CAST(user_id % 8 AS DOUBLE) * 20 + 2.0 AS cx,
    CAST(user_id % 6 AS DOUBLE) * 20 + 3.0 AS cy
  FROM events
),
keyed AS (
  SELECT det.*,
    CASE WHEN tracker_id IS NOT NULL AND tracker_id <> -1
         THEN CAST(tracker_id AS VARCHAR)
         ELSE class_name || '_' || CAST(CAST(FLOOR(cx / 10.0) AS BIGINT) AS VARCHAR)
                         || '_' || CAST(CAST(FLOOR(cy / 10.0) AS BIGINT) AS VARCHAR)
         END AS object_id
  FROM det
)
SELECT object_id,
  arg_min(class_name, frame_number) AS class_name,
  MIN(frame_number) AS first_frame,
  MAX(frame_number) AS last_frame,
  COUNT(*) AS detection_count,
  AVG(confidence) AS avg_confidence
FROM keyed GROUP BY object_id
"""


def q61_scd2_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 merge driver check (lakehouse MERGE INTO emulation,
    `dbs.operators.merge.scd2_apply`): customers are the dimension,
    a deterministic change set flips market segments through NULL on
    both sides (NULLIF on different values in current vs changes) and
    shifts balances, plus brand-new keys whose compare columns are all
    NULL — the exact edge the literal `_matched` marker exists for.
    Validity timestamps compare cross-engine as epoch micros."""
    from datalake_backend_spark.operators.merge import scd2_apply

    cust = table(spark, sf_dir, "customer")
    current = cust.select(
        F.col("c_custkey").alias("key"),
        F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")).alias("segment"),
        F.col("c_acctbal").alias("bal"),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("effective_from"),
        F.lit(None).cast("timestamp").alias("effective_to"),
    )
    changed = cust.where(F.col("c_custkey") % 2 == 0).select(
        F.col("c_custkey").alias("key"),
        F.nullif(F.col("c_mktsegment"), F.lit("AUTOMOBILE")).alias("segment"),
        F.when(F.col("c_custkey") % 4 == 0, F.col("c_acctbal") + 50)
        .otherwise(F.col("c_acctbal"))
        .alias("bal"),
    )
    brand_new = cust.where(F.col("c_custkey") % 7 == 0).select(
        (F.col("c_custkey") + 1000000).alias("key"),
        F.lit(None).cast("string").alias("segment"),
        F.lit(None).cast("double").alias("bal"),
    )
    changes = changed.unionByName(brand_new)
    merged = scd2_apply(
        current,
        changes,
        key_cols=["key"],
        compare_cols=["segment", "bal"],
        ts=F.lit("2024-06-01 00:00:00").cast("timestamp"),
    )
    return merged.select(
        "key",
        "segment",
        "bal",
        F.unix_micros(F.col("effective_from")).alias("eff_from_us"),
        F.unix_micros(F.col("effective_to")).alias("eff_to_us"),
    )


Q61_SQL = """
WITH cur AS (
  SELECT c_custkey AS key, NULLIF(c_mktsegment, 'BUILDING') AS segment, c_acctbal AS bal,
         TIMESTAMP '2024-01-01 00:00:00' AS eff_from, CAST(NULL AS TIMESTAMP) AS eff_to
  FROM customer
),
chg AS (
  SELECT c_custkey AS key, NULLIF(c_mktsegment, 'AUTOMOBILE') AS segment,
         CASE WHEN c_custkey % 4 = 0 THEN c_acctbal + 50 ELSE c_acctbal END AS bal
  FROM customer WHERE c_custkey % 2 = 0
  UNION ALL
  SELECT c_custkey + 1000000 AS key, CAST(NULL AS VARCHAR) AS segment, CAST(NULL AS DOUBLE) AS bal
  FROM customer WHERE c_custkey % 7 = 0
),
open_rows AS (SELECT * FROM cur WHERE eff_to IS NULL),
j AS (
  SELECT o.key, o.segment, o.bal, o.eff_from, o.eff_to,
         c.key IS NOT NULL AS matched,
         (NOT (o.segment IS NOT DISTINCT FROM c.segment))
           OR (NOT (o.bal IS NOT DISTINCT FROM c.bal)) AS changed
  FROM open_rows o LEFT JOIN chg c ON o.key = c.key
),
merged AS (
  SELECT key, segment, bal, eff_from, eff_to FROM j WHERE (NOT matched) OR (NOT changed)
  UNION ALL
  SELECT key, segment, bal, eff_from, TIMESTAMP '2024-06-01 00:00:00' AS eff_to
  FROM j WHERE matched AND changed
  UNION ALL
  SELECT c.key, c.segment, c.bal,
         TIMESTAMP '2024-06-01 00:00:00' AS eff_from, CAST(NULL AS TIMESTAMP) AS eff_to
  FROM chg c LEFT JOIN open_rows o ON c.key = o.key
  WHERE o.key IS NULL
     OR (NOT (o.segment IS NOT DISTINCT FROM c.segment))
     OR (NOT (o.bal IS NOT DISTINCT FROM c.bal))
)
SELECT key, segment, bal, epoch_us(eff_from) AS eff_from_us, epoch_us(eff_to) AS eff_to_us
FROM merged
"""


def q62_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs
    (`dbs.datapipe.similarity.near_dup_pairs`): 8-plane hyperplane-LSH
    bucket self-join for candidates, exact cosine verify. The DuckDB
    twin inlines the deterministic LCG hyperplanes (as q29 does), so
    the bucket assignment AND the verified pair set reproduce
    bit-for-bit. Threshold 0.35 is calibrated to the synthetic
    embedding corpus (max all-pairs cosine ≈ 0.51); production corpora
    with planted duplicates run 0.9+."""
    from datalake_backend_spark.datapipe.similarity import near_dup_pairs

    emb = table(spark, sf_dir, "embeddings")
    out = near_dup_pairs(emb, threshold=0.35, n_planes=8, dim=64)
    return out.select(
        "id_a", "id_b", F.round("cosine", 4).alias("cosine_r")
    )


def _q62_sql(threshold: float = 0.35, n_planes: int = 8, dim: int = 64, seed: int = 42) -> str:
    """DuckDB twin of q62: same hyperplane literals and fold order as
    `_q29_sql` (list_reduce's first-element seed == Spark's 0.0 + x1)."""
    from datalake_backend_spark.datapipe.similarity import random_hyperplanes

    planes = random_hyperplanes(n_planes, dim, seed)

    def dot_sql(vec_expr: str, plane: list[float]) -> str:
        lit = "[" + ", ".join(repr(x) for x in plane) + "]"
        return (
            f"list_reduce(list_transform(list_zip({vec_expr}, {lit}), "
            "p -> p[1] * p[2]), (acc, x) -> acc + x)"
        )

    bucket = " + ".join(
        f"(CASE WHEN {dot_sql('v', p)} >= 0 THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )
    return f"""
WITH n AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
    sqrt(list_reduce(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x), (a, b) -> a + b)) AS nrm
  FROM embeddings
),
b AS (SELECT vec_id, v, nrm, {bucket} AS bucket FROM n),
pairs AS (
  SELECT a.vec_id AS id_a, bb.vec_id AS id_b,
    list_reduce(list_transform(list_zip(a.v, bb.v), p -> p[1] * p[2]), (acc, x) -> acc + x)
      / (a.nrm * bb.nrm) AS cosine
  FROM b a JOIN b bb ON a.bucket = bb.bucket AND a.vec_id < bb.vec_id
)
SELECT id_a, id_b, ROUND(cosine, 4) AS cosine_r FROM pairs WHERE cosine >= {threshold!r}
"""


def q63_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate-nearest-neighbor driver check
    (`dbs.datapipe.similarity.ivf_index`/`ivf_topk`): distributed
    KMeans trains the coarse quantizer, then the query probes ALL
    lists (nprobe == n_lists), which is exactly the brute-force top-k
    regardless of where the centroids landed — so the DuckDB oracle is
    the exact scan. Partial-probe recall is covered by pytest
    (tests assert full-probe == exact and recall@nprobe bounds); the
    scale path writes `assigned` partitioned by ivf_list so a real
    query scans only probed lists' files."""
    from datalake_backend_spark.datapipe.similarity import ivf_index, ivf_topk

    emb = table(spark, sf_dir, "embeddings")
    q = _query_vec(spark, sf_dir, 1)
    assigned, centroids = ivf_index(emb, n_lists=8)
    out = ivf_topk(assigned, centroids, q, k=12, nprobe=8)
    return out.select("vec_id", F.round("cosine", 4).alias("cosine_r"))


Q63_SQL = """
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 1),
scored AS (
  SELECT vec_id,
    list_reduce(list_transform(list_zip(CAST(embedding AS DOUBLE[]), qv), x -> x[1]*x[2]), (a,b) -> a+b)
    / (sqrt(list_reduce(list_transform(CAST(embedding AS DOUBLE[]), x -> x*x), (a,b) -> a+b))
       * sqrt(list_reduce(list_transform(qv, x -> x*x), (a,b) -> a+b))) AS cosine
  FROM embeddings, q
)
SELECT vec_id, ROUND(cosine, 4) AS cosine_r FROM scored
ORDER BY cosine DESC, vec_id ASC LIMIT 12
"""


def q64_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-writer-wins upsert driver check
    (`dbs.operators.merge.upsert`): two update waves collide on
    key % 4 == 0 (same segment, different balances) so the
    dedup-by-max-struct picks the larger balance; key % 7 == 0 appends
    brand-new keys. The DuckDB twin resolves the collision with the
    same (segment, bal) lexicographic order via row_number."""
    from datalake_backend_spark.operators.merge import upsert

    cust = table(spark, sf_dir, "customer")
    base = cust.select(
        F.col("c_custkey").alias("key"),
        F.col("c_mktsegment").alias("segment"),
        F.col("c_acctbal").alias("bal"),
    )
    wave_a = base.where(F.col("key") % 2 == 0).withColumn("bal", F.col("bal") + 10)
    wave_b = base.where(F.col("key") % 4 == 0).withColumn("bal", F.col("bal") + 20)
    brand_new = base.where(F.col("key") % 7 == 0).select(
        (F.col("key") + 1000000).alias("key"),
        F.lit("NEWSEG").alias("segment"),
        F.lit(0.0).alias("bal"),
    )
    updates = wave_a.unionByName(wave_b).unionByName(brand_new)
    return upsert(base, updates, ["key"])


Q64_SQL = """
WITH base AS (SELECT c_custkey AS key, c_mktsegment AS segment, c_acctbal AS bal FROM customer),
updates AS (
  SELECT key, segment, bal + 10 AS bal FROM base WHERE key % 2 = 0
  UNION ALL
  SELECT key, segment, bal + 20 AS bal FROM base WHERE key % 4 = 0
  UNION ALL
  SELECT key + 1000000 AS key, 'NEWSEG' AS segment, CAST(0.0 AS DOUBLE) AS bal
  FROM base WHERE key % 7 = 0
),
dedup AS (
  SELECT key, segment, bal FROM (
    SELECT *, row_number() OVER (PARTITION BY key ORDER BY segment DESC, bal DESC) AS rn
    FROM updates
  ) WHERE rn = 1
)
SELECT key, segment, bal FROM base WHERE key NOT IN (SELECT key FROM dedup)
UNION ALL
SELECT key, segment, bal FROM dedup
"""


def q65_normalized_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-normalization + content-fingerprint driver check
    (`dbs.datapipe.text.normalize_text`/`fingerprint`): URL/email/
    control-char scrub, whitespace collapse, trim, lowercase, then md5
    — the standard pre-dedup canonicalization. Regex classes are
    chosen to mean the same thing in Java regex and RE2 (the \\x0b
    divergence in \\s is scrubbed away before the collapse)."""
    from datalake_backend_spark.datapipe.text import fingerprint, normalize_text

    docs = table(spark, sf_dir, "documents")
    normed = normalize_text(docs, "text", out_col="norm_text")
    return fingerprint(normed, "norm_text", out_col="fp").select("doc_id", "fp")


Q65_SQL = r"""
SELECT doc_id,
  md5(lower(trim(regexp_replace(
    regexp_replace(
      regexp_replace(
        regexp_replace(text, 'https?://\S+', ' ', 'g'),
        '[\w.+-]+@[\w-]+\.[\w.-]+', ' ', 'g'),
      '[\x00-\x08\x0b\x0c\x0e-\x1f]', '', 'g'),
    '\s+', ' ', 'g')))) AS fp
FROM documents
"""


def q66_streaming_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming gap-sessionization driver check
    (`dbs.streaming.pipeline.session_aggregate`): the events parquet is
    replayed as a stream (availableNow), session_window(30 min) groups
    it, and the per-user session/event counts land in a memory sink.
    session_window semantics — a new session starts when the gap is
    >= 30 min (windows are [start, last+gap)) — are reproduced in the
    DuckDB twin with a lag-based >= boundary, so streaming output is
    fully oracle-checked, not rows-only."""
    from datalake_backend_spark.streaming.pipeline import (
        streaming_session,
    )

    spark = streaming_session(spark)
    from datalake_backend_spark.streaming.pipeline import (
        read_event_stream,
        session_aggregate,
        start_to_memory,
    )

    path = f"{sf_dir}/events.parquet"
    # batch `table()` pins nanosAsLong + UTC session TZ — required before
    # the raw schema sniff below can read the TIMESTAMP(NANOS) column
    table(spark, sf_dir, "events")
    # the streaming file source needs a directory basePath; a glob makes
    # Spark resolve the parent dir as base (events.parquet is one file)
    stream = read_event_stream(
        spark, f"{sf_dir}/events.parquet*", spark.read.parquet(path).schema
    )
    if dict(stream.dtypes).get("ts") == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    sessions = session_aggregate(stream, time_col="ts", key_col="user_id", gap="30 minutes")
    start_to_memory(sessions, "q66_sessions", output_mode="complete")
    return (
        spark.table("q66_sessions")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_sessions"),
            F.sum("n_events").cast("long").alias("total_events"),
        )
    )


Q66_SQL = """
WITH lagged AS (
  SELECT user_id, ts,
    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events
),
marked AS (
  SELECT user_id, ts,
    CASE WHEN prev_ts IS NULL
           OR epoch_us(ts) - epoch_us(prev_ts) >= 1800000000 THEN 1 ELSE 0 END AS is_new
  FROM lagged
),
sess AS (
  SELECT user_id,
    SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
),
per_session AS (
  SELECT user_id, sid, COUNT(*) AS n_events FROM sess GROUP BY user_id, sid
)
SELECT user_id, COUNT(*) AS n_sessions, CAST(SUM(n_events) AS BIGINT) AS total_events
FROM per_session GROUP BY user_id
"""


def q67_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial-overlap / containment detection
    (`dbs.datapipe.dedup.chunk_overlap_pairs`): documents sharing >= 2
    distinct rolling 8-token chunk fingerprints. Catches a short doc
    embedded verbatim in a long one, which whole-document MinHash
    misses (low global Jaccard). The frequency cap (max_df=50) drops
    boilerplate hot-key chunks before the self-join; the DuckDB twin
    models the same cap, the same portable 60-bit md5 hash, and the
    same distinct-per-doc chunk sets, so the pair list and shared
    counts reproduce exactly."""
    from datalake_backend_spark.datapipe.dedup import chunk_overlap_pairs

    docs = table(spark, sf_dir, "documents")
    return chunk_overlap_pairs(docs, window=8, min_shared=2, max_df=50)


Q67_SQL = r"""
WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
idx AS (
  SELECT doc_id, t, unnest(generate_series(1, greatest(len(t) - 7, 1))) AS i FROM toks
),
fps AS (
  SELECT DISTINCT doc_id,
    ('0x' || substr(md5(array_to_string(t[i : i + 7], ' ')), 1, 15))::BIGINT AS fp
  FROM idx
),
kept AS (
  SELECT doc_id, fp FROM fps
  WHERE fp IN (SELECT fp FROM fps GROUP BY fp HAVING COUNT(*) <= 50)
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared_chunks
FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING COUNT(*) >= 2
"""


#: q68 corpus-curation parameters (shared by Spark impl and SQL twin)
Q68_SAMPLE_RATES = {"en": 0.5, "fr": 0.25, "de": 0.25, "es": 0.1, "zh": 1.0}
Q68_SPLIT_FRACS = {"train": 0.8, "val": 0.1, "test": 0.1}


def q68_stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus curation
    (`dbs.datapipe.sampling`): per-language stratified sampling then
    leakage-safe train/val/test assignment, both derived from the
    portable 60-bit md5 hash of (doc_id, salt) — reproducible across
    runs, partitionings, and engines (df.sample/sampleBy are none of
    those). The DuckDB twin inlines the SAME cumulative float
    thresholds Python computed (0.8 + 0.1 is 0.9000000000000001 in
    binary — a fresh 0.9 literal would misplace boundary rows)."""
    from datalake_backend_spark.datapipe.sampling import (
        deterministic_split,
        stratified_sample,
    )

    docs = table(spark, sf_dir, "documents")
    sampled = stratified_sample(
        docs, "lang", Q68_SAMPLE_RATES, key_col="doc_id", salt="s1"
    )
    split = deterministic_split(sampled, "doc_id", Q68_SPLIT_FRACS, salt="cv0")
    return split.groupBy("lang", "split").agg(F.count("*").alias("n"))


def _q68_sql() -> str:
    """DuckDB twin of q68, generated from the same rate/fraction dicts
    so every float literal is bit-identical to the Spark plan's."""
    from datalake_backend_spark.datapipe.sampling import split_bounds

    def frac(salt: str) -> str:
        return (
            f"(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '{salt}'), 1, 15))::BIGINT"
            " / 1152921504606846976.0)"
        )

    rate = "CASE lang " + " ".join(
        f"WHEN '{k}' THEN {v!r}" for k, v in Q68_SAMPLE_RATES.items()
    ) + " ELSE 0.0 END"
    names = list(Q68_SPLIT_FRACS)
    cases = " ".join(
        f"WHEN {frac('cv0')} < {bound!r} THEN '{name}'"
        for name, bound in split_bounds(Q68_SPLIT_FRACS)
    )
    split = f"CASE {cases} ELSE '{names[-1]}' END"
    return f"""
WITH sampled AS (
  SELECT doc_id, lang FROM documents WHERE {frac('s1')} < {rate}
),
assigned AS (SELECT lang, {split} AS split FROM sampled)
SELECT lang, split, COUNT(*) AS n FROM assigned GROUP BY lang, split
"""


def q69_repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style within-document repetition features
    (`dbs.datapipe.text.repetition_metrics`): duplicate-token fraction,
    top/duplicate 2-gram share, top 3-gram share. Map-only — the
    per-doc n-gram frequency stats come from a sorted-run fold, not an
    explode→groupBy shuffle; the DuckDB twin computes the same counts
    the relational way (unnest + GROUP BY) and must agree exactly
    (integer counts, one exact double division each)."""
    from datalake_backend_spark.datapipe.text import repetition_metrics

    docs = table(spark, sf_dir, "documents")
    return repetition_metrics(docs)


Q69_SQL = r"""
WITH base AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t,
         len(regexp_split_to_array(trim(text), '\s+')) AS n
  FROM documents
),
g2 AS (
  SELECT doc_id, array_to_string(t[i : i + 1], ' ') AS g
  FROM (SELECT doc_id, t, unnest(generate_series(1, n - 1)) AS i
        FROM base WHERE n >= 2)
),
c2 AS (SELECT doc_id, g, COUNT(*) AS c FROM g2 GROUP BY 1, 2),
s2 AS (SELECT doc_id, MAX(c) AS best, SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup
       FROM c2 GROUP BY 1),
g3 AS (
  SELECT doc_id, array_to_string(t[i : i + 2], ' ') AS g
  FROM (SELECT doc_id, t, unnest(generate_series(1, n - 2)) AS i
        FROM base WHERE n >= 3)
),
c3 AS (SELECT doc_id, g, COUNT(*) AS c FROM g3 GROUP BY 1, 2),
s3 AS (SELECT doc_id, MAX(c) AS best FROM c3 GROUP BY 1)
SELECT b.doc_id,
  b.n AS n_tokens,
  CAST(b.n - len(list_distinct(b.t)) AS DOUBLE) / b.n AS dup_token_frac,
  CAST(COALESCE(s2.best, 0) AS DOUBLE) / greatest(b.n - 1, 1) AS top_2gram_share,
  CAST(COALESCE(s2.dup, 0) AS DOUBLE) / greatest(b.n - 1, 1) AS dup_2gram_frac,
  CAST(COALESCE(s3.best, 0) AS DOUBLE) / greatest(b.n - 2, 1) AS top_3gram_share
FROM base b
LEFT JOIN s2 ON b.doc_id = s2.doc_id
LEFT JOIN s3 ON b.doc_id = s3.doc_id
"""


def q70_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub (`dbs.datapipe.text.redact_pii`): the corpus is salted
    with deterministic doc_id-derived emails / phones / IPs / SSNs
    (the synthetic documents carry none), then redacted with typed
    placeholders. The check hashes the REDACTED text — a
    half-replaced or over-replaced string changes the md5 — and
    compares per-type match counts. Java-regex and RE2 agree because
    PII_PATTERNS sticks to the common subset (ASCII \\b and \\w, no
    lookaround)."""
    from datalake_backend_spark.datapipe.text import redact_pii

    docs = table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    injected = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            d.cast("string"),
            F.lit("@example.com"),
            F.when(
                d % 2 == 0,
                F.concat(
                    F.lit(" call 555-123-"),
                    F.lpad((d % 10000).cast("string"), 4, "0"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                d % 3 == 0,
                F.concat(
                    F.lit(" from 192.168."),
                    (d % 256).cast("string"),
                    F.lit(".7"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                d % 5 == 0,
                F.concat(
                    F.lit(" ssn 123-45-"),
                    F.lpad((d % 10000).cast("string"), 4, "0"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    red = redact_pii(injected)
    return red.select(
        "doc_id",
        "n_email",
        "n_ssn",
        "n_phone",
        "n_ipv4",
        F.md5("text").alias("redacted_md5"),
    )


Q70_SQL = r"""
WITH injected AS (
  SELECT doc_id,
    text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
      || CASE WHEN doc_id % 2 = 0
              THEN ' call 555-123-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
              ELSE '' END
      || CASE WHEN doc_id % 3 = 0
              THEN ' from 192.168.' || CAST(doc_id % 256 AS VARCHAR) || '.7'
              ELSE '' END
      || CASE WHEN doc_id % 5 = 0
              THEN ' ssn 123-45-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
              ELSE '' END AS text
  FROM documents
)
SELECT doc_id,
  len(regexp_extract_all(text, '[\w.+-]+@[\w-]+\.[\w.-]+')) AS n_email,
  len(regexp_extract_all(text, '\b\d{3}-\d{2}-\d{4}\b')) AS n_ssn,
  len(regexp_extract_all(text, '\b\d{3}[-.]\d{3}[-.]\d{4}\b')) AS n_phone,
  len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ipv4,
  md5(
    regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(text, '[\w.+-]+@[\w-]+\.[\w.-]+', '<EMAIL>', 'g'),
          '\b\d{3}-\d{2}-\d{4}\b', '<SSN>', 'g'),
        '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '<PHONE>', 'g'),
      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IPV4>', 'g')
  ) AS redacted_md5
FROM injected
"""


def q71_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (`dbs.datapipe.dedup.contamination`):
    every 11th document plays the held-out eval set; the scan counts,
    per training doc, the distinct 4-token chunk fingerprints shared
    with any eval doc (window 4 because the synthetic corpus draws
    from a small vocabulary — real corpora use 8-13-gram windows).
    The eval fingerprint set is broadcast — the 100 TB train side
    joins map-side and never shuffles text. Portable 60-bit hash →
    exact DuckDB twin."""
    from datalake_backend_spark.datapipe.dedup import contamination

    docs = table(spark, sf_dir, "documents")
    ev = docs.where(F.col("doc_id") % 11 == 0)
    tr = docs.where(F.col("doc_id") % 11 != 0)
    return contamination(tr, ev, window=4)


Q71_SQL = r"""
WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
idx AS (
  SELECT doc_id, t, unnest(generate_series(1, greatest(len(t) - 3, 1))) AS i FROM toks
),
fps AS (
  SELECT DISTINCT doc_id,
    ('0x' || substr(md5(array_to_string(t[i : i + 3], ' ')), 1, 15))::BIGINT AS fp
  FROM idx
),
ev AS (SELECT DISTINCT fp FROM fps WHERE doc_id % 11 = 0),
tr AS (SELECT doc_id, fp FROM fps WHERE doc_id % 11 <> 0)
SELECT tr.doc_id, COUNT(*) AS n_shared_chunks
FROM tr JOIN ev USING (fp)
GROUP BY tr.doc_id
"""


def q72_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (`dbs.datapipe.packing`): documents laid out as
    one global token stream in doc_id order and chunked into
    2048-token training sequences. The global running offset is
    computed with the two-phase plan (range partition → per-partition
    totals → broadcast prefix offsets → local window) — the oracle's
    `SUM() OVER (ORDER BY doc_id)` is the single-task formulation the
    operator exists to avoid, and both must agree token-for-token."""
    from datalake_backend_spark.datapipe.packing import pack_sequences

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    return pack_sequences(docs, max_len=2048)


Q72_SQL = r"""
WITH t AS (
  SELECT doc_id,
         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, n_tokens,
         CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_offset
  FROM t
)
SELECT doc_id, n_tokens, start_offset,
  CAST(start_offset // 2048 AS BIGINT) AS seq_id,
  CAST(start_offset % 2048 AS BIGINT) AS offset_in_seq,
  CAST(((start_offset + n_tokens - 1) // 2048) - (start_offset // 2048) + 1 AS BIGINT) AS n_seqs_spanned
FROM c
"""


#: q73 per-language sampling rates (shared by Spark impl and SQL twin)
Q73_RATES = {"en": 0.5, "fr": 0.8, "de": 0.8, "es": 0.6, "zh": 0.3}


def q73_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus curation — the composition the individual
    driver rows prove piecewise: normalize (q65 semantics) → exact
    dedup on normalized text (q20) → quality gate (length + Gopher
    dup-token fraction, q22/q69) → deterministic stratified sample
    (q68) → sequence packing (q72), reported as per-language doc /
    token / training-sequence counts. Every stage is map-only or a
    hash-key shuffle; the oracle replays the identical pipeline in
    SQL, so a drift in ANY stage breaks the hash."""
    from datalake_backend_spark.datapipe.dedup import dedup_keep_canonical
    from datalake_backend_spark.datapipe.packing import pack_sequences
    from datalake_backend_spark.datapipe.sampling import stratified_sample
    from datalake_backend_spark.datapipe.text import normalize_text, tokens

    docs = table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    norm = normalize_text(docs)
    # single-pass dedup (rank within content-hash) — the canon-set +
    # semi-join formulation evaluates the normalize regexes twice
    kept = dedup_keep_canonical(norm)
    staged = kept.select(
        "doc_id", "lang", tokens(F.col("text")).alias("_t")
    )
    n_tok = F.size("_t")
    dup_frac = (n_tok - F.size(F.array_distinct("_t"))).cast("double") / n_tok
    filtered = staged.where((n_tok >= 25) & (dup_frac <= 0.6)).select(
        "doc_id", "lang", n_tok.cast("long").alias("n_tokens")
    )
    sampled = stratified_sample(filtered, "lang", Q73_RATES, key_col="doc_id", salt="cur")
    # pack_sequences carries lang through — no re-join, upstream
    # evaluated exactly once
    packed = pack_sequences(sampled, max_len=1024, token_count_col="n_tokens")
    return packed.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.countDistinct("seq_id").alias("n_seqs"),
    )


def _q73_sql() -> str:
    """DuckDB twin generated from the same rate dict (bit-identical
    float literals, like q68)."""
    rate = "CASE lang " + " ".join(
        f"WHEN '{k}' THEN {v!r}" for k, v in Q73_RATES.items()
    ) + " ELSE 0.0 END"
    frac = (
        "(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'cur'), 1, 15))::BIGINT"
        " / 1152921504606846976.0)"
    )
    return rf"""
WITH norm AS (
  SELECT doc_id, lang,
    lower(trim(regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(text, 'https?://\S+', ' ', 'g'),
          '[\w.+-]+@[\w-]+\.[\w.-]+', ' ', 'g'),
        '[\x00-\x08\x0b\x0c\x0e-\x1f]', '', 'g'),
      '\s+', ' ', 'g'))) AS text
  FROM documents
),
canon AS (SELECT min(doc_id) AS doc_id FROM norm GROUP BY md5(text)),
kept AS (SELECT * FROM norm WHERE doc_id IN (SELECT doc_id FROM canon)),
tok AS (SELECT doc_id, lang, regexp_split_to_array(trim(text), '\s+') AS t FROM kept),
q AS (
  SELECT doc_id, lang, CAST(len(t) AS BIGINT) AS n_tokens,
         CAST(len(t) - len(list_distinct(t)) AS DOUBLE) / len(t) AS dupf
  FROM tok
),
filt AS (SELECT doc_id, lang, n_tokens FROM q WHERE n_tokens >= 25 AND dupf <= 0.6),
samp AS (SELECT * FROM filt WHERE {frac} < {rate}),
off AS (
  SELECT doc_id, lang, n_tokens,
         CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS s
  FROM samp
)
SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       COUNT(DISTINCT s // 1024) AS n_seqs
FROM off GROUP BY lang
"""


def _halves(df: DataFrame, col: str, mid) -> list[DataFrame]:
    """Two replay batches: rows with ``col <= mid``, then the rest."""
    return [df.where(F.col(col) <= mid), df.where(F.col(col) > mid)]


def q74_stateful_slot_tracker(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-batch stateful streaming driver check
    (`dbs.streaming.stateful.track_slot_state`,
    ``applyInPandasWithState``): the events table is split at its time
    midpoint into two parquet files replayed as two micro-batches
    (``maxFilesPerTrigger=1``, mtimes pinned so the file source drains
    them oldest-first). Per-slot occupancy state — last flag, last ts,
    occupied/free time, transition counts — must carry across the batch
    boundary; the DuckDB twin computes the same walk over the full
    ordered history, so a tracker that resets state between batches
    breaks the hash. Timestamps flow as integral micros-in-double, so
    every accumulated sum is exact cross-engine. The incremental
    version of the reference's per-slot driver loop
    (``advanced_preprocessing_parkingLot.py:46-123``)."""
    from datalake_backend_spark.streaming.pipeline import (
        streaming_session,
    )

    spark = streaming_session(spark)
    from datalake_backend_spark.streaming.stateful import track_slot_state
    from datalake_backend_spark.streaming.pipeline import start_to_memory

    ev = table(spark, sf_dir, "events")
    long = ev.select(
        F.col("user_id").cast("string").alias("slot_id"),
        F.unix_micros("ts").cast("double").alias("timestamp_sec"),
        (F.pmod(F.col("event_id"), F.lit(3)) == 0).alias("occupied"),
    )
    lo, hi = long.agg(F.min("timestamp_sec"), F.max("timestamp_sec")).first()
    mid = (lo + hi) / 2.0
    # the memory sink holds the results — the parquet replay fixture
    # is dead weight once the stream has drained
    with replay_batches(
        spark,
        sf_dir,
        "q74_src",
        [
            long.where(F.col("timestamp_sec") <= mid),
            long.where(F.col("timestamp_sec") > mid),
        ],
    ) as (stream, _base):
        start_to_memory(
            track_slot_state(stream), "q74_slots", output_mode="update"
        )
    # update mode emits one row per slot per batch it appeared in; the
    # final state is the row with the greatest last_ts (strictly
    # increasing per slot — (user, ts) is unique in events).
    latest = F.max_by(
        F.struct(
            "occupied",
            "occupied_seconds",
            "free_seconds",
            "became_occupied",
            "became_free",
            "late_rows",
        ),
        "last_ts",
    )
    return (
        spark.table("q74_slots")
        .groupBy("slot_id")
        .agg(F.max("last_ts").alias("_last"), latest.alias("_s"))
        .select(
            "slot_id",
            F.col("_s.occupied").alias("occupied"),
            F.col("_last").cast("long").alias("last_us"),
            F.col("_s.occupied_seconds").cast("long").alias("occupied_us"),
            F.col("_s.free_seconds").cast("long").alias("free_us"),
            F.col("_s.became_occupied").alias("became_occupied"),
            F.col("_s.became_free").alias("became_free"),
            F.col("_s.late_rows").alias("late_rows"),
        )
    )


Q74_SQL = """
WITH src AS (
  SELECT CAST(user_id AS VARCHAR) AS slot_id,
         CAST(epoch_us(ts) AS DOUBLE) AS t,
         (event_id % 3 = 0) AS occ
  FROM events
),
stepped AS (
  SELECT slot_id, t, occ,
         lag(occ) OVER w AS pocc,
         t - lag(t) OVER w AS dt
  FROM src WINDOW w AS (PARTITION BY slot_id ORDER BY t)
)
SELECT slot_id,
  arg_max(occ, t) AS occupied,
  CAST(MAX(t) AS BIGINT) AS last_us,
  CAST(COALESCE(SUM(CASE WHEN pocc THEN dt END), 0.0) AS BIGINT) AS occupied_us,
  CAST(COALESCE(SUM(CASE WHEN NOT pocc THEN dt END), 0.0) AS BIGINT) AS free_us,
  CAST(COALESCE(SUM(CASE WHEN occ AND NOT pocc THEN 1 END), 0) AS BIGINT)
    AS became_occupied,
  CAST(COALESCE(SUM(CASE WHEN NOT occ AND pocc THEN 1 END), 0) AS BIGINT)
    AS became_free,
  CAST(0 AS BIGINT) AS late_rows
FROM stepped GROUP BY slot_id
"""


def q75_image_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image-decode driver check (`dbs.datapipe.multimodal`):
    every document becomes a genuine binary image — id mod 3 picks
    P6 PPM / 24-bit BMP / PNG (real zlib deflate), Arrow-batched
    encode — then `image_stats` byte-parses header and raster with the
    dependency-free decoders and emits dims + exact per-channel
    sums/means. The fixture's pixels are a closed-form function of the
    id, so the DuckDB twin recomputes the same sums with
    generate_series — a decoder that misparses a header, drops a
    raster row, mishandles BMP's bottom-up BGR padded rows, botches
    PNG scanline unfiltering, or reorders channels breaks the hash."""
    from datalake_backend_spark.datapipe.multimodal import (
        image_stats,
        synthetic_image_table,
    )

    docs = table(spark, sf_dir, "documents")
    return image_stats(synthetic_image_table(docs))


Q75_SQL = """
WITH dims AS (
  SELECT doc_id AS media_id,
         CAST(4 + doc_id % 5 AS INT) AS width,
         CAST(3 + doc_id % 4 AS INT) AS height
  FROM documents
),
rws AS (SELECT media_id, width, height, unnest(range(0, height)) AS r FROM dims),
cls AS (SELECT media_id, width, height, r, unnest(range(0, width)) AS c FROM rws),
px AS (
  SELECT media_id, width, height,
         (media_id * 31 + r * 7 + c * 3) % 256 AS v_r,
         (media_id * 31 + r * 7 + c * 3 + 11) % 256 AS v_g,
         (media_id * 31 + r * 7 + c * 3 + 22) % 256 AS v_b
  FROM cls
)
SELECT media_id, width, height, CAST(3 AS INT) AS channels,
  CAST(width * height AS BIGINT) AS n_pixels,
  CAST(SUM(v_r) AS BIGINT) AS sum_r,
  CAST(SUM(v_g) AS BIGINT) AS sum_g,
  CAST(SUM(v_b) AS BIGINT) AS sum_b,
  CAST(SUM(v_r) AS BIGINT) / CAST(width * height AS DOUBLE) AS mean_r,
  CAST(SUM(v_g) AS BIGINT) / CAST(width * height AS DOUBLE) AS mean_g,
  CAST(SUM(v_b) AS BIGINT) / CAST(width * height AS DOUBLE) AS mean_b
FROM px GROUP BY media_id, width, height
"""


def q76_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTER formation driver check
    (`dbs.datapipe.dedup.cluster_near_dups`): MinHash pair detection
    (q26's exact-verified pairs) feeds iterative min-label propagation;
    a~b and b~c must land in one cluster even though (a,c) was never a
    pair. The DuckDB twin computes components with a recursive CTE over
    the same pair set, so a propagation that stops early or loses
    transitivity breaks the hash."""
    from datalake_backend_spark.datapipe.dedup import (
        cluster_near_dups,
        near_dup_minhash,
    )

    docs = table(spark, sf_dir, "documents").where(F.col("doc_id") < 400)
    pairs = near_dup_minhash(docs, n=1, threshold=0.95, k=64, bands=16)
    return cluster_near_dups(pairs)


Q76_SQL = r"""
WITH RECURSIVE t AS (
  SELECT doc_id, list_distinct(regexp_split_to_array(trim(text), '\s+')) AS toks
  FROM documents WHERE doc_id < 400
),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM t a JOIN t b ON a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
        / len(list_distinct(list_concat(a.toks, b.toks))) >= 0.95
),
und AS (SELECT id_a AS src, id_b AS dst FROM pairs
        UNION ALL SELECT id_b, id_a FROM pairs),
reach(node, r) AS (
  SELECT src, src FROM und
  UNION
  SELECT u.src, reach.r FROM und u JOIN reach ON u.dst = reach.node
)
SELECT node, MIN(r) AS cluster_id FROM reach GROUP BY node
"""


def r126_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split driver check: split by
    NEAR-DUP CLUSTER, not by document — a doc and its near-duplicates
    always land in the same split, so test can never contain a
    near-copy of a training document (the contamination failure mode
    of per-doc splits). Composition: q76's cluster labels (singletons
    keep their own id) → `deterministic_split` on the cluster id. The
    oracle rebuilds clusters with the recursive CTE and applies the
    identical md5 split arithmetic; summary = per-split doc count, id
    checksum, and distinct-cluster count."""
    from datalake_backend_spark.datapipe.dedup import (
        cluster_near_dups,
        near_dup_minhash,
    )
    from datalake_backend_spark.datapipe.sampling import deterministic_split

    docs = table(spark, sf_dir, "documents").where(F.col("doc_id") < 400)
    pairs = near_dup_minhash(docs, n=1, threshold=0.95, k=64, bands=16)
    labels = cluster_near_dups(pairs)
    grouped = (
        docs.select("doc_id")
        .join(labels, docs.doc_id == labels.node, "left")
        .select(
            "doc_id",
            F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("g"),
        )
    )
    split = deterministic_split(
        grouped, "g", {"train": 0.8, "val": 0.1, "test": 0.1}, salt="r126"
    )
    return split.groupBy("split").agg(
        F.count("*").alias("n_docs"),
        F.sum("doc_id").alias("id_checksum"),
        F.countDistinct("g").alias("n_clusters"),
    )


R126_SQL = r"""
WITH RECURSIVE t AS (
  SELECT doc_id, list_distinct(regexp_split_to_array(trim(text), '\s+')) AS toks
  FROM documents WHERE doc_id < 400
),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM t a JOIN t b ON a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
        / len(list_distinct(list_concat(a.toks, b.toks))) >= 0.95
),
und AS (SELECT id_a AS src, id_b AS dst FROM pairs
        UNION ALL SELECT id_b, id_a FROM pairs),
reach(node, r) AS (
  SELECT src, src FROM und
  UNION
  SELECT u.src, reach.r FROM und u JOIN reach ON u.dst = reach.node
),
comp AS (SELECT node, MIN(r) AS cluster_id FROM reach GROUP BY node),
grouped AS (
  SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS g
  FROM (SELECT doc_id FROM documents WHERE doc_id < 400) d
  LEFT JOIN comp c ON d.doc_id = c.node
),
assigned AS (
  SELECT doc_id, g,
         CASE WHEN CAST(('0x' || substr(md5(g || 'r126'), 1, 15)) AS BIGINT)
                   / 1152921504606846976.0 < {train_bound} THEN 'train'
              WHEN CAST(('0x' || substr(md5(g || 'r126'), 1, 15)) AS BIGINT)
                   / 1152921504606846976.0 < {val_bound} THEN 'val'
              ELSE 'test' END AS split
  FROM grouped
)
SELECT split, COUNT(*) AS n_docs,
       CAST(SUM(doc_id) AS BIGINT) AS id_checksum,
       COUNT(DISTINCT g) AS n_clusters
FROM assigned GROUP BY split
"""


def _r126_sql() -> str:
    """Inline the EXACT cumulative split bounds Python accumulates
    (`split_bounds`), never fresh literals — 0.8 + 0.1 need not be the
    double written as 0.9, and the repo's split twins are bit-exact by
    convention."""
    from datalake_backend_spark.datapipe.sampling import split_bounds

    bounds = dict(split_bounds({"train": 0.8, "val": 0.1, "test": 0.1}))
    return R126_SQL.format(
        train_bound=repr(bounds["train"]), val_bound=repr(bounds["val"])
    )


def r128_bloom_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-pre-filtered decontamination driver check
    (`dbs.datapipe.dedup.contamination_bloom`): q71's scan, but the
    eval fingerprint set folds into a 2^20-bit Bloom filter first and
    the 100 TB train side drops definitely-clean fingerprints MAP-SIDE
    before any join — the shape for benchmark suites too large to
    broadcast exactly. Bloom filters have no false negatives and the
    survivor set is verified with the exact fingerprint join, so the
    output is IDENTICAL to the exact operator — the oracle is q71's
    own SQL twin, which a dropped true hit (false-negative bug) or a
    surviving false positive would both break."""
    from datalake_backend_spark.datapipe.dedup import contamination_bloom

    docs = table(spark, sf_dir, "documents")
    ev = docs.where(F.col("doc_id") % 11 == 0)
    tr = docs.where(F.col("doc_id") % 11 != 0)
    # m sized ~8.7 bits/key for this eval set (~30k fps at sf0.1 ->
    # ~1% fpp); the row is deliberately a THREE-job pipeline (eval
    # checkpoint, distributed filter build, pruned scan+verify), so its
    # wall time is dominated by fixed job/codegen overhead at these SFs
    # — the payoff shape is a 100 TB train side that never shuffles
    return contamination_bloom(tr, ev, window=4, m_bits=1 << 18)


def r129_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTORE TO VERSION driver check (`dbs.sources.versioned
    .VersionedTable.restore`): commit a base snapshot (v1), DELETE a
    third of it (v2), then RESTORE to v1 (v3) — an O(1)-metadata
    commit that re-points at v1's immutable data dirs without copying
    a byte. Reading the head must see EXACTLY the pre-delete state;
    the oracle recomputes v1 directly from orders, so a restore that
    leaks the delete, publishes a torn snapshot, or rewinds history
    instead of committing breaks the value hash. Deterministic
    derived fixture, like r91's."""
    from datalake_backend_spark.sources.versioned import VersionedTable

    def build(base: str) -> None:
        tbl = VersionedTable(base)
        orders = table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderpriority", "o_totalprice"
        )
        tbl.commit(orders.where(F.pmod("o_orderkey", F.lit(7)) == 0))
        tbl.delete_where(spark, F.pmod("o_orderkey", F.lit(3)) == 0)
        v = tbl.restore(1)
        assert v == 3

    tbl = VersionedTable(derive_once(sf_dir, "r129_vt", build))
    return (
        tbl.read(spark, 3)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            dec_sum("o_totalprice").alias("sum_price"),
        )
    )


R129_SQL = """
SELECT o_orderpriority, COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
FROM orders WHERE o_orderkey % 7 = 0
GROUP BY o_orderpriority
"""


def r135_dv_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deletion-vector DELETE driver check (`dbs.sources.versioned
    .VersionedTable.delete_where(mode='dv')`): commit orders as v1,
    then DELETE every 13th key as a MANIFEST-ONLY commit — row
    positions range-compressed into inline deletion vectors, zero data
    bytes rewritten (the Delta DV / merge-on-read shape: a selective
    delete on a 100 TB table must not rewrite terabytes). The head
    read anti-joins the broadcast vectors, so the oracle's complement
    aggregate breaks if a vector covers the wrong rows, a range is
    mis-compressed, or the anti join drops/keeps the wrong file. The
    `metadata_only_delete` column pins that the commit reused v1's
    data dirs and file list unchanged (op == delete-dv) — a rewrite
    masquerading as a DV delete fails the hash. Concurrency, appends
    over vectors, compaction materialization, fragmentation fallback,
    and fsck validation are pinned by tests/test_versioned.py.
    Deterministic derived fixture, like r91's.

    SF bound (round-12 sf1.0 sweep): at sf1.0 the every-13th delete
    lands ~115k SINGLETON ranges (hash-shuffled file positions) —
    past the 100k ``max_range_entries`` cap, so the documented loud
    copy-on-write fallback fires, `metadata_only_delete` honestly
    reads False, and the twin's hardcoded True diverges while every
    aggregate stays exact. Expected behavior, not a bug: the cap IS
    the contract (an unbounded inline manifest is the real hazard)."""
    from datalake_backend_spark.sources.versioned import VersionedTable

    def build(base: str) -> None:
        tbl = VersionedTable(base)
        orders = table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderpriority", "o_totalprice"
        )
        tbl.commit(orders.repartition(4))
        v = tbl.delete_where(
            spark, F.pmod("o_orderkey", F.lit(13)) == 0, mode="dv"
        )
        assert v == 2

    tbl = VersionedTable(derive_once(sf_dir, "r135_vt", build))
    m1, m2 = tbl.manifest(1), tbl.manifest(2)
    metadata_only = (
        m2["op"] == "delete-dv"
        and m2["dirs"] == m1["dirs"]
        and m2["files"] == m1["files"]
        and sum(e["rows"] for e in m2["dvs"]) == m1["num_rows"] - m2["num_rows"]
    )
    return (
        tbl.read(spark)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            dec_sum("o_totalprice").alias("sum_price"),
        )
        .withColumn("metadata_only_delete", F.lit(bool(metadata_only)))
    )


R135_SQL = """
SELECT o_orderpriority, COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price,
       TRUE AS metadata_only_delete
FROM orders WHERE o_orderkey % 13 <> 0
GROUP BY o_orderpriority
"""


def r130_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-trainer statistics driver check (`dbs.datapipe.bpe
    .bpe_pair_counts`): the initial adjacent-symbol pair counts
    (characters + the </w> end-of-word marker) weighted by corpus word
    frequency — iteration 0 of byte-pair-encoding training. The DuckDB
    twin recomputes the identical pair table relationally (word counts
    -> per-position substr pairs), so
    a tokenization drift, a lost end-of-word pair, or a miscounted
    weight breaks the value hash."""
    from datalake_backend_spark.datapipe.bpe import bpe_pair_counts

    docs = table(spark, sf_dir, "documents")
    return bpe_pair_counts(docs)


R130_SQL = r"""
WITH words AS (
  SELECT word, COUNT(*) AS cnt FROM (
    SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS word
    FROM documents
  ) WHERE word <> '' GROUP BY word
),
pos AS (
  SELECT word, cnt, unnest(range(1, length(word) + 1)) AS i FROM words
),
pairs AS (
  SELECT substr(word, i, 1) AS a,
         CASE WHEN i = length(word) THEN '</w>'
              ELSE substr(word, i + 1, 1) END AS b,
         cnt
  FROM pos
)
SELECT a, b, CAST(SUM(cnt) AS BIGINT) AS pair_count FROM pairs GROUP BY a, b
"""


def r127_jpeg_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline-JPEG decode driver check (`dbs.datapipe.jpeg` +
    `dbs.datapipe.multimodal.image_stats`): every document becomes a
    genuine JFIF bitstream — standard Annex K Huffman tables, DC DPCM,
    zigzag, byte stuffing, real markers — then image_stats decodes it
    with the dependency-free baseline decoder (huffman + dequant +
    IDCT + YCbCr→RGB). The fixture is block-constant grayscale at
    quality 75, where the round-trip is mathematically EXACT (pure-DC
    blocks; luma DC quant step 8; chroma identically 128 — see
    `synthetic_jpeg_table`), so the DuckDB twin recomputes the decoded
    sums in closed form per 8x8 block. A decoder that misparses a
    marker, miscodes a Huffman table, breaks DPCM across blocks,
    mishandles stuffed 0xFF bytes, or botches the IDCT/color path
    breaks the hash. Lossy-content fidelity is pinned by
    tests/test_jpeg.py tolerances (not SQL-expressible by nature)."""
    from datalake_backend_spark.datapipe.multimodal import (
        image_stats,
        synthetic_jpeg_table,
    )

    docs = table(spark, sf_dir, "documents")
    return image_stats(synthetic_jpeg_table(docs))


R127_SQL = """
WITH dims AS (
  SELECT doc_id AS media_id,
         CAST(8 * (1 + doc_id % 3) AS INT) AS width,
         CAST(8 * (1 + doc_id % 2) AS INT) AS height
  FROM documents
),
brs AS (SELECT media_id, width, height, unnest(range(0, height // 8)) AS br FROM dims),
bcs AS (SELECT media_id, width, height, br, unnest(range(0, width // 8)) AS bc FROM brs),
blocks AS (
  SELECT media_id, width, height,
         (media_id * 37 + br * 17 + bc * 29) % 256 AS v
  FROM bcs
)
SELECT media_id, width, height, CAST(3 AS INT) AS channels,
  CAST(width * height AS BIGINT) AS n_pixels,
  CAST(SUM(64 * v) AS BIGINT) AS sum_r,
  CAST(SUM(64 * v) AS BIGINT) AS sum_g,
  CAST(SUM(64 * v) AS BIGINT) AS sum_b,
  CAST(SUM(64 * v) AS BIGINT) / CAST(width * height AS DOUBLE) AS mean_r,
  CAST(SUM(64 * v) AS BIGINT) / CAST(width * height AS DOUBLE) AS mean_g,
  CAST(SUM(64 * v) AS BIGINT) / CAST(width * height AS DOUBLE) AS mean_b
FROM blocks GROUP BY media_id, width, height
"""


def r131_gif_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL GIF decode driver check (`dbs.datapipe.multimodal`:
    encode_gif / _decode_gif): every document becomes a genuine GIF89a
    bitstream — logical screen descriptor, deterministic sorted
    palette, LZW-compressed indices in length-prefixed sub-blocks —
    then `image_stats` decodes it back through the real LZW
    decompressor (variable-width codes, Clear/EOI, KwKwK). The pixel
    formula is the q75 one, so the same closed-form DuckDB twin
    (Q75_SQL) applies: a decoder that misparses the screen descriptor,
    drops a palette entry, grows the code width one emission early or
    late, or splices sub-blocks wrong breaks the hash. LZW edge
    mechanics (4096-entry reset, interlace refusal, malformed input)
    are pinned by tests/test_gif.py."""
    from datalake_backend_spark.datapipe.multimodal import (
        image_stats,
        synthetic_gif_table,
    )

    docs = table(spark, sf_dir, "documents")
    return image_stats(synthetic_gif_table(docs))


def r132_image_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image near-dup driver check (`dbs.datapipe.phash`):
    consecutive ids carry the SAME pixels in DIFFERENT containers (PPM
    vs real-deflate PNG), so sha256 media dedup (r49) misses every
    pair while the integer-exact dHash — 8×9 luma grid, cross-
    multiplied darker-than-right bits — pairs them. The DuckDB twin
    recomputes every hash bit from the closed-form pixel formula and
    self-joins on the 64-bit key, so a decoder drift, a block-boundary
    off-by-one, a bit-index transposition, or a join that loses the
    id_a < id_b dedup all break the hash. Hamming-banded (k ≤ 3)
    candidate generation is pinned by tests/test_phash.py."""
    from datalake_backend_spark.datapipe.phash import (
        image_near_dups,
        synthetic_variant_image_table,
    )

    docs = table(spark, sf_dir, "documents")
    return image_near_dups(synthetic_variant_image_table(docs), max_hamming=0)


R132_SQL = """
WITH ids AS (SELECT doc_id AS media_id, doc_id // 2 AS base FROM documents),
dims AS (
  SELECT media_id, base,
         9 * (1 + base % 4) AS w, 8 * (1 + base % 3) AS h
  FROM ids
),
rws AS (SELECT media_id, base, w, h, unnest(range(0, h)) AS r FROM dims),
px AS (SELECT media_id, base, w, h, r, unnest(range(0, w)) AS c FROM rws),
luma AS (
  SELECT media_id,
         CAST(r // (h // 8) AS INT) AS br,
         CAST(c // (w // 9) AS INT) AS bc,
           (base*31 + r*7 + c*(3 + base % 11)*5 + r*c) % 256
         + (base*31 + r*7 + c*(3 + base % 11)*5 + r*c + 11) % 256
         + (base*31 + r*7 + c*(3 + base % 11)*5 + r*c + 22) % 256 AS v
  FROM px
),
blocks AS (
  SELECT media_id, br, bc, SUM(v) AS s FROM luma GROUP BY media_id, br, bc
),
bits AS (
  SELECT media_id, br, bc,
         CASE WHEN s < LEAD(s) OVER (PARTITION BY media_id, br ORDER BY bc)
              THEN 1 ELSE 0 END AS bit
  FROM blocks
),
hashes AS (
  SELECT media_id,
    CAST(SUM(CASE WHEN br*8 + bc < 32
                  THEN bit * (CAST(1 AS BIGINT) << (br*8 + bc))
                  ELSE 0 END) AS BIGINT) AS dhash_lo,
    CAST(SUM(CASE WHEN br*8 + bc >= 32
                  THEN bit * (CAST(1 AS BIGINT) << (br*8 + bc - 32))
                  ELSE 0 END) AS BIGINT) AS dhash_hi
  FROM bits WHERE bc < 8 GROUP BY media_id
)
SELECT a.media_id AS id_a, b.media_id AS id_b,
       a.dhash_hi AS dhash_hi, a.dhash_lo AS dhash_lo,
       CAST(0 AS INT) AS hamming
FROM hashes a
JOIN hashes b
  ON a.dhash_hi = b.dhash_hi AND a.dhash_lo = b.dhash_lo
 AND a.media_id < b.media_id
"""


def r133_table_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-checksum driver check (`dbs.operators.fingerprint`):
    per-status fingerprint of orders — row count, DECIMAL(38,0) sum of
    portable 60-bit row hashes, min/max hash. The DuckDB twin rebuilds
    the exact canonical row string (chr(1) separators, chr(0) NULL
    sentinel) and md5 arithmetic, so a drifting cast-to-string, a
    column-order swap, a separator change, or a lost row all break the
    hash. This is the operational check behind every 'bit-identical'
    lakehouse claim (clone == source, CDC apply == target, restore ==
    old version); order/partition independence is pinned by
    tests/test_fingerprint.py."""
    from datalake_backend_spark.operators.fingerprint import table_fingerprint

    orders = table(spark, sf_dir, "orders")
    fp = table_fingerprint(
        orders,
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"],
        group_by=["o_orderstatus"],
    )
    # Declared output ships content_sum as VARCHAR, not DECIMAL(38,0):
    # wide decimals are exact in both engines but NOT in every typed
    # fetch path (DuckDB's pandas fetch degrades DECIMAL(38,0) to a
    # lossy float64), so the canonical digit string is the only
    # representation that hashes identically everywhere. The operator
    # keeps the mergeable DECIMAL internally (shard sums still fold).
    return fp.withColumn("content_sum", F.col("content_sum").cast("string"))


R133_SQL = """
WITH hashed AS (
  SELECT o_orderstatus,
    ('0x' || substr(md5(
        COALESCE(CAST(o_orderkey AS VARCHAR), chr(0)||'NULL'||chr(0)) || chr(1) ||
        COALESCE(CAST(o_custkey AS VARCHAR), chr(0)||'NULL'||chr(0)) || chr(1) ||
        COALESCE(o_orderstatus, chr(0)||'NULL'||chr(0)) || chr(1) ||
        COALESCE(o_orderpriority, chr(0)||'NULL'||chr(0))
    ), 1, 15))::BIGINT AS h
  FROM orders
)
SELECT o_orderstatus,
  CAST(COUNT(*) AS BIGINT) AS row_count,
  CAST(CAST(SUM(h) AS DECIMAL(38,0)) AS VARCHAR) AS content_sum,
  MIN(h) AS hash_min,
  MAX(h) AS hash_max
FROM hashed GROUP BY o_orderstatus
"""


def r134_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index driver check (`dbs.datapipe.text.inverted_index`):
    term → (df, tf_total, serialized posting list in doc order) over
    the documents corpus — the structure the search-index sink ships.
    The DuckDB twin rebuilds the identical ``doc:tf,...`` string with
    ``string_agg ... ORDER BY doc_id``, so a lost posting, an unstable
    sort, a tf off-by-one, or tokenizer drift all break the hash."""
    from datalake_backend_spark.datapipe.text import inverted_index

    docs = table(spark, sf_dir, "documents")
    return inverted_index(docs)


R134_SQL = r"""
WITH tok AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(trim(text), '\s+')) AS term
  FROM documents
),
tf AS (
  SELECT term, doc_id, COUNT(*) AS tf
  FROM tok WHERE term <> '' GROUP BY term, doc_id
)
SELECT term,
  CAST(COUNT(*) AS BIGINT) AS df,
  CAST(SUM(tf) AS BIGINT) AS tf_total,
  string_agg(doc_id || ':' || tf, ',' ORDER BY doc_id) AS postings
FROM tf GROUP BY term
"""


def r136_audio_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual audio near-dup driver check (`dbs.datapipe.phash`:
    audio_fingerprint64 / audio_near_dups): consecutive ids carry the
    SAME waveform encoded MONO vs duplicated STEREO through the real
    WAV codec, so payload bytes and sha256 differ while the
    channel-invariant energy-gradient fingerprint (65 windows, 64
    comparison bits, exact integers) agrees. The DuckDB twin
    recomputes every fingerprint bit from the closed-form sample
    formula over the MONO rendition — the stereo path must land on
    identical bits (energies scale uniformly, comparisons cancel the
    factor), so a channel-mixing bug, a window-boundary off-by-one, or
    a bit-index drift breaks the pair set. Hamming-banded matching
    and the too-short guard are pinned by tests/test_phash.py."""
    from datalake_backend_spark.datapipe.phash import (
        audio_near_dups,
        synthetic_variant_audio_table,
    )

    docs = table(spark, sf_dir, "documents")
    return audio_near_dups(synthetic_variant_audio_table(docs), max_hamming=0)


R136_SQL = """
WITH ids AS (SELECT doc_id AS media_id, doc_id // 2 AS base FROM documents),
dims AS (
  SELECT media_id, base, 65 * (2 + base % 3) AS frames FROM ids
),
ts AS (SELECT media_id, base, frames, unnest(range(0, frames)) AS t FROM dims),
sams AS (
  SELECT media_id,
         CAST(t // (frames // 65) AS INT) AS w,
         ABS(((base*37 + t*(13 + base % 29) + (t*t*(1 + base % 11)) % 997)
              % 4096) - 2048) AS a
  FROM ts
),
wins AS (SELECT media_id, w, SUM(a) AS e FROM sams GROUP BY media_id, w),
bits AS (
  SELECT media_id, w,
         CASE WHEN e < LEAD(e) OVER (PARTITION BY media_id ORDER BY w)
              THEN 1 ELSE 0 END AS bit
  FROM wins
),
hashes AS (
  SELECT media_id,
    CAST(SUM(CASE WHEN w < 32
                  THEN bit * (CAST(1 AS BIGINT) << w) ELSE 0 END) AS BIGINT)
      AS dhash_lo,
    CAST(SUM(CASE WHEN w >= 32
                  THEN bit * (CAST(1 AS BIGINT) << (w - 32)) ELSE 0 END)
      AS BIGINT) AS dhash_hi
  FROM bits WHERE w < 64 GROUP BY media_id
)
SELECT a.media_id AS id_a, b.media_id AS id_b,
       a.dhash_hi AS dhash_hi, a.dhash_lo AS dhash_lo,
       CAST(0 AS INT) AS hamming
FROM hashes a
JOIN hashes b
  ON a.dhash_hi = b.dhash_hi AND a.dhash_lo = b.dhash_lo
 AND a.media_id < b.media_id
"""


def r137_media_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python DataSource driver check (`dbs.sources.media_source`
    — Spark 4 DataSource API): a pid-scoped directory of REAL .gif
    files (every 50th doc id, q75 pixel formula) is read back through
    ``spark.read.format("mediafile")`` — driver-side listing,
    size-balanced partition planning, header probing — and the decoded
    statistics must equal the closed-form oracle. A source that loses
    a file, truncates a payload, mis-derives the id from the stem, or
    breaks the binary column's bytes fails the hash; filter pushdown
    (media_id/codec equality pruned at planning time) and bin-packing
    are pinned by tests/test_media_source.py."""
    from datalake_backend_spark.datapipe.multimodal import (
        image_stats,
        synthetic_image,
    )
    from datalake_backend_spark.sources.media_source import (
        register_media_source,
    )

    register_media_source(spark)
    ids = [
        r[0]
        for r in table(spark, sf_dir, "documents")
        .where(F.pmod("doc_id", F.lit(50)) == 0)
        .select("doc_id")
        .collect()
    ]
    def build(base: str) -> None:
        for i in ids:
            with open(os.path.join(base, f"{i}.gif"), "wb") as fh:
                fh.write(synthetic_image(i, "gif")[0])

    base = derive_once(sf_dir, "r137_media", build)
    media = (
        spark.read.format("mediafile")
        .option("path", base)
        .option("numPartitions", "4")
        .load()
    )
    return image_stats(media)


def _r137_sql() -> str:
    return Q75_SQL.replace(
        "FROM documents", "FROM documents WHERE doc_id % 50 = 0"
    )


def r138_video_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual video near-dup driver check (`dbs.datapipe.phash`:
    video_phash_signature / video_near_dups): consecutive ids carry
    the SAME frames in RAWV containers whose headers declare different
    fps, so payload bytes and sha256 differ while the per-frame dHash
    signature ("hi:lo,..." in frame order, decoded through the real
    seeking codec) agrees. The DuckDB twin rebuilds every frame hash
    bit from the closed-form pixel formula and string_aggs the same
    signature, so a frame-seek off-by-one, a dropped frame, a hash
    drift, or an unstable frame order breaks the pair set."""
    from datalake_backend_spark.datapipe.phash import (
        synthetic_variant_video_table,
        video_near_dups,
    )

    docs = table(spark, sf_dir, "documents")
    return video_near_dups(synthetic_variant_video_table(docs))


R138_SQL = """
WITH ids AS (SELECT doc_id AS media_id, doc_id // 2 AS base FROM documents),
dims AS (
  SELECT media_id, base, 2 + base % 3 AS n,
         9 * (1 + base % 2) AS w, 8 * (1 + base % 2) AS h
  FROM ids
),
fs AS (SELECT media_id, base, w, h, unnest(range(0, n)) AS f FROM dims),
rws AS (SELECT media_id, base, w, h, f, unnest(range(0, h)) AS r FROM fs),
px AS (SELECT media_id, base, w, h, f, r, unnest(range(0, w)) AS c FROM rws),
luma AS (
  SELECT media_id, f,
         CAST(r // (h // 8) AS INT) AS br,
         CAST(c // (w // 9) AS INT) AS bc,
           (base*31 + f*53 + r*7 + c*(3 + base % 11)*5 + r*c) % 256
         + (base*31 + f*53 + r*7 + c*(3 + base % 11)*5 + r*c + 11) % 256
         + (base*31 + f*53 + r*7 + c*(3 + base % 11)*5 + r*c + 22) % 256 AS v
  FROM px
),
blocks AS (
  SELECT media_id, f, br, bc, SUM(v) AS s
  FROM luma GROUP BY media_id, f, br, bc
),
bits AS (
  SELECT media_id, f, br, bc,
         CASE WHEN s < LEAD(s) OVER (PARTITION BY media_id, f, br ORDER BY bc)
              THEN 1 ELSE 0 END AS bit
  FROM blocks
),
fhashes AS (
  SELECT media_id, f,
    CAST(SUM(CASE WHEN br*8 + bc < 32
                  THEN bit * (CAST(1 AS BIGINT) << (br*8 + bc))
                  ELSE 0 END) AS BIGINT) AS lo,
    CAST(SUM(CASE WHEN br*8 + bc >= 32
                  THEN bit * (CAST(1 AS BIGINT) << (br*8 + bc - 32))
                  ELSE 0 END) AS BIGINT) AS hi
  FROM bits WHERE bc < 8 GROUP BY media_id, f
),
sigs AS (
  SELECT media_id, string_agg(hi || ':' || lo, ',' ORDER BY f) AS signature
  FROM fhashes GROUP BY media_id
)
SELECT a.media_id AS id_a, b.media_id AS id_b, a.signature AS signature
FROM sigs a
JOIN sigs b ON a.signature = b.signature AND a.media_id < b.media_id
"""


def r139_variant_shred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VARIANT ingestion driver check (`dbs.sources.variantjson` —
    Spark 4 semi-structured type): every event is serialized to a raw
    JSON document (to_json over the typed row), parsed ONCE into a
    VARIANT, and typed fields are shredded back out with variant_get —
    including the open-ended ``props`` JSON bag the reference would
    have had to freeze into a guessed schema. The oracle aggregates
    the ORIGINAL typed columns, so any fidelity loss across
    serialize → parse_json → variant_get (a double rounded through
    the JSON text, a lost nested key, a mis-typed cast) breaks the
    value hash. Missing-path NULLs and lenient mode are pinned by
    tests/test_fingerprint.py."""
    from datalake_backend_spark.sources.variantjson import (
        parse_variant,
        shred_variant,
    )

    ev = table(spark, sf_dir, "events")
    raw = ev.select(
        F.to_json(
            F.struct("event_id", "user_id", "event_type", "value")
        ).alias("doc"),
        F.col("props").alias("props_json"),
    )
    v = parse_variant(parse_variant(raw, "doc", "v"), "props_json", "pv")
    shredded = shred_variant(
        v,
        "v",
        {
            "event_type": ("$.event_type", "string"),
            "user_id": ("$.user_id", "bigint"),
            "value": ("$.value", "double"),
        },
    )
    shredded = shred_variant(shredded, "pv", {"k": ("$.k", "bigint")})
    return shredded.groupBy("event_type").agg(
        F.count("*").alias("n"),
        dec_sum("value").alias("sum_value"),
        F.sum("user_id").alias("sum_users"),
        F.sum("k").alias("sum_k"),
    )


R139_SQL = """
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
       CAST(SUM(user_id) AS BIGINT) AS sum_users,
       CAST(SUM(CAST(props::JSON->>'k' AS BIGINT)) AS BIGINT) AS sum_k
FROM events GROUP BY event_type
"""


def r141_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-SPAN removal driver check (`dbs.datapipe.dedup
    .remove_duplicate_spans` — the Lee et al. substring-dedup
    semantics): every 8-token window repeated anywhere in the corpus
    is cut from all but its first (doc_id, pos) occurrence, and each
    document is reassembled from the survivors. The DuckDB twin
    replays the whole pipeline — positional k-gram md5 fingerprints,
    global first-occurrence rank, gaps-and-islands interval merge,
    anti-join cut, ordered reassembly — and compares the REWRITTEN
    TEXT of every document, so an off-by-one span bound, an unstable
    first-occurrence order, a broken interval merge, or a reassembly
    reorder all break the hash. Exact-duplicate docs come back empty
    for the later copy; sub-k docs pass through normalized."""
    from datalake_backend_spark.datapipe.dedup import remove_duplicate_spans

    docs = table(spark, sf_dir, "documents")
    return remove_duplicate_spans(docs, k=8)


R141_SQL = r"""
WITH tl AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '\s+'),
                     x -> x <> '') AS l
  FROM documents
),
toks AS (
  SELECT doc_id, CAST(p AS BIGINT) AS pos, l[p + 1] AS tok
  FROM tl, unnest(range(0, len(l))) AS t(p)
),
grams AS (
  SELECT doc_id, CAST(p AS BIGINT) AS pos,
         ('0x' || substr(md5(array_to_string(l[p + 1 : p + 8], ' ')),
                         1, 15))::BIGINT AS gh
  FROM tl, unnest(range(0, len(l) - 8 + 1)) AS t(p)
  WHERE len(l) >= 8
),
ranked AS (
  SELECT doc_id, pos,
         ROW_NUMBER() OVER (PARTITION BY gh ORDER BY doc_id, pos) AS rk
  FROM grams
),
spans AS (SELECT doc_id, pos AS lo, pos + 7 AS hi FROM ranked WHERE rk > 1),
islands AS (
  SELECT doc_id, lo, hi,
         CASE WHEN lo > COALESCE(MAX(hi) OVER (
                  PARTITION BY doc_id ORDER BY lo, hi
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
              THEN 1 ELSE 0 END AS new_grp
  FROM spans
),
grp AS (
  SELECT doc_id, lo, hi,
         SUM(new_grp) OVER (PARTITION BY doc_id ORDER BY lo, hi) AS g
  FROM islands
),
merged AS (SELECT doc_id, MIN(lo) AS lo, MAX(hi) AS hi FROM grp GROUP BY doc_id, g),
cut AS (SELECT doc_id, CAST(unnest(range(lo, hi + 1)) AS BIGINT) AS pos FROM merged),
kept AS (
  SELECT t.doc_id, t.pos, t.tok
  FROM toks t ANTI JOIN cut c ON t.doc_id = c.doc_id AND t.pos = c.pos
),
reassembled AS (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
         COUNT(*) AS kept_n
  FROM kept GROUP BY doc_id
)
SELECT d.doc_id,
  COALESCE(r.clean_text, '') AS clean_text,
  CAST(len(regexp_split_to_array(trim(d.text), '\s+')) AS INT) AS n_tokens,
  CAST(COALESCE(r.kept_n, 0) AS BIGINT) AS n_tokens_kept,
  CAST(len(regexp_split_to_array(trim(d.text), '\s+'))
       - COALESCE(r.kept_n, 0) AS BIGINT) AS n_tokens_removed
FROM documents d LEFT JOIN reassembled r ON d.doc_id = r.doc_id
"""


def r142_ngram_lm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kneser-Ney count-statistics driver check (`dbs.datapipe.text
    .ngram_lm_stats`): per word — unigram count, continuation count
    (distinct left neighbors incl. the ``<s>`` boundary), distinct
    right contexts. These are the exact integer ingredients of KN
    smoothing / a KenLM build; the DuckDB twin recomputes them from a
    lag window over positional tokens, so a boundary-sentinel slip, an
    off-by-one lag, or a distinct-vs-total mixup breaks the hash."""
    from datalake_backend_spark.datapipe.text import ngram_lm_stats

    docs = table(spark, sf_dir, "documents")
    return ngram_lm_stats(docs)


R142_SQL = r"""
WITH tl AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '\s+'),
                     x -> x <> '') AS l
  FROM documents
),
toks AS (
  SELECT doc_id, CAST(p AS BIGINT) AS pos, l[p + 1] AS w
  FROM tl, unnest(range(0, len(l))) AS t(p)
),
ctx AS (
  SELECT w,
         COALESCE(LAG(w) OVER (PARTITION BY doc_id ORDER BY pos), '<s>')
           AS left_w,
         COALESCE(LEAD(w) OVER (PARTITION BY doc_id ORDER BY pos), '</s>')
           AS right_w
  FROM toks
)
SELECT w,
  CAST(COUNT(*) AS BIGINT) AS unigram_cnt,
  CAST(COUNT(DISTINCT left_w) AS BIGINT) AS continuation_cnt,
  CAST(COUNT(DISTINCT right_w) AS BIGINT) AS right_ctx_cnt
FROM ctx GROUP BY w
"""


def r143_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source-mixing driver check
    (`dbs.datapipe.sampling.mix_with_temperature`, α=0.5 — the
    multilingual α-sampling of mBERT/XLM-R/mT5): target shares
    ``p_s ∝ √n_s`` flatten the source skew; the smallest source keeps
    everything, larger ones downsample toward the tempered mix via
    deterministic hash-fraction membership. The DuckDB twin recomputes
    the closed-form fractions from its own counts with the SAME float
    ops in the SAME order (sqrt is correctly rounded in every IEEE
    libm, so the thresholds are bit-identical) and must select the
    identical row set per source."""
    from datalake_backend_spark.datapipe.sampling import mix_with_temperature

    docs = table(spark, sf_dir, "documents")
    kept = mix_with_temperature(docs, "source", "doc_id", alpha=0.5)
    return kept.groupBy("source").agg(
        F.count("*").alias("n_kept"),
        F.sum("doc_id").alias("id_sum"),
    )


R143_SQL = """
WITH counts AS (
  SELECT source, COUNT(*) AS n FROM documents GROUP BY source
),
tmax AS (SELECT MIN(n / SQRT(n)) AS t FROM counts),
fr AS (
  SELECT source, (SQRT(n) * (SELECT t FROM tmax)) / n AS f FROM counts
)
SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_kept,
       CAST(SUM(d.doc_id) AS BIGINT) AS id_sum
FROM documents d JOIN fr ON d.source = fr.source
WHERE (('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || 'mixT'), 1, 15))::BIGINT
       / 1152921504606846976.0) < fr.f
GROUP BY d.source
"""


def r144_lm_doc_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LM-based document scoring driver check (`dbs.datapipe.text
    .lm_score_documents`, the APPLY side of the CCNet/KenLM
    perplexity filter): a Laplace-smoothed bigram model built over
    the corpus scores every document's transition predictability as
    pure-BIGINT scaled probabilities
    (``FLOOR(1e9·(c(w1,w2)+1)/(c(w1·)+V))`` — no libm floats,
    bit-exact in any engine) plus a corpus-hapax transition
    count. The DuckDB twin rebuilds the boundary-extended bigram
    pairs with the same lag window, recomputes the model with `//`
    integer division, and must land on the identical per-doc sums."""
    from datalake_backend_spark.datapipe.text import lm_score_documents

    docs = table(spark, sf_dir, "documents")
    return lm_score_documents(docs)


R144_SQL = r"""
WITH tl AS (
  SELECT doc_id,
         ['<s>'] || list_filter(regexp_split_to_array(trim(text), '\s+'),
                                x -> x <> '') || ['</s>'] AS l
  FROM documents
),
toks AS (
  SELECT doc_id, CAST(p AS BIGINT) AS pos, l[p + 1] AS w
  FROM tl, unnest(range(0, len(l))) AS t(p)
),
pairs AS (
  SELECT doc_id,
         LAG(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w1,
         w AS w2
  FROM toks
  QUALIFY w1 IS NOT NULL
),
c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM pairs GROUP BY w1, w2),
c1 AS (SELECT w1, COUNT(*) AS c1 FROM pairs GROUP BY w1),
model AS (
  SELECT c12.w1, c12.w2, c12.c12,
         (1000000000 * (c12.c12 + 1))
           // (c1.c1 + (SELECT COUNT(DISTINCT w2) FROM pairs))
           AS p_scaled
  FROM c12 JOIN c1 ON c12.w1 = c1.w1
)
SELECT p.doc_id,
  CAST(COUNT(*) AS BIGINT) AS n_bigrams,
  CAST(SUM(CASE WHEN m.c12 = 1 THEN 1 ELSE 0 END) AS BIGINT)
    AS novel_bigrams,
  CAST(SUM(m.p_scaled) AS BIGINT) AS pred_score,
  CAST(SUM(m.p_scaled) AS BIGINT) // COUNT(*) AS mean_p_scaled
FROM pairs p JOIN model m ON p.w1 = m.w1 AND p.w2 = m.w2
GROUP BY p.doc_id
"""


def r145_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration integer PageRank driver check
    (`dbs.operators.graph.pagerank`): the customer↔supplier
    co-purchase graph (distinct (custkey, suppkey) pairs through
    orders⋈lineitem, symmetrized) ranked by 5 synchronous
    integer-scaled updates. Floats can't survive a value-hash oracle
    (contribution sums are partition-order-dependent), so the update
    is pure BIGINT ``div`` arithmetic — the DuckDB twin unrolls the
    same 5 iterations as chained CTEs and must reproduce every node's
    rank bit-for-bit; any drift in degree handling, teleport share, or
    the join direction breaks the hash.

    The edges come from the engine's silver edge table
    (`dbs.engine.copurchase_edges`): derived once per process into a
    `VersionedTable`, then shared by q145/q147/r170 — nobody
    re-derives a graph per query at 100 TB."""
    from datalake_backend_spark.engine import copurchase_edges
    from datalake_backend_spark.operators.graph import pagerank

    edges = copurchase_edges(spark, sf_dir)
    # checkpoint_every=2: bounds the driver-side plan analysis cost of
    # the 5-iteration lazy DAG (scheduling, never arithmetic)
    return pagerank(edges, iterations=5, checkpoint_every=2)


# MATERIALIZED throughout (prefix and each unrolled iteration):
# inlined, DuckDB re-derived the 6M-row orders x lineitem DISTINCT
# once per reference at sf1.0 and spilled past the disk ceiling;
# pinning the shared relations makes the twin finish in ~20 s there
# (round-13 ask #4)
_R145_PREFIX = r"""
WITH e0 AS MATERIALIZED (
  SELECT DISTINCT 'c' || o_custkey AS c, 's' || l_suppkey AS s
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
edges AS MATERIALIZED (
  SELECT c AS src, s AS dst FROM e0
  UNION ALL
  SELECT s AS src, c AS dst FROM e0
),
deg AS MATERIALIZED (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
nodes AS MATERIALIZED (
  SELECT n.node, CAST(COALESCE(deg.deg, 0) AS BIGINT) AS deg
  FROM (SELECT src AS node FROM edges UNION SELECT dst FROM edges) n
  LEFT JOIN deg ON n.node = deg.src
),
ncnt AS MATERIALIZED (SELECT COUNT(*) AS n FROM nodes),
it0 AS MATERIALIZED (
  SELECT node, deg, 1000000000000 // (SELECT n FROM ncnt) AS r FROM nodes
)"""


def _r145_iter(k: int) -> str:
    return f""",
it{k} AS MATERIALIZED (
  SELECT nd.node, nd.deg,
         (15 * 1000000000000) // (100 * (SELECT n FROM ncnt))
         + CAST(COALESCE(SUM((85 * p.r) // (100 * p.deg)), 0) AS BIGINT)
           AS r
  FROM nodes nd
  LEFT JOIN edges e ON e.dst = nd.node
  LEFT JOIN it{k - 1} p ON p.node = e.src
  GROUP BY nd.node, nd.deg
)"""


R145_SQL = (
    _R145_PREFIX
    + "".join(_r145_iter(k) for k in range(1, 6))
    + "\nSELECT node, r AS rank_scaled FROM it5\n"
)


def r146_tf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term-frequency cosine near-dup driver check
    (`dbs.datapipe.dedup.tf_cosine_near_dups`): bag-of-words cosine ≥
    0.8 decided by the cross-multiplied BIGINT predicate
    ``25·dot² ≥ 16·‖a‖²·‖b‖²`` — no floats anywhere. Candidates block
    on shared rolling 8-token chunk fingerprints (single words are
    all hot on this vocabulary at scale — word blocking measured ZERO
    candidates at sf0.1); the DuckDB twin models the same fingerprint
    hash, cap, and full-vector dot, so the pair set and integer
    dot/norm columns reproduce exactly."""
    from datalake_backend_spark.datapipe.dedup import tf_cosine_near_dups

    docs = table(spark, sf_dir, "documents")
    return tf_cosine_near_dups(docs, tau_num=4, tau_den=5, window=8, max_df=50)


R146_SQL = r"""
WITH tl AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '\s+'),
                     x -> x <> '') AS l
  FROM documents
),
toks AS (SELECT doc_id, u.w FROM tl, unnest(l) AS u(w)),
tf AS (SELECT doc_id, w, COUNT(*) AS c FROM toks GROUP BY doc_id, w),
norms AS (
  SELECT doc_id, CAST(SUM(c * c) AS BIGINT) AS n2 FROM tf GROUP BY doc_id
),
tarr AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
         FROM documents),
idx AS (
  SELECT doc_id, t, unnest(generate_series(1, greatest(len(t) - 7, 1))) AS i
  FROM tarr
),
fps AS (
  SELECT DISTINCT doc_id,
    ('0x' || substr(md5(array_to_string(t[i : i + 7], ' ')), 1, 15))::BIGINT
      AS fp
  FROM idx
),
kept AS MATERIALIZED (
  SELECT doc_id, fp FROM fps
  WHERE fp IN (SELECT fp FROM fps GROUP BY fp
               HAVING COUNT(*) BETWEEN 2 AND 50)
),
-- MATERIALIZED: without pinned cardinalities DuckDB's planner joined
-- tf x tf on the 31-word vocabulary BEFORE the candidate filter at
-- sf1.0 (a ~3e11-row intermediate, >80 GB of spill); the 2-row cand
-- table makes the join order unmistakable (round-13 ask #4)
cand AS MATERIALIZED (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
),
dots AS (
  SELECT c.id_a, c.id_b, CAST(SUM(ta.c * tb.c) AS BIGINT) AS dot
  FROM cand c
  JOIN tf ta ON ta.doc_id = c.id_a
  JOIN tf tb ON tb.doc_id = c.id_b AND tb.w = ta.w
  GROUP BY c.id_a, c.id_b
)
SELECT d.id_a, d.id_b, d.dot, na.n2 AS n2_a, nb.n2 AS n2_b
FROM dots d
JOIN norms na ON na.doc_id = d.id_a
JOIN norms nb ON nb.doc_id = d.id_b
WHERE 25 * d.dot * d.dot >= 16 * na.n2 * nb.n2
"""


def r147_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-depth BFS driver check (`dbs.operators.graph.bfs_hops`):
    minimum hop distance (≤4) from the nation-0 suppliers to every
    reachable node of the symmetrized customer↔supplier co-purchase
    graph. All-integer. The Spark side prunes the frontier with a
    visited anti-join (the at-scale shape); the DuckDB twin expands
    plain per-level distinct frontiers and takes MIN(hop) — same
    result by construction, so a hop-off-by-one or a leaky visited set
    breaks the hash. Edges served from the shared silver table
    (`dbs.engine.copurchase_edges`)."""
    from datalake_backend_spark.engine import copurchase_edges
    from datalake_backend_spark.operators.graph import bfs_hops

    supplier = table(spark, sf_dir, "supplier")
    edges = copurchase_edges(spark, sf_dir)
    sources = supplier.where(F.col("s_nationkey") == 0).select(
        F.concat(F.lit("s"), F.col("s_suppkey")).alias("node")
    )
    return bfs_hops(edges, sources, max_hops=4)


R147_SQL = """
WITH e0 AS MATERIALIZED (
  SELECT DISTINCT 'c' || o_custkey AS c, 's' || l_suppkey AS s
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
edges AS MATERIALIZED (
  SELECT c AS src, s AS dst FROM e0
  UNION ALL
  SELECT s AS src, c AS dst FROM e0
),
l0 AS MATERIALIZED (
  SELECT DISTINCT 's' || s_suppkey AS node FROM supplier WHERE s_nationkey = 0
),
l1 AS MATERIALIZED (SELECT DISTINCT e.dst AS node FROM l0 JOIN edges e ON e.src = l0.node),
l2 AS MATERIALIZED (SELECT DISTINCT e.dst AS node FROM l1 JOIN edges e ON e.src = l1.node),
l3 AS MATERIALIZED (SELECT DISTINCT e.dst AS node FROM l2 JOIN edges e ON e.src = l2.node),
l4 AS MATERIALIZED (SELECT DISTINCT e.dst AS node FROM l3 JOIN edges e ON e.src = l3.node),
lvl AS (
  SELECT node, 0 AS hop FROM l0
  UNION ALL SELECT node, 1 FROM l1
  UNION ALL SELECT node, 2 FROM l2
  UNION ALL SELECT node, 3 FROM l3
  UNION ALL SELECT node, 4 FROM l4
)
SELECT node, CAST(MIN(hop) AS BIGINT) AS hop FROM lvl GROUP BY node
"""


def r148_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup driver check (`dbs.datapipe.similarity.semantic_dedup`):
    embedding-space duplicate groups (q62's hyperplane-LSH pairs at
    cosine ≥ 0.35, calibrated to this synthetic corpus) → connected
    components → keep the minimum id per semantic cluster. One row per
    vector with (cluster_id, keep); the DuckDB twin rebuilds the pairs
    from the same inlined LCG planes and resolves components with a
    recursive CTE, so a wrong keep decision anywhere flips a boolean
    and breaks the hash."""
    from datalake_backend_spark.datapipe.similarity import semantic_dedup

    emb = table(spark, sf_dir, "embeddings")
    return semantic_dedup(emb, threshold=0.35, n_planes=8, dim=64)


def _r148_sql(threshold: float = 0.35, n_planes: int = 8, dim: int = 64, seed: int = 42) -> str:
    """DuckDB twin of r148: q62's pair SQL + recursive-CTE components
    (q76's trick) + the keep-minimum rule."""
    from datalake_backend_spark.datapipe.similarity import random_hyperplanes

    planes = random_hyperplanes(n_planes, dim, seed)

    def dot_sql(vec_expr: str, plane: list[float]) -> str:
        lit = "[" + ", ".join(repr(x) for x in plane) + "]"
        return (
            f"list_reduce(list_transform(list_zip({vec_expr}, {lit}), "
            "p -> p[1] * p[2]), (acc, x) -> acc + x)"
        )

    bucket = " + ".join(
        f"(CASE WHEN {dot_sql('v', p)} >= 0 THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )
    return f"""
WITH RECURSIVE n AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
    sqrt(list_reduce(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x), (a, b) -> a + b)) AS nrm
  FROM embeddings
),
b AS (SELECT vec_id, v, nrm, {bucket} AS bucket FROM n),
pairs AS (
  SELECT a.vec_id AS id_a, bb.vec_id AS id_b
  FROM b a JOIN b bb ON a.bucket = bb.bucket AND a.vec_id < bb.vec_id
  WHERE list_reduce(list_transform(list_zip(a.v, bb.v), p -> p[1] * p[2]), (acc, x) -> acc + x)
        / (a.nrm * bb.nrm) >= {threshold!r}
),
und AS (SELECT id_a AS src, id_b AS dst FROM pairs
        UNION ALL SELECT id_b, id_a FROM pairs),
reach(node, r) AS (
  SELECT src, src FROM und
  UNION
  SELECT u.src, reach.r FROM und u JOIN reach ON u.dst = reach.node
),
comp AS (SELECT node, MIN(r) AS cluster_id FROM reach GROUP BY node)
SELECT e.vec_id,
       COALESCE(c.cluster_id, e.vec_id) AS cluster_id,
       (COALESCE(c.cluster_id, e.vec_id) = e.vec_id) AS keep
FROM (SELECT vec_id FROM embeddings) e
LEFT JOIN comp c ON e.vec_id = c.node
"""


R148_SQL = _r148_sql()


def r149_rolling_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hampel-filter driver check (`dbs.operators.timeseries
    .rolling_robust_anomaly`): per-user rolling LOWER-median/MAD over
    the trailing 12 events (current row excluded), anomaly when
    ``|x − med| > 5·MAD`` — all BIGINT comparisons on
    ``FLOOR(1000·value)``, so the DuckDB twin (list window + the same
    lower-median index) must reproduce every flag, every cold-start
    NULL, and both statistics bit-for-bit."""
    from datalake_backend_spark.operators.timeseries import (
        rolling_robust_anomaly,
    )

    ev = table(spark, sf_dir, "events")
    out = rolling_robust_anomaly(
        ev, ["user_id"], "ts", "value", order_tiebreak="event_id"
    )
    return out.select(
        "event_id", "user_id", "v_scaled", "med", "mad", "is_anomaly"
    )


R149_SQL = """
WITH src AS (
  SELECT event_id, user_id, ts,
         CAST(FLOOR(value * 1000) AS BIGINT) AS v_scaled
  FROM events
),
win AS (
  SELECT event_id, user_id, v_scaled,
    list_sort(list(v_scaled) OVER (
      PARTITION BY user_id ORDER BY ts, event_id
      ROWS BETWEEN 12 PRECEDING AND 1 PRECEDING)) AS l
  FROM src
),
st AS (
  SELECT event_id, user_id, v_scaled,
    CASE WHEN len(l) >= 8 THEN l[(len(l) + 1) // 2] END AS med,
    CASE WHEN len(l) >= 8 THEN
      list_sort(list_transform(l, x -> abs(x - l[(len(l) + 1) // 2])))
        [(len(l) + 1) // 2]
    END AS mad
  FROM win
)
SELECT event_id, user_id, v_scaled, med, mad,
  CASE WHEN med IS NOT NULL THEN abs(v_scaled - med) > 5 * mad
  END AS is_anomaly
FROM st
"""


def r150_deep_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deep-clone driver check (`dbs.sources.versioned.VersionedTable
    .deep_clone_to`): commit customers as v1, DV-delete every 7th key
    as v2, deep-clone the snapshot, then DELETE THE SOURCE TABLE
    ENTIRELY — the read must come from the clone's own copied bytes
    with the deletion vectors carried verbatim (shallow clones die
    exactly here; the manifest op and the source's absence are pinned
    in the `deep_clone_independent` column). The oracle is the
    complement aggregate over the original parquet."""
    import shutil

    from datalake_backend_spark.sources.versioned import VersionedTable

    def build_src(src_base: str) -> None:
        tbl = VersionedTable(src_base)
        cust = table(spark, sf_dir, "customer").select(
            "c_custkey", "c_mktsegment", "c_acctbal"
        )
        tbl.commit(cust.repartition(4))
        v = tbl.delete_where(spark, F.pmod("c_custkey", F.lit(7)) == 0, mode="dv")
        assert v == 2

    def build(cl_base: str) -> None:
        src_base = derive_once(sf_dir, "r150_src", build_src)
        VersionedTable(src_base).deep_clone_to(cl_base)
        # the whole point: the clone owes the source nothing
        shutil.rmtree(src_base)

    clone = VersionedTable(derive_once(sf_dir, "r150_clone", build))
    src_base = fixture_path(sf_dir, "r150_src")
    man = clone.manifest(1)
    independent = (
        man["op"] == "deep_clone"
        and not os.path.exists(src_base)
        and all(not d.startswith("..") for d in man["dirs"])
        and bool(man.get("dvs"))
    )
    return (
        clone.read(spark)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n"),
            dec_sum("c_acctbal").alias("sum_bal"),
        )
        .withColumn("deep_clone_independent", F.lit(bool(independent)))
    )


R150_SQL = """
SELECT c_mktsegment, COUNT(*) AS n,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sum_bal,
       TRUE AS deep_clone_independent
FROM customer WHERE c_custkey % 7 <> 0
GROUP BY c_mktsegment
"""


def r151_nb_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-supervised quality-classifier driver check
    (`dbs.datapipe.text.nb_quality_score`, the CCNet trick as a token
    classifier): a length heuristic gates docs good/bad, per-token
    Laplace posteriors ``FLOOR(1e6·(c_good+1)/(c_total+2))`` are
    learned from that labeling, and every doc re-scores by its
    tokens' posterior sum — pure BIGINT throughout, so the DuckDB
    twin must land on identical per-doc sums."""
    from datalake_backend_spark.datapipe.text import nb_quality_score

    docs = table(spark, sf_dir, "documents").withColumn(
        "gate", F.col("n_chars") >= 300
    )
    return nb_quality_score(docs, "gate")


R151_SQL = r"""
WITH lab AS (SELECT doc_id, text, (n_chars >= 300) AS g FROM documents),
tl AS (
  SELECT doc_id, g,
         list_filter(regexp_split_to_array(trim(text), '\s+'),
                     x -> x <> '') AS l
  FROM lab
),
toks AS (SELECT doc_id, g, u.w FROM tl, unnest(l) AS u(w)),
model AS (
  SELECT w,
         (1000000 * (SUM(CASE WHEN g THEN 1 ELSE 0 END) + 1))
           // (COUNT(*) + 2) AS p_scaled
  FROM toks GROUP BY w
)
SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok,
       CAST(SUM(m.p_scaled) AS BIGINT) AS sum_p_scaled,
       CAST(SUM(m.p_scaled) AS BIGINT) // COUNT(*) AS mean_p_scaled
FROM toks t JOIN model m ON t.w = m.w
GROUP BY t.doc_id
"""


def r152_k_anonymize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity global-recoding driver check
    (`dbs.operators.privacy.k_anonymize`): coarsen the balance
    quasi-identifier by doubling bucket widths until every
    (segment, bucket) equivalence class holds ≥ 10 customers, and
    release the class table at that minimal level. Bucketing is
    ``FLOOR(100·value)`` BIGINT floor-division (pmod-based — BOTH
    Spark ``div`` and DuckDB ``//`` truncate toward zero, so the twin
    emulates floor with the identical pmod form on negative balances).
    At tiny scale factors k=10 can be unreachable at any level (a
    segment with <10 customers can't be fixed by widening a numeric
    bucket), so the release falls back to the max-level table with
    ``achieved=false`` — mirrored by COALESCE in the twin."""
    from datalake_backend_spark.operators.privacy import k_anonymize

    cust = table(spark, sf_dir, "customer")
    classes, level, achieved = k_anonymize(
        cust, ["c_mktsegment"], "c_acctbal", k=10, max_level=12,
        on_fail="max_level",
    )
    return (
        classes.withColumn("level", F.lit(level).cast("bigint"))
        .withColumn("achieved", F.lit(achieved))
    )


R152_SQL = """
WITH lv AS (SELECT unnest(range(0, 13)) AS l),
base AS (
  SELECT c_mktsegment,
         CAST(FLOOR(c_acctbal * 100) AS BIGINT) AS v
  FROM customer
),
cls AS (
  SELECT lv.l, c_mktsegment,
         (v - (((v % (10000 * (1 << lv.l))) + (10000 * (1 << lv.l)))
               % (10000 * (1 << lv.l)))) // (10000 * (1 << lv.l))
           AS bucket,
         COUNT(*) AS n
  FROM base, lv GROUP BY 1, 2, 3
),
mins AS (SELECT l, MIN(n) AS mn FROM cls GROUP BY l),
ok AS (SELECT MIN(l) AS l FROM mins WHERE mn >= 10),
chosen AS (
  SELECT COALESCE((SELECT l FROM ok), 12) AS l,
         (SELECT l FROM ok) IS NOT NULL AS achieved
)
SELECT c_mktsegment, bucket, CAST(n AS BIGINT) AS k_size,
       CAST((SELECT l FROM chosen) AS BIGINT) AS level,
       (SELECT achieved FROM chosen) AS achieved
FROM cls WHERE l = (SELECT l FROM chosen)
"""


def r153_media_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media-ingest lifecycle driver check (`dbs.engine.Engine
    .process_media_dir`, round-6 judge ask #7): a directory with a
    CLOSED-FORM duplicate structure — one real GIF per doc_id % 8 == 0
    base, a byte-identical .gif copy for every % 16 base, a PNG
    re-encode of the same pixels for every % 24 base — flows through
    the full pipeline (mediafile DataSource → sha256 exact dedup →
    dHash perceptual dedup → VersionedTable media zone), and the
    returned summary must equal the modular-arithmetic oracle:
    n_files = n8+n16+n24, n_exact_dups = n16 (byte copies),
    n_perceptual_dups = n24 (the PNG survives the byte pass, collapses
    on dHash), n_kept = n8, version = 1 (fresh zone per call). Base
    images are 8x9 splitmix64 bit patterns — one pixel per dHash grid
    block, verified collision-free across every driver id set — so a
    lost file, a hash drift, a broken DV of the keep-lowest rule, or a
    keyless-group collapse (the concat_ws '' hazard) shifts a count."""
    import shutil

    import numpy as np

    from datalake_backend_spark.datapipe.multimodal import (
        encode_gif,
        encode_png,
    )
    from datalake_backend_spark.engine import Engine

    mask = (1 << 64) - 1

    def _mix(x: int) -> int:
        x &= mask
        x = (x ^ (x >> 30)) * 0xBF58476D1CE4E5B9 & mask
        x = (x ^ (x >> 27)) * 0x94D049BB133111EB & mask
        return x ^ (x >> 31)

    def _img(m: int) -> np.ndarray:
        px = np.zeros((8, 9), dtype=np.uint8)
        for r in range(8):
            for c in range(9):
                px[r, c] = 255 if _mix(m * 72 + r * 9 + c + 1) & 1 else 0
        return np.repeat(px[:, :, None], 3, axis=2)

    ids = [
        r[0]
        for r in table(spark, sf_dir, "documents")
        .where(F.pmod("doc_id", F.lit(8)) == 0)
        .select("doc_id")
        .collect()
    ]
    def build(base: str) -> None:
        incoming = os.path.join(base, "incoming")
        os.makedirs(incoming)
        for i in ids:
            img = _img(i // 8)
            gif = encode_gif(img)
            with open(os.path.join(incoming, f"{i}.gif"), "wb") as fh:
                fh.write(gif)
            if i % 16 == 0:  # byte-identical copy → exact dup
                with open(os.path.join(incoming, f"{i + 1}.gif"), "wb") as fh:
                    fh.write(gif)
            if i % 24 == 0:  # same pixels, new container → phash dup
                with open(os.path.join(incoming, f"{i + 2}.png"), "wb") as fh:
                    fh.write(encode_png(img))

    base = derive_once(sf_dir, "r153_life", build)
    # fresh zone per call so `version` is deterministically 1
    zone_root = os.path.join(base, "lake")
    shutil.rmtree(zone_root, ignore_errors=True)
    res = Engine(spark).process_media_dir(
        os.path.join(base, "incoming"), zone_root
    )
    row = [
        (
            int(res["n_files"]),
            int(res["n_exact_dups"]),
            int(res["n_perceptual_dups"]),
            int(res["n_kept"]),
            int(res["version"]),
        )
    ]
    return spark.createDataFrame(
        row,
        "n_files bigint, n_exact_dups bigint, n_perceptual_dups bigint, "
        "n_kept bigint, version bigint",
    )


R153_SQL = """
SELECT
  CAST(SUM(CASE WHEN doc_id % 8 = 0 THEN 1 ELSE 0 END)
     + SUM(CASE WHEN doc_id % 16 = 0 THEN 1 ELSE 0 END)
     + SUM(CASE WHEN doc_id % 24 = 0 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_files,
  CAST(SUM(CASE WHEN doc_id % 16 = 0 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_exact_dups,
  CAST(SUM(CASE WHEN doc_id % 24 = 0 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_perceptual_dups,
  CAST(SUM(CASE WHEN doc_id % 8 = 0 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_kept,
  CAST(1 AS BIGINT) AS version
FROM documents
"""


def r154_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k driver check (`dbs.datapipe.text.bm25_scores`): rank
    every document against a 3-term query with integer-rational BM25
    (exact tf-saturation algebra over the common denominator
    20·L·tf + 6·L + 18·dl·N; Lucene idf quantized to half-bits via
    ``length(bin((2N+2)² div (2df+1)²)) − 1`` with a DECIMAL(38,0)
    numerator — pure integer ops both engines share, int64-safe to
    N ≈ 1.5·10⁹ docs, so the sf1.0 verdict is a hash, not a
    tolerance) and release the top 20 by (score desc, doc_id).
    The DuckDB twin recomputes every factor from the same tokenizer;
    a tokenizer drift, an avgdl off-by-one, an idf rounding flip, or
    an unstable tie-break all break the hash."""
    from datalake_backend_spark.datapipe.text import bm25_scores

    docs = table(spark, sf_dir, "documents")
    return bm25_scores(docs, ["hash", "scan", "batch"], top_k=20)


R154_SQL = r"""
WITH tok AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(trim(text), '\s+')) AS term
  FROM documents
),
tk AS (SELECT doc_id, term FROM tok WHERE term <> ''),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM tk GROUP BY doc_id),
corpus AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(dl) AS BIGINT) AS l
  FROM dl
),
qtf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM tk WHERE term IN ('hash', 'scan', 'batch')
  GROUP BY doc_id, term
),
dft AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df_t FROM qtf GROUP BY term
),
scored AS (
  SELECT q.doc_id,
         CAST((CAST(length(bin(CAST(
             ((2*c.n + 2) * (2*c.n + 2))
             // ((2*f.df_t + 1) * (2*f.df_t + 1)) AS BIGINT))) - 1
             AS HUGEINT)
          * 44 * c.l * q.tf * 1000000)
         // (20 * c.l * q.tf + 6 * c.l + 18 * d.dl * c.n) AS BIGINT)
           AS term_score
  FROM qtf q JOIN dft f USING (term) JOIN dl d USING (doc_id), corpus c
)
SELECT doc_id, CAST(SUM(term_score) AS BIGINT) AS score_scaled
FROM scored GROUP BY doc_id
ORDER BY score_scaled DESC, doc_id LIMIT 20
"""


def r155_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct l-diversity driver check (`dbs.operators.privacy
    .l_diversify`): coarsen the balance quasi-identifier until every
    (segment, bucket) class contains customers from ≥ 3 distinct
    nations — k-anonymity's homogeneity-attack complement. The same
    pmod floor-div bucketing and COALESCE max-level fallback as r152;
    the twin recomputes l_distinct per class at every level and must
    choose the identical minimal level."""
    from datalake_backend_spark.operators.privacy import l_diversify

    cust = table(spark, sf_dir, "customer")
    classes, level, achieved = l_diversify(
        cust, ["c_mktsegment"], "c_acctbal", "c_nationkey",
        l_min=3, max_level=12, on_fail="max_level",
    )
    return (
        classes.withColumn("level", F.lit(level).cast("bigint"))
        .withColumn("achieved", F.lit(achieved))
    )


R155_SQL = """
WITH lv AS (SELECT unnest(range(0, 13)) AS l),
base AS (
  SELECT c_mktsegment, c_nationkey,
         CAST(FLOOR(c_acctbal * 100) AS BIGINT) AS v
  FROM customer
),
cls AS (
  SELECT lv.l, c_mktsegment,
         (v - (((v % (10000 * (1 << lv.l))) + (10000 * (1 << lv.l)))
               % (10000 * (1 << lv.l)))) // (10000 * (1 << lv.l))
           AS bucket,
         COUNT(*) AS n, COUNT(DISTINCT c_nationkey) AS nd
  FROM base, lv GROUP BY 1, 2, 3
),
mins AS (SELECT l, MIN(nd) AS mn FROM cls GROUP BY l),
ok AS (SELECT MIN(l) AS l FROM mins WHERE mn >= 3),
chosen AS (
  SELECT COALESCE((SELECT l FROM ok), 12) AS l,
         (SELECT l FROM ok) IS NOT NULL AS achieved
)
SELECT c_mktsegment, bucket, CAST(n AS BIGINT) AS k_size,
       CAST(nd AS BIGINT) AS l_distinct,
       CAST((SELECT l FROM chosen) AS BIGINT) AS level,
       (SELECT achieved FROM chosen) AS achieved
FROM cls WHERE l = (SELECT l FROM chosen)
"""


def r156_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking dedup driver check (`dbs.datapipe
    .dedup.cdc_chunk_stats`): FastCDC-style token chunking — cut where
    the 4-gram fingerprint ≡ 0 mod 8, hash each chunk, count per doc
    how many chunks are corpus-shared. The DuckDB twin recomputes the
    identical boundary set from the same md5-60 fingerprints, so a
    boundary off-by-one (window ENDING at p, break AFTER p), a prefix-
    sum drift, an unstable chunk-token order, or a frequency-join bug
    all shift a count."""
    from datalake_backend_spark.datapipe.dedup import cdc_chunk_stats

    docs = table(spark, sf_dir, "documents")
    return cdc_chunk_stats(docs, k=4, divisor=8)


R156_SQL = r"""
WITH tl AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS l
  FROM documents WHERE trim(text) <> ''
),
rws AS (
  SELECT doc_id, CAST(p AS BIGINT) AS p, l[p] AS w,
         CASE WHEN p >= 4 AND
              ('0x' || substr(md5(array_to_string(l[p - 3 : p], ' ')),
                              1, 15))::BIGINT % 8 = 0
              THEN 1 ELSE 0 END AS b
  FROM tl, unnest(range(1, len(l) + 1)) AS t(p)
),
chunked AS (
  SELECT doc_id, p, w,
         COALESCE(SUM(b) OVER (PARTITION BY doc_id ORDER BY p
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS chunk
  FROM rws
),
chunks AS (
  SELECT doc_id, chunk, string_agg(w, ' ' ORDER BY p) AS chunk_text,
         COUNT(*) AS n_tok
  FROM chunked GROUP BY doc_id, chunk
),
hashed AS (
  SELECT doc_id, n_tok,
         ('0x' || substr(md5(chunk_text), 1, 15))::BIGINT AS chunk_hash
  FROM chunks
),
freq AS (SELECT chunk_hash, COUNT(*) AS f FROM hashed GROUP BY chunk_hash)
SELECT h.doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(SUM(h.n_tok) AS BIGINT) AS n_chunk_tokens,
       CAST(SUM(CASE WHEN q.f > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_shared_chunks
FROM hashed h JOIN freq q USING (chunk_hash)
GROUP BY h.doc_id
"""


def r157_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image resize driver check (`dbs.datapipe.multimodal
    .resize_images`): every q75 synthetic image (mixed PPM/BMP/PNG
    containers, closed-form pixels) is nearest-neighbor resampled to
    6×5, RE-ENCODED in its original container, decoded AGAIN by
    `image_stats` — the full decode→resize→encode→decode round trip.
    The resample is integer-exact (``src = (dst·src_dim) div
    dst_dim``), so the twin recomputes every output pixel from the
    pixel formula at the mapped source coordinates; an index rounding
    drift, a channel swap in re-encode, or a stale meta dim breaks
    the hash."""
    from datalake_backend_spark.datapipe.multimodal import (
        image_stats,
        resize_images,
        synthetic_image_table,
    )

    docs = table(spark, sf_dir, "documents")
    return image_stats(
        resize_images(synthetic_image_table(docs), width=6, height=5)
    )


R157_SQL = """
WITH dims AS (
  SELECT doc_id AS media_id,
         CAST(4 + doc_id % 5 AS BIGINT) AS sw,
         CAST(3 + doc_id % 4 AS BIGINT) AS sh
  FROM documents
),
rws AS (SELECT media_id, sw, sh, unnest(range(0, 5)) AS r FROM dims),
cls AS (SELECT media_id, sw, sh, r, unnest(range(0, 6)) AS c FROM rws),
px AS (
  SELECT media_id,
         (media_id * 31 + ((r * sh) // 5) * 7 + ((c * sw) // 6) * 3)
           % 256 AS v_r,
         (media_id * 31 + ((r * sh) // 5) * 7 + ((c * sw) // 6) * 3 + 11)
           % 256 AS v_g,
         (media_id * 31 + ((r * sh) // 5) * 7 + ((c * sw) // 6) * 3 + 22)
           % 256 AS v_b
  FROM cls
)
SELECT media_id, CAST(6 AS INT) AS width, CAST(5 AS INT) AS height,
  CAST(3 AS INT) AS channels,
  CAST(30 AS BIGINT) AS n_pixels,
  CAST(SUM(v_r) AS BIGINT) AS sum_r,
  CAST(SUM(v_g) AS BIGINT) AS sum_g,
  CAST(SUM(v_b) AS BIGINT) AS sum_b,
  CAST(SUM(v_r) AS BIGINT) / 30.0 AS mean_r,
  CAST(SUM(v_g) AS BIGINT) / 30.0 AS mean_g,
  CAST(SUM(v_b) AS BIGINT) / 30.0 AS mean_b
FROM px GROUP BY media_id
"""


def r158_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment driver check (`dbs.streaming.pipeline
    .stream_static_enrich`): the events feed is replayed as a stream
    and every micro-batch is broadcast-joined against the STATIC
    customer dimension (user_id → market segment) — the stateless
    lookup-table shape, no watermark, no streaming state — then
    aggregated per segment. The DuckDB twin is the equivalent batch
    join+aggregate; a dropped event (enrichment must left-join), a
    duplicated batch, or a key mismatch breaks the integer checksums."""
    from datalake_backend_spark.streaming.pipeline import (
        streaming_session,
    )

    spark = streaming_session(spark)
    from datalake_backend_spark.streaming.pipeline import (
        read_event_stream,
        start_to_memory,
        stream_static_enrich,
    )

    path = f"{sf_dir}/events.parquet"
    table(spark, sf_dir, "events")
    cust = table(spark, sf_dir, "customer")
    stream = read_event_stream(
        spark, f"{sf_dir}/events.parquet*", spark.read.parquet(path).schema
    )
    enriched = stream_static_enrich(
        stream, cust, "user_id", "c_custkey", ["c_mktsegment"]
    )
    agg = enriched.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_events"),
        F.max("user_id").alias("max_user"),
        F.sum("event_id").cast("bigint").alias("event_id_checksum"),
    )
    start_to_memory(agg, "r158_enriched", output_mode="complete")
    return spark.table("r158_enriched")


R158_SQL = """
SELECT c.c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(MAX(e.user_id) AS BIGINT) AS max_user,
       CAST(SUM(e.event_id) AS BIGINT) AS event_id_checksum
FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c.c_mktsegment
"""


def r161_partition_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-spec evolution driver check (`dbs.sources.versioned`,
    Iceberg-style): half the orders are committed UNPARTITIONED, the
    other half appended under an evolved ``partition_by=
    ["o_orderstatus"]`` spec — nothing rewritten, each dir keeps its
    own scheme. The snapshot read must surface o_orderstatus from file
    data (old dir) and from hive dir names (new dirs) alike, so the
    per-status totals equal the plain oracle; `specs_evolved` pins
    that the manifest really holds two distinct specs and
    `files_skipped` that a status predicate prunes the evolved dirs
    at the directory level.

    Fixture assumption (deliberate pin): the oracle hardcodes both
    flags TRUE, so each orderkey half must contain >= 2 distinct
    o_orderstatus values — true at every shipped SF. If a future SF
    ever yields a single-status or empty half, the Spark side emits
    FALSE and this row goes red for a FIXTURE reason, not an engine
    bug — rebalance the split, don't chase the pruning code."""
    from datalake_backend_spark.sources.versioned import VersionedTable

    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    mid = orders.agg(
        F.percentile_approx("o_orderkey", 0.5, 1).alias("m")
    ).first()[0]
    def build(base: str) -> None:
        tbl = VersionedTable(base)
        tbl.commit(orders.where(F.col("o_orderkey") <= mid))
        tbl.commit(
            orders.where(F.col("o_orderkey") > mid),
            mode="append",
            partition_by=["o_orderstatus"],
        )

    tbl = VersionedTable(derive_once(sf_dir, "r161_pevo", build))
    man = tbl.manifest()
    specs = man.get("partition_specs", {})
    evolved = len({tuple(s) for s in specs.values()}) > 1
    _kept, total, n_kept = tbl.prune_files([("o_orderstatus", "=", "F")])
    return (
        tbl.read(spark)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            F.sum("o_orderkey").cast("bigint").alias("key_checksum"),
        )
        .withColumn("specs_evolved", F.lit(bool(evolved)))
        .withColumn("files_skipped", F.lit(bool(n_kept < total)))
    )


R161_SQL = """
SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_checksum,
       TRUE AS specs_evolved, TRUE AS files_skipped
FROM orders GROUP BY o_orderstatus
"""


#: r162's fixed query set — multiple queries ranked in ONE pass. The
#: synthetic documents vocabulary is ~31 terms, and only 'dup' is rare
#: enough (df=25/500) for a nonzero HALF-bit idf; the common terms pin
#: the idf-0 path and the doc_id tie-break deterministically.
_R162_QUERIES = {
    "qa": ["dup", "hash"],
    "qb": ["batch", "dup", "scan"],
    "qc": ["merge", "window"],
}


def r162_bm25_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-query BM25 driver check (`dbs.datapipe.text
    .bm25_multi_query`): three fixed queries scored against the
    documents corpus in one pass — broadcast (query_id, term) table,
    shared postings/df/corpus scalars, one row_number window per-query
    top-5. Half-bit integer idf + DECIMAL(38,0) numerator, so the
    identical integers come out of any engine (int64-safe to
    N ~ 1.5e9 docs / L ~ 1e13 tokens, unlike r154's quarter-bit
    single-query form)."""
    from datalake_backend_spark.datapipe.text import bm25_multi_query

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    return bm25_multi_query(docs, _R162_QUERIES, top_k=5)


R162_SQL = r"""
WITH q(query_id, term) AS (
  VALUES ('qa', 'dup'), ('qa', 'hash'), ('qb', 'batch'), ('qb', 'dup'),
         ('qb', 'scan'), ('qc', 'merge'), ('qc', 'window')
),
tok AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(trim(text), '\s+')) AS term
  FROM documents
),
tk AS (SELECT doc_id, term FROM tok WHERE term <> ''),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM tk GROUP BY doc_id),
corpus AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(dl) AS BIGINT) AS l
  FROM dl
),
tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM tk WHERE term IN (SELECT term FROM q)
  GROUP BY doc_id, term
),
dft AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df_t FROM tf GROUP BY term
),
scored AS (
  SELECT s.query_id, t.doc_id,
         CAST((CAST(length(bin(CAST(
             ((2*c.n + 2) * (2*c.n + 2))
             // ((2*f.df_t + 1) * (2*f.df_t + 1)) AS BIGINT))) - 1
             AS HUGEINT)
          * 44 * c.l * t.tf * 1000000)
         // (20 * c.l * t.tf + 6 * c.l + 18 * d.dl * c.n) AS BIGINT)
           AS term_score
  FROM tf t JOIN q s USING (term) JOIN dft f USING (term)
       JOIN dl d USING (doc_id), corpus c
),
agg AS (
  SELECT query_id, doc_id, CAST(SUM(term_score) AS BIGINT) AS score_scaled
  FROM scored GROUP BY query_id, doc_id
)
SELECT query_id, doc_id, score_scaled, rank FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY score_scaled DESC, doc_id
    ) AS INTEGER) AS rank
  FROM agg
) WHERE rank <= 5
"""


def r163_rollup_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping-sets driver check (Spark-native `DataFrame
    .rollup` — the OLAP subtotal lattice Catalyst expands to one
    Expand + hash aggregate, NOT one job per level): order counts and
    an integer key checksum at (status, priority), (status) and ()
    granularity. NULL group labels are pinned to 'ALL' on both sides
    (TPC-H group columns are never null), so the subtotal rows hash
    deterministically."""
    orders = table(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            F.sum("o_orderkey").alias("key_checksum"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n",
            "key_checksum",
        )
    )


R163_SQL = """
SELECT COALESCE(o_orderstatus, 'ALL') AS status,
       COALESCE(o_orderpriority, 'ALL') AS priority,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_checksum
FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
"""


def r164_status_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT driver check (Spark-native `groupBy().pivot()` with a
    PINNED value list — an unpinned pivot runs an extra distinct job
    to discover columns, and its column ORDER follows data order):
    orders long->wide, one row per priority, one count column per
    order status. The twin is the portable CASE-aggregation spelling;
    missing combinations are 0, not NULL, on both sides."""
    orders = table(spark, sf_dir, "orders")
    out = (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .na.fill(0, ["F", "O", "P"])
    )
    return out.select(
        "o_orderpriority",
        F.col("F").alias("n_f"),
        F.col("O").alias("n_o"),
        F.col("P").alias("n_p"),
    )


R164_SQL = """
SELECT o_orderpriority,
       CAST(COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS BIGINT) AS n_f,
       CAST(COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS BIGINT) AS n_o,
       CAST(COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS BIGINT) AS n_p
FROM orders GROUP BY o_orderpriority
"""


def r165_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average driver check (`dbs.operators.timeseries
    .time_weighted_avg`): per event type, the TWAP of `value` where
    each observation is weighted by its holding time in integer
    microseconds — all accumulation in DECIMAL(38,0) (HUGEINT twin),
    event_id tiebreak pins the lead pairing under equal timestamps,
    so the quotient is bit-identical in any engine."""
    from datalake_backend_spark.operators.timeseries import (
        time_weighted_avg,
    )

    ev = table(spark, sf_dir, "events").select(
        "event_type", "ts", "value", "event_id"
    )
    return time_weighted_avg(
        ev, ["event_type"], "ts", "value", scale=2, tiebreak=["event_id"]
    )


R165_SQL = """
WITH s AS (
  SELECT event_type, epoch_us(ts) AS us,
         CAST(FLOOR(value * 100) AS HUGEINT) AS v,
         LEAD(epoch_us(ts)) OVER (
           PARTITION BY event_type ORDER BY ts, event_id
         ) AS nxt
  FROM events
)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_obs,
       CAST(SUM(v * (nxt - us)) // SUM(nxt - us) AS BIGINT) AS twap_scaled
FROM s GROUP BY event_type
"""


def r166_set_similarity_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact set-similarity self-join driver check (`dbs.datapipe
    .dedup.set_similarity_join`, PPJoin-style prefix filtering): every
    document pair with distinct-token Jaccard >= 4/5 over the capped
    doc_id < 300 slice, with exact intersection/union sizes. The twin
    brute-forces the same pairs through a token self-join — the prefix
    filter must change WORK only, never the pair set (the exactness
    contrast to the MinHash/SimHash probabilistic rows)."""
    from datalake_backend_spark.datapipe.dedup import set_similarity_join

    docs = (
        table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 300)
        .select("doc_id", "text")
    )
    return set_similarity_join(docs, 4, 5)


R166_SQL = r"""
WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 300),
tok AS (
  SELECT DISTINCT doc_id,
         unnest(regexp_split_to_array(trim(text), '\s+')) AS term
  FROM d
),
tk AS (SELECT doc_id, term FROM tok WHERE term <> ''),
sz AS (SELECT doc_id, COUNT(*) AS n FROM tk GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(COUNT(*) AS INTEGER) AS n_inter
  FROM tk a JOIN tk b ON a.term = b.term AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT id_a, id_b, n_inter,
       CAST(sa.n + sb.n - n_inter AS INTEGER) AS n_union
FROM inter
JOIN sz sa ON sa.doc_id = id_a
JOIN sz sb ON sb.doc_id = id_b
WHERE n_inter * 5 >= 4 * (sa.n + sb.n - n_inter)
"""


def r167_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-attribution driver check (`dbs.operators.windows
    .conversion_attribution`): for every purchase, the first/last
    preceding click by the same user and the count of clicks before
    it — one per-user window pass, strictly-preceding ROWS frame,
    event_id tiebreak, integer unix-microsecond outputs (bit-exact in
    any engine)."""
    from datalake_backend_spark.operators.windows import (
        conversion_attribution,
    )

    ev = table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type", "event_id"
    )
    return conversion_attribution(
        ev, "user_id", "ts", "event_type",
        touch_type="click", conversion_type="purchase",
        tiebreak=["event_id"],
    )


R167_SQL = """
WITH s AS (
  SELECT user_id, epoch_us(ts) AS us, event_type,
    MIN(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) OVER w
      AS first_touch_us,
    MAX(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) OVER w
      AS last_touch_us,
    COUNT(CASE WHEN event_type = 'click' THEN 1 END) OVER w
      AS n_touches_before
  FROM events
  WINDOW w AS (
    PARTITION BY user_id ORDER BY ts, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
  )
)
SELECT user_id, us AS conversion_us, first_touch_us, last_touch_us,
       CAST(n_touches_before AS BIGINT) AS n_touches_before
FROM s WHERE event_type = 'purchase'
"""


def r168_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention-cohort driver check (`dbs.operators.windows
    .retention_cohorts`): users cohorted by first active day, each
    later active day bucketed by offset — the day-N retention
    triangle as two hash aggregates over distinct user-days, integer
    day arithmetic only (`unix_micros div 86400000000`, identical
    `//` in the twin)."""
    from datalake_backend_spark.operators.windows import retention_cohorts

    ev = table(spark, sf_dir, "events").select("user_id", "ts")
    return retention_cohorts(ev, "user_id", "ts")


R168_SQL = """
WITH ud AS (
  SELECT DISTINCT user_id AS u,
         CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day
  FROM events
),
f AS (SELECT u, MIN(day) AS cohort FROM ud GROUP BY u)
SELECT cohort AS cohort_day, ud.day - cohort AS day_offset,
       CAST(COUNT(*) AS BIGINT) AS n_users
FROM ud JOIN f USING (u) GROUP BY 1, 2
"""


def r169_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle-count driver check (`dbs.operators.graph
    .triangle_count`): per-supplier triangle counts over the co-supply
    graph (suppliers sharing an order), capped to suppkey < 60 so the
    graph stays bounded at every SF (the uncapped sf0.1 graph is
    near-complete — that measures the fixture's density, not the
    operator). The Spark side counts each triangle once via
    degree-ordered orientation; the twin brute-forces u<v<w ordered
    edge triples — same integers by construction."""
    from datalake_backend_spark.operators.graph import triangle_count

    li = (
        table(spark, sf_dir, "lineitem")
        .where(F.col("l_suppkey") < 60)
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    e = (
        li.alias("a")
        .join(li.alias("b"), "l_orderkey")
        .where(F.col("a.l_suppkey") < F.col("b.l_suppkey"))
        .select(
            F.col("a.l_suppkey").alias("src"),
            F.col("b.l_suppkey").alias("dst"),
        )
    )
    return triangle_count(e)


R169_SQL = """
WITH li AS (
  SELECT DISTINCT l_orderkey AS o, l_suppkey AS s
  FROM lineitem WHERE l_suppkey < 60
),
e AS (
  SELECT DISTINCT a.s AS u, b.s AS v
  FROM li a JOIN li b ON a.o = b.o AND a.s < b.s
),
tri AS (
  SELECT a.u AS x, a.v AS y, b.v AS z
  FROM e a
  JOIN e b ON b.u = a.v
  JOIN e c ON c.u = a.u AND c.v = b.v
)
SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles FROM (
  SELECT x AS node FROM tri
  UNION ALL SELECT y FROM tri
  UNION ALL SELECT z FROM tri
) GROUP BY node
"""


def r170_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized-PageRank driver check (`dbs.operators.graph
    .personalized_pagerank`): random walk with restart over the
    symmetrized co-purchase graph (same graph as q145), all teleport
    mass returning to the two lowest-keyed suppliers (s_suppkey <= 2 —
    present at EVERY scale factor; the earlier nation-0 seed set was
    EMPTY at sf0.001, which the operator's fail-fast guard now
    rejects instead of silently returning all-NULL ranks) — proximity
    to the seeds, not global centrality. 3 synchronous all-BIGINT
    iterations; the twin unrolls them as CTEs (same shape as R145)
    with the source-CASE teleport, so every rank reproduces exactly,
    including the 0 ranks of unreached nodes. Edges served from the
    shared silver table (`dbs.engine.copurchase_edges`)."""
    from datalake_backend_spark.engine import copurchase_edges
    from datalake_backend_spark.operators.graph import personalized_pagerank

    supplier = table(spark, sf_dir, "supplier")
    edges = copurchase_edges(spark, sf_dir)
    sources = supplier.where(F.col("s_suppkey") <= 2).select(
        F.concat(F.lit("s"), F.col("s_suppkey")).alias("node")
    )
    return personalized_pagerank(edges, sources, iterations=3, checkpoint_every=2)


_R170_PREFIX = r"""
WITH e0 AS MATERIALIZED (
  SELECT DISTINCT 'c' || o_custkey AS c, 's' || l_suppkey AS s
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
edges AS MATERIALIZED (
  SELECT c AS src, s AS dst FROM e0
  UNION ALL
  SELECT s AS src, c AS dst FROM e0
),
deg AS MATERIALIZED (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
srcs AS MATERIALIZED (
  SELECT DISTINCT 's' || s_suppkey AS node FROM supplier
  WHERE s_suppkey <= 2
),
nodes AS MATERIALIZED (
  SELECT n.node, CAST(COALESCE(deg.deg, 0) AS BIGINT) AS deg,
         CASE WHEN sr.node IS NOT NULL THEN 1 ELSE 0 END AS is_src
  FROM (
    SELECT src AS node FROM edges
    UNION SELECT dst FROM edges
    UNION SELECT node FROM srcs
  ) n
  LEFT JOIN deg ON n.node = deg.src
  LEFT JOIN srcs sr ON sr.node = n.node
),
scnt AS MATERIALIZED (SELECT COUNT(*) AS s FROM srcs),
it0 AS MATERIALIZED (
  SELECT node, deg, is_src,
         CASE WHEN is_src = 1
              THEN 1000000000000 // (SELECT s FROM scnt) ELSE 0 END AS r
  FROM nodes
)"""


def _r170_iter(k: int) -> str:
    return f""",
it{k} AS MATERIALIZED (
  SELECT nd.node, nd.deg, nd.is_src,
         CASE WHEN nd.is_src = 1
              THEN (15 * 1000000000000) // (100 * (SELECT s FROM scnt))
              ELSE 0 END
         + CAST(COALESCE(SUM((85 * p.r) // (100 * p.deg)), 0) AS BIGINT)
           AS r
  FROM nodes nd
  LEFT JOIN edges e ON e.dst = nd.node
  LEFT JOIN it{k - 1} p ON p.node = e.src
  GROUP BY nd.node, nd.deg, nd.is_src
)"""


R170_SQL = (
    _R170_PREFIX
    + "".join(_r170_iter(k) for k in range(1, 4))
    + "\nSELECT node, r AS rank_scaled FROM it3\n"
)


def r171_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness driver check (`dbs.operators.privacy
    .t_closeness_classes`): per equivalence class at a FIXED
    generalization level (6 — $6,400 balance buckets x segment), the
    total-variation distance between the class's nation distribution
    and the global one — the skewness-attack measurement that
    completes the k-anonymity (r152) / l-diversity (r155) ladder.
    All-BIGINT numerators over the common denominator, DECIMAL(38,0)
    fold, same pmod floor-div bucketing as the ladder rows."""
    from datalake_backend_spark.operators.privacy import (
        t_closeness_classes,
    )

    cust = table(spark, sf_dir, "customer")
    return t_closeness_classes(
        cust, ["c_mktsegment"], "c_acctbal", "c_nationkey", level=6
    )


R171_SQL = """
WITH base AS (
  SELECT c_mktsegment, c_nationkey,
         CAST(FLOOR(c_acctbal * 100) AS BIGINT) AS v
  FROM customer
),
k AS (
  SELECT c_mktsegment,
         (v - (((v % 640000) + 640000) % 640000)) // 640000 AS bucket,
         c_nationkey
  FROM base
),
cells AS (
  SELECT c_mktsegment, bucket, c_nationkey, CAST(COUNT(*) AS BIGINT) AS c
  FROM k GROUP BY 1, 2, 3
),
sizes AS (
  SELECT c_mktsegment, bucket, CAST(SUM(c) AS BIGINT) AS n
  FROM cells GROUP BY 1, 2
),
gdist AS (
  SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS g FROM k GROUP BY 1
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM k),
j AS (
  SELECT f.c_mktsegment, f.bucket, f.n, f.g, COALESCE(c.c, 0) AS c
  FROM (SELECT s.c_mktsegment, s.bucket, s.n, gl.c_nationkey, gl.g
        FROM sizes s, gdist gl) f
  LEFT JOIN cells c
    ON c.c_mktsegment = f.c_mktsegment AND c.bucket = f.bucket
   AND c.c_nationkey = f.c_nationkey
)
SELECT c_mktsegment, bucket, MAX(n) AS k_size,
       CAST(FLOOR(1000000 * SUM(CAST(
              ABS(c * (SELECT nn FROM tot) - g * n) AS HUGEINT))
            / (2 * MAX(n) * (SELECT nn FROM tot))) AS BIGINT) AS t_scaled
FROM j GROUP BY 1, 2
"""


def r172_rank_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-function driver check (Spark-native window suite):
    rank, dense_rank, ntile(4) and an integer-scaled percent_rank for
    every customer by account balance within market segment — the
    core SQL-window quartet under ONE window spec (one shuffle, no
    join). percent_rank is ``(rank−1)/(n−1)`` — emitted as
    ``floor(10⁶·(rank−1) / (n−1))`` so it is an integer in any engine
    (native percent_rank returns engine-ordered doubles). Balance
    ties broken by custkey so every rank is deterministic."""
    cust = table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("c_acctbal"), F.asc("c_custkey")
    )
    wall = Window.partitionBy("c_mktsegment")
    return cust.select(
        "c_mktsegment",
        "c_custkey",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
        F.expr(
            "cast(floor(1000000 * (cast(rank() over ("
            "partition by c_mktsegment order by c_acctbal desc,"
            " c_custkey asc) as bigint) - 1)"
            " / greatest(count(*) over (partition by c_mktsegment) - 1, 1))"
            " as bigint)"
        ).alias("pct_rank_scaled"),
    )


R172_SQL = """
SELECT c_mktsegment, c_custkey,
       CAST(RANK() OVER w AS INTEGER) AS rnk,
       CAST(DENSE_RANK() OVER w AS INTEGER) AS drnk,
       CAST(NTILE(4) OVER w AS INTEGER) AS quartile,
       CAST(FLOOR(1000000 * (CAST(RANK() OVER w AS BIGINT) - 1)
            / GREATEST(COUNT(*) OVER (PARTITION BY c_mktsegment) - 1, 1))
         AS BIGINT) AS pct_rank_scaled
FROM customer
WINDOW w AS (
  PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey ASC
)
"""


_R173_QUERIES = {
    "s1": ["dup", "scan"],
    "s2": ["merge", "hash", "window"],
}


def r173_search_serving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranked-search SERVING view driver check (`dbs.serving.views`:
    register_search_index + search_top_docs over `dbs.datapipe.text
    .bm25_search_from_index`): BM25 top-3 for two query sets scored
    entirely from the registered inverted-index view — the q134 write
    side's serialized ``doc:tf,...`` postings round-trip back into
    (doc_id, tf) and rank with the identical integer algebra as r162's
    corpus-pass scorer. The DuckDB twin recomputes from the RAW
    corpus, so a lossy posting serialization, a parse drift, or a
    df/idf mismatch between the index write and read sides breaks the
    hash. This is the reference's Kibana 'top documents for term set'
    served without a per-query job over raw text."""
    from datalake_backend_spark.serving.views import (
        register_search_index,
        search_top_docs,
    )

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    register_search_index(spark, docs)
    return search_top_docs(spark, _R173_QUERIES, top_k=3)


R173_SQL = r"""
WITH q(query_id, term) AS (
  VALUES ('s1', 'dup'), ('s1', 'scan'), ('s2', 'merge'), ('s2', 'hash'),
         ('s2', 'window')
),
tok AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(trim(text), '\s+')) AS term
  FROM documents
),
tk AS (SELECT doc_id, term FROM tok WHERE term <> ''),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM tk GROUP BY doc_id),
corpus AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(dl) AS BIGINT) AS l
  FROM dl
),
tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM tk WHERE term IN (SELECT term FROM q)
  GROUP BY doc_id, term
),
dft AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df_t FROM tf GROUP BY term
),
scored AS (
  SELECT s.query_id, t.doc_id,
         CAST((CAST(length(bin(CAST(
             ((2*c.n + 2) * (2*c.n + 2))
             // ((2*f.df_t + 1) * (2*f.df_t + 1)) AS BIGINT))) - 1
             AS HUGEINT)
          * 44 * c.l * t.tf * 1000000)
         // (20 * c.l * t.tf + 6 * c.l + 18 * d.dl * c.n) AS BIGINT)
           AS term_score
  FROM tf t JOIN q s USING (term) JOIN dft f USING (term)
       JOIN dl d USING (doc_id), corpus c
),
agg AS (
  SELECT query_id, doc_id, CAST(SUM(term_score) AS BIGINT) AS score_scaled
  FROM scored GROUP BY query_id, doc_id
)
SELECT query_id, doc_id, score_scaled, rank FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY score_scaled DESC, doc_id
    ) AS INTEGER) AS rank
  FROM agg
) WHERE rank <= 3
"""


def r174_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood ER blocking driver check (`dbs.datapipe
    .dedup.sorted_neighborhood_pairs`): every document pair within
    rank distance < 4 under the (12-char text prefix, doc_id) total
    order. The global rank is two-phase (range partition + local
    row_number + broadcast offsets — never a one-reducer sort), so the
    DuckDB twin's single ROW_NUMBER over the same order must produce
    the identical pair set: an offset off-by-one, an unstable
    tiebreak, or a block-boundary miss all break the hash."""
    from datalake_backend_spark.datapipe.dedup import (
        sorted_neighborhood_pairs,
    )

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", F.substring(F.trim("text"), 1, 12).alias("blk_key")
    )
    return sorted_neighborhood_pairs(docs, "blk_key", window=4)


R174_SQL = """
WITH r AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (
           ORDER BY substr(trim(text), 1, 12), doc_id
         ) AS rnk
  FROM documents
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(b.rnk - a.rnk AS BIGINT) AS rank_gap
FROM r a JOIN r b ON b.rnk > a.rnk AND b.rnk - a.rnk < 4
"""


def r175_item_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence driver check (`dbs.operators
    .association.item_cooccurrence`): part pairs shipping together in
    >= 2 orders — the A-priori k=2 pass as a basket-co-located
    self-join with a distributed megabasket cap. The DuckDB twin is
    the same relational algebra, so a lost basket, a dropped pair
    orientation, or a support off-by-one breaks the hash."""
    from datalake_backend_spark.operators.association import (
        item_cooccurrence,
    )

    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    return item_cooccurrence(
        li, "l_orderkey", "l_partkey", min_support=2, max_basket_items=1000
    )


R175_SQL = """
WITH items AS (
  SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem
),
ok AS (
  SELECT b FROM items GROUP BY b HAVING COUNT(*) <= 1000
),
kept AS (SELECT items.b, items.i FROM items JOIN ok USING (b))
SELECT a.i AS item_a, z.i AS item_b, CAST(COUNT(*) AS BIGINT) AS n_baskets
FROM kept a JOIN kept z ON a.b = z.b AND a.i < z.i
GROUP BY a.i, z.i HAVING COUNT(*) >= 2
"""


def r176_star_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped snowflake star join: local-supplier revenue by
    nation for one region and one order year — six tables, the
    co-membership predicate c_nationkey = s_nationkey, and money in
    the floor-scaled integer pattern (`scaled_sum`) so the double
    revenue is bit-exact cross-engine. Spark-first plan shape: only
    lineitem/orders are fact-sized; nation/region carry explicit
    broadcast hints (always tiny) while customer/supplier are left to
    Catalyst/AQE — at sf0.1 they broadcast too, at 100 TB they
    shuffle, both correct. The year filter sits on the orders scan
    (pushed to parquet), not after the join."""
    region = table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    nation = table(spark, sf_dir, "nation")
    customer = table(spark, sf_dir, "customer")
    supplier = table(spark, sf_dir, "supplier")
    orders = table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    lineitem = table(spark, sf_dir, "lineitem")
    cdim = (
        customer.join(
            F.broadcast(nation), customer.c_nationkey == nation.n_nationkey
        )
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("c_custkey", "c_nationkey", "n_name")
    )
    j = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(cdim, orders.o_custkey == cdim.c_custkey)
        .join(
            supplier,
            (lineitem.l_suppkey == supplier.s_suppkey)
            & (F.col("c_nationkey") == supplier.s_nationkey),
        )
    )
    return j.groupBy("n_name").agg(
        scaled_sum(
            F.col("l_extendedprice") * (1 - F.col("l_discount")), 6
        ).alias("revenue"),
        F.count("*").alias("n_items"),
    )


R176_SQL = """
SELECT n_name,
  CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 1000000)
           AS BIGINT)) AS DOUBLE) / 1000000 AS revenue,
  CAST(COUNT(*) AS BIGINT) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1997-01-01'
GROUP BY n_name
"""


def r177_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JL random-projection driver check (`dbs.datapipe.similarity
    .random_projection`): every embedding reduced to 4 integer
    coordinates via the arithmetic ±1 sign matrix — pure codegen
    column math, zero shuffles/UDFs. The DuckDB twin recomputes every
    sign from the same m³-mod-prime formula over parallel unnests, so
    an index-origin drift, a sign-formula mismatch, or a floor/scale
    difference breaks the hash on all 4 coordinates."""
    from datalake_backend_spark.datapipe.similarity import random_projection

    emb = table(spark, sf_dir, "embeddings")
    return random_projection(emb, k=4, scale=6).select(
        "vec_id", "label", "y0", "y1", "y2", "y3"
    )


R177_SQL = """
WITH el AS (
  SELECT vec_id, label,
         unnest(embedding) AS e,
         unnest(generate_series(0, len(embedding) - 1)) AS i
  FROM embeddings
),
ej AS (
  -- m reduced mod the prime BEFORE cubing: (m mod p)^3 mod p ==
  -- m^3 mod p, and (p-1)^3 stays inside BIGINT for any dimension
  SELECT vec_id, label, i, e, j,
         ((1009 * i + j + 7) % 1000003) AS m
  FROM el CROSS JOIN (VALUES (0), (1), (2), (3)) AS jt(j)
),
s AS (
  SELECT vec_id, label, j,
    SUM((CASE WHEN (m*m*m) % 1000003 % 2 = 0 THEN 1 ELSE -1 END)
        * CAST(FLOOR(CAST(e AS DOUBLE) * 1000000) AS BIGINT)) AS y
  FROM ej GROUP BY vec_id, label, j
)
SELECT vec_id, label,
  CAST(SUM(CASE WHEN j = 0 THEN y END) AS BIGINT) AS y0,
  CAST(SUM(CASE WHEN j = 1 THEN y END) AS BIGINT) AS y1,
  CAST(SUM(CASE WHEN j = 2 THEN y END) AS BIGINT) AS y2,
  CAST(SUM(CASE WHEN j = 3 THEN y END) AS BIGINT) AS y3
FROM s GROUP BY vec_id, label
"""


def r178_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end entity resolution driver check: sorted-neighborhood
    BLOCKING (r174's operator, window 8 over the name order) →
    Levenshtein ≤ 2 VERIFY (native both engines) → connected-component
    CLUSTERING (q76-family min-label propagation) → one row per
    resolved entity with member count and id checksum. The classic
    merge/purge pipeline composed from audited pieces; the DuckDB twin
    rebuilds it with a single ROW_NUMBER, native levenshtein, and a
    recursive CTE, so a blocking miss, a distance disagreement, or a
    label-propagation bug all break the hash. The names ride through
    the blocking via ``carry_cols`` — the verify stage does NOT
    re-join the base table (two shuffled joins gone). The verify is
    double-bounded: a LOSSLESS length-band prefilter (levenshtein ≥
    |len_a − len_b|, so |Δlen| > 2 can never match) skips the DP
    entirely for most candidates, and the surviving calls use the
    thresholded ``levenshtein(a, b, 2)`` form that abandons a row as
    soon as the running distance exceeds 2 (banded O(len·k) instead
    of O(len²))."""
    from datalake_backend_spark.datapipe.dedup import (
        cluster_near_dups,
        sorted_neighborhood_pairs,
    )

    parts = (
        table(spark, sf_dir, "part")
        .where(F.pmod("p_partkey", F.lit(10)) == 0)
        .select(F.col("p_partkey").alias("doc_id"), F.col("p_name").alias("name"))
    )
    cands = sorted_neighborhood_pairs(
        parts, "name", id_col="doc_id", window=8, carry_cols=["name"]
    )
    band = (
        F.abs(F.length("name_a") - F.length("name_b")) <= 2
    )
    lev_ok = F.levenshtein("name_a", "name_b", 2) >= 0  # -1 = over threshold
    matches = cands.where(band & lev_ok).select("id_a", "id_b")
    ents = cluster_near_dups(matches)
    return ents.groupBy("cluster_id").agg(
        F.count("*").alias("n_members"),
        F.sum("node").alias("id_checksum"),
    )


R178_SQL = """
WITH RECURSIVE p AS (
  SELECT p_partkey AS doc_id, p_name AS name FROM part
  WHERE p_partkey % 10 = 0
),
r AS (
  SELECT doc_id, name,
         ROW_NUMBER() OVER (ORDER BY name, doc_id) AS rnk
  FROM p
),
cand AS (
  SELECT a.doc_id AS id_a, a.name AS na, b.doc_id AS id_b, b.name AS nb
  FROM r a JOIN r b ON b.rnk > a.rnk AND b.rnk - a.rnk < 8
),
pairs AS (SELECT id_a, id_b FROM cand
          WHERE abs(length(na) - length(nb)) <= 2
            AND levenshtein(na, nb) <= 2),
und AS (SELECT id_a AS src, id_b AS dst FROM pairs
        UNION ALL SELECT id_b, id_a FROM pairs),
reach(node, r2) AS (
  SELECT src, src FROM und
  UNION
  SELECT u.src, reach.r2 FROM und u JOIN reach ON u.dst = reach.node
),
lab AS (SELECT node, MIN(r2) AS cluster_id FROM reach GROUP BY node)
SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(SUM(node) AS BIGINT) AS id_checksum
FROM lab GROUP BY cluster_id
"""


def r179_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto-skyline driver check (`dbs.operators.skyline
    .skyline_2d`): orders undominated on (o_totalprice, o_orderdate),
    both maximized — per-x max aggregate, partition-local running-max
    prune (a provable frontier superset), then one ordered sweep over
    the pruned remnant. The DuckDB twin is the same per-price max +
    QUALIFY running-max sweep, so a strictness off-by-one (≥ vs >), a
    tie mishandled at equal prices, or a local prune that drops a
    frontier point all break the hash."""
    from datalake_backend_spark.operators.skyline import skyline_2d

    orders = table(spark, sf_dir, "orders")
    return skyline_2d(orders, "o_totalprice", "o_orderdate").select(
        "o_totalprice", F.unix_micros("o_orderdate").alias("odate_us")
    )


R179_SQL = """
WITH px AS (
  SELECT o_totalprice, MAX(o_orderdate) AS d
  FROM orders GROUP BY o_totalprice
)
SELECT o_totalprice, CAST(epoch_us(d) AS BIGINT) AS odate_us
FROM px
QUALIFY d > COALESCE(MAX(d) OVER (
    ORDER BY o_totalprice DESC
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
  ), TIMESTAMP '0001-01-01')
"""


def r180_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point driver check (`dbs.operators.timeseries
    .cusum_stats`): per event type, the peak upward drift of value
    against its own mean, when it peaked, and where the walk ended.
    The clamped recursion is rewritten as cumsum − prefix-min (two
    window passes, one shuffle); deviations are count-multiplied
    integers, so every statistic is bit-exact cross-engine (bound:
    |R| ≤ n²·v_max·10^scale ≈ 2·10¹³ here, int64-safe to ~50M rows
    per key at these magnitudes). The twin replays the identity in
    DuckDB windows, so a frame off-by-one, a clamp at the wrong end,
    or a tie at the peak resolved differently all break the hash."""
    from datalake_backend_spark.operators.timeseries import cusum_stats

    ev = table(spark, sf_dir, "events")
    return cusum_stats(
        ev, ["event_type"], "ts", "value", scale=2, tiebreak=["event_id"]
    )


R180_SQL = """
WITH s AS (
  SELECT event_type, ts, event_id,
         CAST(FLOOR(value * 100) AS BIGINT) AS v,
         COUNT(*) OVER (PARTITION BY event_type) AS n,
         SUM(CAST(FLOOR(value * 100) AS BIGINT))
           OVER (PARTITION BY event_type) AS t
  FROM events
),
d AS (SELECT *, n * v - t AS dd FROM s),
r AS (
  SELECT *, SUM(dd) OVER (
      PARTITION BY event_type ORDER BY ts, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rr
  FROM d
),
m AS (
  SELECT *, rr - LEAST(CAST(0 AS HUGEINT), MIN(rr) OVER (
      PARTITION BY event_type ORDER BY ts, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS ss
  FROM r
),
p AS (
  SELECT *,
    ROW_NUMBER() OVER (
      PARTITION BY event_type ORDER BY ss DESC, ts, event_id) AS rk,
    ROW_NUMBER() OVER (
      PARTITION BY event_type ORDER BY ts DESC, event_id DESC) AS rl
  FROM m
)
SELECT event_type,
  CAST(MAX(n) AS BIGINT) AS n_obs,
  CAST(MAX(ss) AS BIGINT) AS max_cusum_scaled,
  CAST(MAX(CASE WHEN rk = 1 THEN epoch_us(ts) END) AS BIGINT) AS max_at_us,
  CAST(MAX(CASE WHEN rl = 1 THEN ss END) AS BIGINT) AS final_cusum_scaled
FROM p GROUP BY event_type
"""


def r181_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED experiment-readout driver check (`dbs.operators
    .distributions.cuped_adjusted`): users hashed into two arms
    (user_id % 2), pre-period value sum (ts < 2024-01-16) as the
    covariate, post-period sum as the metric; per arm the raw and
    variance-adjusted means plus the shared θ. Moments are
    floor-scaled DECIMAL integers, the closed form is shape-identical
    doubles — so the twin must land on the same bits, catching a
    moment-order drift, a θ denominator slip, or a per-arm/global
    mean mix-up."""
    from datalake_backend_spark.operators.distributions import cuped_adjusted

    ev = table(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-16").cast("timestamp")
    units = ev.groupBy("user_id").agg(
        F.coalesce(
            F.sum(F.when(F.col("ts") < cutoff, F.col("value"))), F.lit(0.0)
        ).alias("x"),
        F.coalesce(
            F.sum(F.when(F.col("ts") >= cutoff, F.col("value"))), F.lit(0.0)
        ).alias("y"),
    ).withColumn("arm", F.pmod("user_id", F.lit(2)).cast("int"))
    return cuped_adjusted(units, "arm", "x", "y", scale=4)


R181_SQL = """
WITH units AS (
  SELECT user_id,
    COALESCE(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN value END), 0.0) AS x,
    COALESCE(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN value END), 0.0) AS y,
    CAST(user_id % 2 AS INTEGER) AS arm
  FROM events GROUP BY user_id
),
per_arm AS (
  SELECT arm, CAST(COUNT(*) AS BIGINT) AS n,
    SUM(CAST(FLOOR(x * 10000) AS HUGEINT)) AS sx,
    SUM(CAST(FLOOR(y * 10000) AS HUGEINT)) AS sy,
    SUM(CAST(FLOOR(x * y * 10000) AS HUGEINT)) AS sxy,
    SUM(CAST(FLOOR(x * x * 10000) AS HUGEINT)) AS sxx
  FROM units GROUP BY arm
),
gm AS (
  SELECT CAST(SUM(n) AS BIGINT) AS bn,
    CAST(SUM(sx) AS DOUBLE) / 10000 AS gx,
    CAST(SUM(sy) AS DOUBLE) / 10000 AS gy,
    CAST(SUM(sxy) AS DOUBLE) / 10000 AS gxy,
    CAST(SUM(sxx) AS DOUBLE) / 10000 AS gxx
  FROM per_arm
)
SELECT arm, n,
  (CAST(sy AS DOUBLE) / 10000) / n AS mean_y,
  (CAST(sy AS DOUBLE) / 10000) / n
    - ((bn * gxy - gx * gy) / (bn * gxx - gx * gx))
      * ((CAST(sx AS DOUBLE) / 10000) / n - gx / bn) AS mean_y_adj,
  (bn * gxy - gx * gy) / (bn * gxx - gx * gx) AS theta
FROM per_arm, gm
"""


def r182_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov transition-matrix driver check (`dbs.operators.windows
    .markov_transitions`): per-user event sequences ordered by
    (ts, event_id) folded into a global (from, to) transition count
    matrix with `div`-exact scaled probabilities. The twin replays the
    LEAD window and the same integer division, so an ordering drift, a
    dropped last-event edge, or a rounding difference in the
    probability all break the hash."""
    from datalake_backend_spark.operators.windows import markov_transitions

    ev = table(spark, sf_dir, "events")
    return markov_transitions(
        ev, ["user_id"], "ts", "event_type", tiebreak=["event_id"]
    )


R182_SQL = """
WITH steps AS (
  SELECT event_type AS from_state,
         LEAD(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) AS to_state
  FROM events
),
c AS (
  SELECT from_state, to_state, CAST(COUNT(*) AS BIGINT) AS n_transitions
  FROM steps WHERE to_state IS NOT NULL GROUP BY from_state, to_state
),
t AS (
  SELECT from_state, CAST(SUM(n_transitions) AS BIGINT) AS row_total
  FROM c GROUP BY from_state
)
SELECT from_state, to_state, n_transitions,
       CAST((n_transitions * 1000000) // row_total AS BIGINT) AS prob_scaled
FROM c JOIN t USING (from_state)
"""


def r183_ecdf_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ECDF score-calibration driver check (`dbs.operators
    .distributions.ecdf_percentile`): every order's total price mapped
    to its exact percentile under the lineitem price distribution —
    count(ref ≤ v)·10⁶ div |ref| via the two-phase weighted-rank union
    (one range shuffle, no correlated lookups, no one-reducer sort).
    The twin computes the same inclusive rank with a single global
    window, so a tie ordered the wrong way (probe before ref), an
    off-by-one at a partition boundary, or a rounding drift in the
    scaled division all break the hash."""
    from datalake_backend_spark.operators.distributions import (
        ecdf_percentile,
    )

    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    ref = table(spark, sf_dir, "lineitem").select("l_extendedprice")
    return ecdf_percentile(
        orders, "o_totalprice", ref, "l_extendedprice",
        keep_cols=["o_orderkey"],
    )


R183_SQL = """
WITH u AS (
  SELECT l_extendedprice AS v, 1 AS w, NULL AS o_orderkey FROM lineitem
  UNION ALL
  SELECT o_totalprice, 0, o_orderkey FROM orders
),
c AS (
  SELECT *, SUM(w) OVER (
      ORDER BY v, w DESC
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cnt
  FROM u
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nr FROM lineitem)
SELECT o_orderkey, v AS o_totalprice,
       CAST((cnt * 1000000) // nr AS BIGINT) AS pct_scaled
FROM c, n WHERE w = 0
"""


def r184_mp4_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MP4/ISO-BMFF container demux driver check (`dbs.datapipe.mp4`):
    every document becomes a REAL metadata-only mp4 (genuine nested
    box framing — ftyp/moov/mvhd/trak/tkhd/mdia/mdhd/hdlr/stbl/stsd/
    stts — with variant structure by id: mdat BEFORE moov at id%3==0,
    64-bit largesize mdat at id%5==0, version-1 64-bit headers at
    id%11==0), then `mp4_track_stats` demuxes one row per track with
    NO codec decode (mdat is skipped by its size field — the ranged-
    GET-of-moov access pattern at 100 TB). The reference's video
    domains all ingest mp4s (Create_Json_Data/* consume .mp4 inputs);
    this is the container half of that surface. The DuckDB twin
    recomputes every field arithmetically from doc_id, so a walker
    that assumes one fixed layout, misreads a largesize, truncates a
    16.16 width, or sums stts runs wrong breaks the hash."""
    from datalake_backend_spark.datapipe.mp4 import (
        mp4_track_stats,
        synthetic_mp4_table,
    )

    docs = table(spark, sf_dir, "documents")
    return mp4_track_stats(synthetic_mp4_table(docs))


R184_SQL = """
WITH v AS (
  SELECT doc_id AS media_id,
    CASE WHEN doc_id % 2 = 0 THEN 'mp42' ELSE 'isom' END AS brand,
    CAST((123 + doc_id % 1000) * 1000 // (600 * (1 + doc_id % 3))
         AS BIGINT) AS movie_dur_ms,
    CAST(1 AS INTEGER) AS track_id, 'vide' AS handler, 'avc1' AS codec,
    CAST(16 * (1 + doc_id % 4) AS INTEGER) AS width,
    CAST(16 * (1 + doc_id % 3) AS INTEGER) AS height,
    CAST(2 + doc_id % 5 AS BIGINT) AS n_samples,
    CAST(CASE WHEN 2 + doc_id % 5 >= 4 THEN (3 + doc_id % 5) * 1001
         ELSE (2 + doc_id % 5) * 1001 END AS BIGINT) AS sample_dur_sum,
    CAST(30000 AS BIGINT) AS media_timescale
  FROM documents
),
a AS (
  SELECT doc_id AS media_id, 'mp42' AS brand,
    CAST((123 + doc_id % 1000) * 1000 // (600 * (1 + doc_id % 3))
         AS BIGINT) AS movie_dur_ms,
    CAST(2 AS INTEGER) AS track_id, 'soun' AS handler, 'mp4a' AS codec,
    CAST(0 AS INTEGER) AS width, CAST(0 AS INTEGER) AS height,
    CAST(3 + doc_id % 4 AS BIGINT) AS n_samples,
    CAST(CASE WHEN 3 + doc_id % 4 >= 4 THEN (4 + doc_id % 4) * 1024
         ELSE (3 + doc_id % 4) * 1024 END AS BIGINT) AS sample_dur_sum,
    CAST(48000 AS BIGINT) AS media_timescale
  FROM documents WHERE doc_id % 2 = 0
)
SELECT * FROM v UNION ALL SELECT * FROM a
"""


def r185_seasonal_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-decomposition driver check (`dbs.operators.timeseries
    .seasonal_index`): per (event_type, ISO day-of-week), the bucket
    mean of `value` as an exact scaled ratio of the type's grand mean
    — floor-scaled integer sums, truncating `div` means, `div` index.
    ONE partial-aggregable groupBy + a broadcast join of per-key grand
    totals; the DuckDB twin recomputes the same arithmetic over
    isodow (== Spark weekday()+1), so a week-start convention drift,
    a mean rounding difference, or a lost bucket breaks the hash."""
    from datalake_backend_spark.operators.timeseries import seasonal_index

    ev = table(spark, sf_dir, "events")
    return seasonal_index(ev, "ts", "value", keys=["event_type"], period="dow")


R185_SQL = """
WITH b AS (
  SELECT event_type, isodow(ts) AS season,
         COUNT(*) AS n_obs,
         SUM(CAST(FLOOR(value * 10000) AS BIGINT)) AS s
  FROM events GROUP BY 1, 2
),
g AS (SELECT event_type, SUM(n_obs) AS gn, SUM(s) AS gs FROM b GROUP BY 1)
SELECT b.event_type, CAST(b.season AS INTEGER) AS season,
       CAST(n_obs AS BIGINT) AS n_obs,
       CAST(s // n_obs AS BIGINT) AS bucket_mean_scaled,
       CAST(((s // n_obs) * 1000000) // (gs // gn) AS BIGINT)
         AS index_scaled
FROM b JOIN g USING (event_type)
"""


def r186_match_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record-linkage weight-estimation driver check (`dbs.operators
    .linkage.match_weights`): Fellegi-Sunter m/u agreement rates per
    field over sorted-neighborhood candidates on part names — u from
    ALL candidates, m from the rank-gap-1 adjacent subset, every rate
    a truncating scaled `div`. The candidate payloads ride through
    the blocking via `carry_cols` (no re-join), and the estimation is
    ONE conditional-count aggregate + a stack() unpivot. The DuckDB
    twin rebuilds the candidates with ROW_NUMBER and the same integer
    arithmetic, so a blocking drift, an agreement-count miss, or a
    division rounding difference breaks the hash."""
    from datalake_backend_spark.datapipe.dedup import (
        sorted_neighborhood_pairs,
    )
    from datalake_backend_spark.operators.linkage import match_weights

    parts = table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("doc_id"),
        F.col("p_name").alias("name"),
        F.col("p_brand").alias("brand"),
        F.col("p_type").alias("ptype"),
        F.col("p_size").alias("psize"),
    )
    cands = sorted_neighborhood_pairs(
        parts,
        "name",
        id_col="doc_id",
        window=6,
        carry_cols=["brand", "ptype", "psize"],
    )
    return match_weights(cands, ["brand", "ptype", "psize"])


R186_SQL = """
WITH p AS (
  SELECT p_partkey AS id, p_name AS name, p_brand AS brand,
         p_type AS ptype, p_size AS psize
  FROM part
),
r AS (SELECT *, ROW_NUMBER() OVER (ORDER BY name, id) AS rnk FROM p),
cand AS (
  SELECT a.brand AS ba, b.brand AS bb, a.ptype AS ta, b.ptype AS tb,
         a.psize AS sa, b.psize AS sb, (b.rnk - a.rnk = 1) AS strong
  FROM r a JOIN r b ON b.rnk > a.rnk AND b.rnk - a.rnk < 6
),
agg AS (
  SELECT COUNT(*) AS n_pairs,
    SUM(CASE WHEN strong THEN 1 ELSE 0 END) AS n_strong,
    SUM(CASE WHEN ba = bb THEN 1 ELSE 0 END) AS all_brand,
    SUM(CASE WHEN ba = bb AND strong THEN 1 ELSE 0 END) AS str_brand,
    SUM(CASE WHEN ta = tb THEN 1 ELSE 0 END) AS all_ptype,
    SUM(CASE WHEN ta = tb AND strong THEN 1 ELSE 0 END) AS str_ptype,
    SUM(CASE WHEN sa = sb THEN 1 ELSE 0 END) AS all_psize,
    SUM(CASE WHEN sa = sb AND strong THEN 1 ELSE 0 END) AS str_psize
  FROM cand
),
f AS (
  SELECT 'brand' AS field, n_pairs, n_strong,
         all_brand AS n_agree_all, str_brand AS n_agree_strong FROM agg
  UNION ALL
  SELECT 'ptype', n_pairs, n_strong, all_ptype, str_ptype FROM agg
  UNION ALL
  SELECT 'psize', n_pairs, n_strong, all_psize, str_psize FROM agg
)
SELECT field, CAST(n_pairs AS BIGINT) AS n_pairs,
  CAST(n_strong AS BIGINT) AS n_strong,
  CAST((n_agree_all * 1000000) // n_pairs AS BIGINT) AS u_scaled,
  CAST((n_agree_strong * 1000000) // n_strong AS BIGINT) AS m_scaled,
  CAST(((n_agree_strong * 1000000) // n_strong) * 1000000
       // GREATEST((n_agree_all * 1000000) // n_pairs, 1) AS BIGINT)
    AS weight_ratio_scaled
FROM f
"""


def r187_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core peeling driver check (`dbs.operators.graph.kcore_peel`):
    3 fixed peel rounds at k=4 over the SAME silver co-purchase edge
    table q145/q147/r170 read (derive once, read four times) —
    survivors with residual degree. The fixed round budget is the
    defined semantics (pagerank-style unrolled determinism); the
    DuckDB twin unrolls the same 3 keep/filter rounds as chained
    CTEs, so a degree-count drift, an endpoint filter missed on one
    side, or an extra/missing peel round breaks the hash."""
    from datalake_backend_spark.engine import copurchase_edges
    from datalake_backend_spark.operators.graph import kcore_peel

    edges = copurchase_edges(spark, sf_dir)
    return kcore_peel(edges, k=4, rounds=3)


_R187_EDGES = r"""
WITH e0b AS MATERIALIZED (
  SELECT DISTINCT 'c' || o_custkey AS c, 's' || l_suppkey AS s
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
e0 AS MATERIALIZED (
  SELECT c AS src, s AS dst FROM e0b
  UNION ALL
  SELECT s AS src, c AS dst FROM e0b
)"""


def _r187_round(i: int, k: int) -> str:
    return f""",
k{i} AS MATERIALIZED (SELECT src FROM e{i - 1} GROUP BY src HAVING COUNT(*) >= {k}),
e{i} AS MATERIALIZED (
  SELECT e.src, e.dst
  FROM e{i - 1} e
  JOIN k{i} a ON e.src = a.src
  JOIN k{i} b ON e.dst = b.src
)"""


R187_SQL = (
    _R187_EDGES
    + "".join(_r187_round(i, 4) for i in range(1, 4))
    + "\nSELECT src AS node, CAST(COUNT(*) AS BIGINT) AS core_degree"
    + "\nFROM e3 GROUP BY src\n"
)


def r188_xml_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native XML source round-trip driver check (Spark 4 built-in
    `xml` format, both directions): a closed-form projection of
    `documents` is WRITTEN as XML by the distributed writer
    (rowTag/rootTag), then READ BACK with a DECLARED schema (no
    sampling inference — inference is a second full scan and a
    nondeterminism hazard at 100 TB) and aggregated per category.
    The DuckDB twin recomputes the aggregate straight from the
    arithmetic, so a row lost to tag framing, a type coerced wrong,
    or a writer/reader escaping mismatch breaks the hash. The fixture
    is derived once (`sources.derived.derive_once`)."""

    def build(base: str) -> None:
        (
            table(spark, sf_dir, "documents")
            .select(
                F.col("doc_id"),
                F.pmod("doc_id", F.lit(5)).cast("int").alias("cat"),
                F.pmod(F.col("doc_id") * 7, F.lit(1000)).alias("val"),
            )
            .write.format("xml")
            .option("rowTag", "rec")
            .option("rootTag", "recs")
            .save(os.path.join(base, "data"))
        )

    data_dir = os.path.join(derive_once(sf_dir, "r188_xml", build), "data")
    recs = (
        spark.read.format("xml")
        .option("rowTag", "rec")
        .schema("doc_id bigint, cat int, val bigint")
        .load(data_dir)
    )
    return recs.groupBy("cat").agg(
        F.count("*").alias("n_rows"),
        F.sum("val").alias("sum_val"),
        F.sum("doc_id").alias("id_checksum"),
    )


R188_SQL = """
SELECT CAST(doc_id % 5 AS INTEGER) AS cat,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM((doc_id * 7) % 1000) AS BIGINT) AS sum_val,
       CAST(SUM(doc_id) AS BIGINT) AS id_checksum
FROM documents GROUP BY 1
"""


def r189_sequence_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-pattern matching driver check (MATCH_RECOGNIZE-lite):
    each user's event history collapses to an ORDERED journey string
    (one initial per event — 's'ignup/'c'lick/'e'rror/'v'iew/
    'p'urchase, all distinct), then plain regexp/position machinery
    answers the classic behavioral questions: did signup ever lead to
    a purchase (`s.*p`), and where is the first purchase. The order
    is pinned by (ts, event_id) inside `array_sort` over collected
    structs — a deterministic function of the data, independent of
    shuffle order — so the DuckDB twin's `STRING_AGG(... ORDER BY ts,
    event_id)` must reproduce every journey byte-for-byte; any
    nondeterministic collect, tie-break drift, or off-by-one in the
    position breaks the hash. Scale shape: ONE groupBy(user) with a
    map-side-combinable collect, per-row string ops in codegen — no
    window over the full event stream, no self-join."""
    ev = table(spark, sf_dir, "events").select(
        "user_id",
        F.struct("ts", "event_id", F.substring("event_type", 1, 1).alias("i"))
        .alias("e"),
    )
    j = ev.groupBy("user_id").agg(
        F.array_sort(F.collect_list("e")).alias("a")
    )
    return j.select(
        "user_id",
        F.concat_ws("", F.expr("transform(a, x -> x.i)")).alias("journey"),
        F.size("a").alias("n_events"),
        F.expr("a[0].i = 's'").alias("starts_signup"),
    ).select(
        "user_id",
        "journey",
        "n_events",
        "starts_signup",
        F.col("journey").rlike("s.*p").alias("has_funnel"),
        F.locate("p", F.col("journey")).cast("int").alias("first_p_pos"),
    )


R189_SQL = """
WITH j AS (
  SELECT user_id,
         STRING_AGG(substr(event_type, 1, 1), '' ORDER BY ts, event_id)
           AS journey,
         CAST(COUNT(*) AS INTEGER) AS n_events
  FROM events GROUP BY user_id
)
SELECT user_id, journey, n_events,
       substr(journey, 1, 1) = 's' AS starts_signup,
       regexp_matches(journey, 's.*p') AS has_funnel,
       CAST(COALESCE(POSITION('p' IN journey), 0) AS INTEGER)
         AS first_p_pos
FROM j
"""


def r190_schema_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read driver check (parquet mergeSchema): two
    batches of the same logical table land with DIFFERENT physical
    schemas — v1 (doc_id, lang), v2 adds an `extra` column — and a
    single mergeSchema read must surface the union schema with NULLs
    where v1 files have no column, the additive-evolution contract a
    lakehouse ingests under daily (new producers add fields; old
    files stay valid). Aggregated per lang against an arithmetic
    twin, so a dropped batch, a column misaligned by position instead
    of name, or a NULL-fill drift breaks the hash. The fixture is
    derived once; the two batches are written by Spark itself (append
    with a wider schema)."""

    def build(base: str) -> None:
        data_dir = os.path.join(base, "data")
        docs = table(spark, sf_dir, "documents")
        (
            docs.where(F.pmod("doc_id", F.lit(2)) == 1)
            .select("doc_id", "lang")
            .write.parquet(data_dir, mode="overwrite")
        )
        (
            docs.where(F.pmod("doc_id", F.lit(2)) == 0)
            .select("doc_id", "lang", (F.col("doc_id") * 3).alias("extra"))
            .write.parquet(data_dir, mode="append")
        )

    data_dir = os.path.join(derive_once(sf_dir, "r190_sm", build), "data")
    merged = spark.read.option("mergeSchema", "true").parquet(data_dir)
    return merged.groupBy("lang").agg(
        F.count("*").alias("n_rows"),
        F.count("extra").alias("n_with_extra"),
        F.sum(F.coalesce(F.col("extra"), F.lit(0))).alias("extra_sum"),
    )


R190_SQL = """
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_with_extra,
       CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN doc_id * 3 ELSE 0 END)
         AS BIGINT) AS extra_sum
FROM documents GROUP BY lang
"""


def r191_quality_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nucleus-style curation driver check (`dbs.datapipe.sampling
    .quality_budget_keep`): per event_type, keep the highest-value
    rows until they hold 80% of the type's floor-scaled score mass —
    the top-p analogue for corpus curation (spend the quality budget
    on the best documents, drop the tail). Kept set decided by the
    integer cross-multiplied comparison 100·cum_before < 80·total
    over the deterministic (value desc, event_id) order; the DuckDB
    twin is the same window cumsum, so an ordering tie-break drift,
    an off-by-one at the budget boundary, or a scale mismatch breaks
    the hash."""
    from datalake_backend_spark.datapipe.sampling import quality_budget_keep

    ev = table(spark, sf_dir, "events").select(
        "event_type", "event_id", "value"
    )
    return quality_budget_keep(
        ev, "event_type", "value", "event_id", budget_pct=80
    )


R191_SQL = """
WITH d AS (
  SELECT event_type, event_id, value,
         CAST(FLOOR(value * 10000) AS BIGINT) AS s
  FROM events
),
c AS (
  SELECT event_type, event_id, value,
    COALESCE(SUM(s) OVER (
        PARTITION BY event_type ORDER BY value DESC, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb,
    SUM(s) OVER (PARTITION BY event_type) AS tot
  FROM d
)
SELECT event_type, event_id, value FROM c WHERE cb * 100 < 80 * tot
"""


def r192_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitmap-index distinct driver check: exact distinct users per
    event_type computed the roaring-bitmap way — user ids bucket into
    32-bit words (``bucket = id div 32``, ``bit = 1 << (id mod
    32)``; 32 not 64 because DuckDB's BIGINT ``1 << 63`` overflows
    the sign bit and errors, so bit 63 is unusable in the twin),
    a ``bit_or`` aggregate folds each bucket's word, and
    ``bit_count`` over the words sums to the EXACT distinct count —
    the OLAP-serving structure that makes COUNT(DISTINCT) mergeable
    across partitions and time (unlike the raw distinct, the words
    union with OR). ``bit_xor`` of the words is the order-independent
    checksum (an overflow-free alternative to SUM). The DuckDB twin
    builds the same words, so a shift off-by-one, a signedness slip,
    or a bucket-boundary error breaks the hash."""
    ev = table(spark, sf_dir, "events")
    words = (
        ev.selectExpr(
            "event_type",
            "user_id div 32 AS bucket",
            "shiftleft(1L, CAST(pmod(user_id, 32) AS INT)) AS bit",
        )
        .groupBy("event_type", "bucket")
        .agg(F.expr("bit_or(bit)").alias("word"))
    )
    return words.groupBy("event_type").agg(
        F.count("*").alias("n_buckets"),
        F.expr("CAST(SUM(bit_count(word)) AS BIGINT)").alias(
            "n_distinct_users"
        ),
        F.expr("bit_xor(word)").alias("word_xor"),
    )


R192_SQL = """
WITH w AS (
  SELECT event_type, user_id // 32 AS bucket,
         bit_or(1::BIGINT << CAST(user_id % 32 AS INTEGER)) AS word
  FROM events GROUP BY 1, 2
)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_buckets,
       CAST(SUM(bit_count(word)) AS BIGINT) AS n_distinct_users,
       CAST(bit_xor(word) AS BIGINT) AS word_xor
FROM w GROUP BY event_type
"""


def r193_decayed_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decayed trending-score driver check (`dbs.operators
    .timeseries.decayed_sum`): half-life-per-day recency weighting
    computed EXACTLY — each observation contributes its floor-scaled
    value right-shifted by its age in days (shift IS division by
    2^age on non-negative ints), so the "what is hot now" score is a
    bit-exact integer both engines must agree on, with none of the
    float-pow drift of value·0.5^age. Anchor pinned to 2024-02-01 so
    the result is a pure function of the data. The twin recomputes
    the same shift arithmetic, so an age off-by-one, a clamp miss, or
    a scale drift breaks the hash."""
    from datalake_backend_spark.operators.timeseries import decayed_sum

    ev = table(spark, sf_dir, "events")
    return decayed_sum(ev, "ts", "value", keys=["event_type"])


R193_SQL = """
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_obs,
  CAST(SUM(
    CAST(FLOOR(value * 10000) AS BIGINT)
    >> LEAST(GREATEST(datediff('day', CAST(ts AS DATE),
                               DATE '2024-02-01'), 0), 62)
  ) AS BIGINT) AS decayed_scaled
FROM events GROUP BY event_type
"""


def r194_ab_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch two-sample t-statistic driver check (`dbs.operators
    .distributions.welch_ttest`): per event_type, the A/B split by
    user parity compared with the r159/r123 integer-moments recipe —
    conditional floor-scaled sums per arm, then ONE closed-form float
    combination whose expression shape is IDENTICAL in the twin, so
    every mean, and the t statistic itself, compares BIT-exactly (no
    tolerance). The experiment-analysis primitive next to r181's
    CUPED variance reduction."""
    from datalake_backend_spark.operators.distributions import welch_ttest

    ev = table(spark, sf_dir, "events").withColumn(
        "arm", F.pmod("user_id", F.lit(2)) == 0
    )
    return welch_ttest(ev, "arm", "value", keys=["event_type"])


R194_SQL = """
WITH m AS (
  SELECT event_type,
    SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS n_a,
    SUM(CASE WHEN user_id % 2 <> 0 THEN 1 ELSE 0 END) AS n_b,
    SUM(CASE WHEN user_id % 2 = 0
        THEN CAST(FLOOR(value * 10000) AS HUGEINT) ELSE 0 END) AS sa0,
    SUM(CASE WHEN user_id % 2 <> 0
        THEN CAST(FLOOR(value * 10000) AS HUGEINT) ELSE 0 END) AS sb0,
    SUM(CASE WHEN user_id % 2 = 0
        THEN CAST(FLOOR(value * 10000) AS HUGEINT)
             * CAST(FLOOR(value * 10000) AS HUGEINT) ELSE 0 END) AS saa0,
    SUM(CASE WHEN user_id % 2 <> 0
        THEN CAST(FLOOR(value * 10000) AS HUGEINT)
             * CAST(FLOOR(value * 10000) AS HUGEINT) ELSE 0 END) AS sbb0
  FROM events GROUP BY event_type
),
d AS (
  SELECT event_type,
    CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
    CAST(sa0 AS DOUBLE) / 10000.0 AS sa,
    CAST(sb0 AS DOUBLE) / 10000.0 AS sb,
    CAST(saa0 AS DOUBLE) / (10000.0 * 10000.0) AS saa,
    CAST(sbb0 AS DOUBLE) / (10000.0 * 10000.0) AS sbb,
    CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb
  FROM m
)
SELECT event_type, n_a, n_b,
  CASE WHEN n_a >= 1 THEN sa / na END AS mean_a,
  CASE WHEN n_b >= 1 THEN sb / nb END AS mean_b,
  CASE WHEN n_a >= 2 AND n_b >= 2 THEN
    (sa / na - sb / nb) / sqrt(
      ((saa - sa * sa / na) / (na - 1)) / na
      + ((sbb - sb * sb / nb) / (nb - 1)) / nb
    )
  END AS t_stat
FROM d
"""


def r195_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized-mean driver check (`dbs.operators.distributions
    .winsorized_mean`): per event_type, values clamp to the exact
    [p5, p95] rank-based order statistics ((value, event_id) total
    order; integer rank formulas) before a floor-scaled `div` mean —
    the robust metric that kills outliers without dropping rows. The
    twin rebuilds the same ranks, bounds, clamps and integer mean, so
    a rank formula off-by-one, a tie-break drift, or a clamp-side
    error breaks the hash."""
    from datalake_backend_spark.operators.distributions import (
        winsorized_mean,
    )

    ev = table(spark, sf_dir, "events")
    return winsorized_mean(ev, "value", "event_id", keys=["event_type"])


R195_SQL = """
WITH d AS (
  SELECT event_type, CAST(FLOOR(value * 10000) AS BIGINT) AS s,
         CAST(ROW_NUMBER() OVER (
             PARTITION BY event_type ORDER BY value, event_id
         ) AS BIGINT) AS r
  FROM events
),
b AS (SELECT event_type, COUNT(*) AS n FROM d GROUP BY 1),
l AS (
  SELECT d.event_type,
    MAX(CASE WHEN r = GREATEST(1, 5 * n // 100) THEN s END) AS lo,
    MAX(CASE WHEN r = LEAST(n, 95 * n // 100 + 1) THEN s END) AS hi
  FROM d JOIN b USING (event_type) GROUP BY 1
)
SELECT d.event_type, CAST(MAX(n) AS BIGINT) AS n,
       CAST(SUM(GREATEST(LEAST(s, hi), lo)) // MAX(n) AS BIGINT)
         AS win_mean_scaled
FROM d JOIN b USING (event_type) JOIN l USING (event_type)
GROUP BY 1
"""


def r196_radius_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial radius-join driver check (`dbs.core.geometry
    .radius_join`): supplier↔customer pairs within integer Euclidean
    distance 50000 on closed-form synthetic coordinates (multiplicative
    -hash points in [0, 10⁶)²) — grid blocking with cell width ==
    radius (the 9-cell neighborhood provably covers the disk), then
    the exact integer refine dx²+dy² ≤ r², never a cross join. The
    DuckDB twin is the BRUTE-FORCE quadratic filter — a genuinely
    different algorithm that must produce the identical pair set, so
    a cell off-by-one at a boundary, a missed neighbor cell, or a
    strictness drift breaks the hash."""
    from datalake_backend_spark.core.geometry import radius_join

    def coords(df, key):
        return df.select(
            F.col(key),
            F.expr(f"({key} * 2654435761L) % 1000000").alias("x"),
            F.expr(f"({key} * 40503L) % 1000000").alias("y"),
        )

    supp = coords(table(spark, sf_dir, "supplier"), "s_suppkey")
    cust = coords(
        table(spark, sf_dir, "customer"), "c_custkey"
    ).withColumnsRenamed({"x": "cx", "y": "cy"})
    return radius_join(
        supp, cust, radius=50000, left_xy=("x", "y"), right_xy=("cx", "cy")
    ).select("s_suppkey", "c_custkey", "dist2")


R196_SQL = """
WITH s AS (
  SELECT s_suppkey, (s_suppkey * 2654435761) % 1000000 AS x,
         (s_suppkey * 40503) % 1000000 AS y
  FROM supplier
),
c AS (
  SELECT c_custkey, (c_custkey * 2654435761) % 1000000 AS x,
         (c_custkey * 40503) % 1000000 AS y
  FROM customer
)
SELECT s_suppkey, c_custkey,
       CAST((s.x - c.x) * (s.x - c.x) + (s.y - c.y) * (s.y - c.y)
            AS BIGINT) AS dist2
FROM s, c
WHERE (s.x - c.x) * (s.x - c.x) + (s.y - c.y) * (s.y - c.y)
      <= CAST(50000 AS BIGINT) * 50000
"""


def r197_association_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket lift driver check (`dbs.operators.association
    .association_lift`): r175's supported pairs scored by how much
    more often they co-occur than independence predicts — the exact
    scaled integer ``n_ab·N·10⁶ div (n_a·n_b)`` (PMI's argument; the
    log transform is the consumer's). Item supports and the basket
    total come from the UNCAPPED deduped frame (the cap only guards
    the quadratic pair pass); the twin recomputes both, so a support
    taken from the capped frame, a basket total miscounted, or a
    division rounding drift breaks the hash."""
    from datalake_backend_spark.operators.association import (
        association_lift,
    )

    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    return association_lift(
        li, "l_orderkey", "l_partkey", min_support=2, max_basket_items=1000
    )


R197_SQL = """
WITH items AS (
  SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem
),
ok AS (
  SELECT b FROM items GROUP BY b HAVING COUNT(*) <= 1000
),
kept AS (SELECT items.b, items.i FROM items JOIN ok USING (b)),
pairs AS (
  SELECT a.i AS item_a, z.i AS item_b, COUNT(*) AS n_ab
  FROM kept a JOIN kept z ON a.b = z.b AND a.i < z.i
  GROUP BY a.i, z.i HAVING COUNT(*) >= 2
),
supp AS (SELECT i, COUNT(*) AS n_item FROM items GROUP BY i),
tot AS (SELECT COUNT(DISTINCT b) AS n_total FROM items)
SELECT item_a, item_b, CAST(n_ab AS BIGINT) AS n_baskets,
       CAST((n_ab * n_total * 1000000) // (sa.n_item * sb.n_item)
            AS BIGINT) AS lift_scaled
FROM pairs
JOIN supp sa ON pairs.item_a = sa.i
JOIN supp sb ON pairs.item_b = sb.i
CROSS JOIN tot
"""


def r198_fk_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table referential-integrity audit: for each foreign-key
    relationship (orders→customer, lineitem→orders, lineitem→part,
    lineitem→supplier), the child row count, the orphan count (child
    keys with no parent — left ANTI join, the scalable containment
    check), and the scaled orphan rate — the first audit a lakehouse
    runs after every ingest, and the cross-TABLE complement of q114's
    per-table constraint rules. Each relationship is one anti-join
    aggregate; the four 1-row results union driver-free. The twin
    recomputes with NOT IN subqueries, so a lost child row, a
    miscounted orphan, or a rate rounding drift breaks the hash."""
    checks = [
        ("orders.o_custkey->customer", "orders", "o_custkey",
         "customer", "c_custkey"),
        ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey",
         "orders", "o_orderkey"),
        ("lineitem.l_partkey->part", "lineitem", "l_partkey",
         "part", "p_partkey"),
        ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey",
         "supplier", "s_suppkey"),
    ]
    outs = []
    for name, child_t, fk, parent_t, pk in checks:
        child = table(spark, sf_dir, child_t).select(F.col(fk).alias("_k"))
        parent = table(spark, sf_dir, parent_t).select(
            F.col(pk).alias("_k")
        ).distinct()
        orphans = child.join(parent, "_k", "left_anti")
        outs.append(
            child.agg(F.count("*").alias("n_child")).crossJoin(
                orphans.agg(F.count("*").alias("n_orphans"))
            ).select(
                F.lit(name).alias("fk"),
                "n_child",
                "n_orphans",
                F.expr("n_orphans * 1000000L div n_child").alias(
                    "orphan_rate_scaled"
                ),
            )
        )
    result = outs[0]
    for o in outs[1:]:
        result = result.unionByName(o)
    return result


R198_SQL = """
-- NOT EXISTS (not NOT IN) to match the Spark side's left-anti join
-- exactly when keys are NULL: NOT IN over a set containing NULL
-- yields no-match for every row, while an anti-join treats a NULL
-- child key as an orphan.
SELECT 'orders.o_custkey->customer' AS fk,
  CAST(COUNT(*) AS BIGINT) AS n_child,
  CAST(SUM(CASE WHEN NOT EXISTS (
      SELECT 1 FROM customer WHERE c_custkey = o_custkey)
      THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans,
  CAST(SUM(CASE WHEN NOT EXISTS (
      SELECT 1 FROM customer WHERE c_custkey = o_custkey)
      THEN 1 ELSE 0 END) * 1000000 // COUNT(*) AS BIGINT)
    AS orphan_rate_scaled
FROM orders
UNION ALL
SELECT 'lineitem.l_orderkey->orders',
  CAST(COUNT(*) AS BIGINT),
  CAST(SUM(CASE WHEN NOT EXISTS (
      SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)
      THEN 1 ELSE 0 END) AS BIGINT),
  CAST(SUM(CASE WHEN NOT EXISTS (
      SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)
      THEN 1 ELSE 0 END) * 1000000 // COUNT(*) AS BIGINT)
FROM lineitem
UNION ALL
SELECT 'lineitem.l_partkey->part',
  CAST(COUNT(*) AS BIGINT),
  CAST(SUM(CASE WHEN NOT EXISTS (
      SELECT 1 FROM part WHERE p_partkey = l_partkey)
      THEN 1 ELSE 0 END) AS BIGINT),
  CAST(SUM(CASE WHEN NOT EXISTS (
      SELECT 1 FROM part WHERE p_partkey = l_partkey)
      THEN 1 ELSE 0 END) * 1000000 // COUNT(*) AS BIGINT)
FROM lineitem
UNION ALL
SELECT 'lineitem.l_suppkey->supplier',
  CAST(COUNT(*) AS BIGINT),
  CAST(SUM(CASE WHEN NOT EXISTS (
      SELECT 1 FROM supplier WHERE s_suppkey = l_suppkey)
      THEN 1 ELSE 0 END) AS BIGINT),
  CAST(SUM(CASE WHEN NOT EXISTS (
      SELECT 1 FROM supplier WHERE s_suppkey = l_suppkey)
      THEN 1 ELSE 0 END) * 1000000 // COUNT(*) AS BIGINT)
FROM lineitem
"""


def r199_deadline_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deadline-funnel driver check: per signed-up user, did a
    purchase land within 7 DAYS of the FIRST signup — conversion with
    a deadline, the funnel question r86's unordered cascade and
    r189's order-only regexp cannot answer (both ignore elapsed
    time). Exact microsecond timestamps (`unix_micros`): first signup,
    first qualifying purchase (NULL outside the window), and the
    boolean verdict; one conditional-aggregate pass per user, no
    self-join — the purchase-after-signup predicate folds into a
    conditional MIN. The twin recomputes with the same micro
    arithmetic, so an inclusive/exclusive boundary drift or a
    first-vs-any signup mix-up breaks the hash."""
    ev = table(spark, sf_dir, "events")
    per_user = (
        ev.groupBy("user_id")
        .agg(
            F.min(
                F.when(
                    F.col("event_type") == "signup",
                    F.unix_micros("ts"),
                )
            ).alias("signup_us"),
        )
        .where(F.col("signup_us").isNotNull())
    )
    purch = ev.where(F.col("event_type") == "purchase").select(
        "user_id", F.unix_micros("ts").alias("_pus")
    )
    window_us = 7 * 86_400_000_000
    joined = per_user.join(purch, "user_id", "left").groupBy(
        "user_id", "signup_us"
    ).agg(
        F.min(
            F.when(
                (F.col("_pus") >= F.col("signup_us"))
                & (F.col("_pus") <= F.col("signup_us") + window_us),
                F.col("_pus"),
            )
        ).alias("first_conv_us")
    )
    return joined.select(
        "user_id",
        "signup_us",
        "first_conv_us",
        F.col("first_conv_us").isNotNull().alias("converted_7d"),
    )


R199_SQL = """
WITH su AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END)
           AS signup_us
  FROM events GROUP BY user_id
  HAVING MIN(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END)
         IS NOT NULL
),
p AS (
  SELECT user_id, epoch_us(ts) AS pus FROM events
  WHERE event_type = 'purchase'
)
SELECT su.user_id, CAST(signup_us AS BIGINT) AS signup_us,
  CAST(MIN(CASE WHEN pus >= signup_us
            AND pus <= signup_us + 7 * 86400000000
            THEN pus END) AS BIGINT) AS first_conv_us,
  MIN(CASE WHEN pus >= signup_us
       AND pus <= signup_us + 7 * 86400000000
       THEN pus END) IS NOT NULL AS converted_7d
FROM su LEFT JOIN p ON su.user_id = p.user_id
GROUP BY su.user_id, signup_us
"""


# --- round-11 additions (r200-r204) ---------------------------------------


def r200_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation driver check (`dbs.operators.ranking
    .rfm_segments`): purchase events fold to per-user recency /
    frequency / monetary integers, then each metric gets an exact
    NTILE(5) score over a deterministic (metric, user) order. The
    engine computes NTILE with the two-phase global rank + the
    SQL-standard closed form (first `count mod n` buckets take the
    extra row) — never an unpartitioned data window — while the DuckDB
    twin uses NATIVE `NTILE()`, so the distributed closed form is
    value-checked against the SQL standard itself: an off-by-one in
    the fat-bucket cut, a rank-phase drift, or a tie-break slip breaks
    the hash."""
    from datalake_backend_spark.operators.ranking import rfm_segments

    ev = table(spark, sf_dir, "events")
    return rfm_segments(
        ev, purchase_filter=F.col("event_type") == "purchase"
    )


R200_SQL = """
WITH p AS (
  SELECT user_id, epoch_us(ts) AS us,
         CAST(FLOOR(value * 10000) AS BIGINT) AS v
  FROM events WHERE event_type = 'purchase'
),
u AS (
  SELECT user_id,
         (SELECT MAX(us) FROM p) - MAX(us) AS recency_us,
         CAST(COUNT(*) AS BIGINT) AS frequency,
         CAST(SUM(v) AS BIGINT) AS monetary_scaled
  FROM p GROUP BY user_id
),
s AS (
  SELECT *,
    NTILE(5) OVER (ORDER BY recency_us, user_id) AS r_score,
    NTILE(5) OVER (ORDER BY frequency DESC, user_id) AS f_score,
    NTILE(5) OVER (ORDER BY monetary_scaled DESC, user_id) AS m_score
  FROM u
)
SELECT user_id, recency_us, frequency, monetary_scaled,
       CAST(r_score AS BIGINT) AS r_score,
       CAST(f_score AS BIGINT) AS f_score,
       CAST(m_score AS BIGINT) AS m_score,
       CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR)
         || CAST(m_score AS VARCHAR) AS segment
FROM s
"""


def r201_cluster_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster canonicalization driver check (`dbs.datapipe
    .dedup.cluster_keep_best`): q76's MinHash→connected-components
    clusters, then ONE representative per cluster — highest n_chars,
    smallest doc_id on ties — with singletons keeping themselves (the
    left-join coalesce). This is the curation step that turns a
    near-dup REPORT into an actual keep/drop decision. The twin
    rebuilds clusters with the recursive CTE and picks via
    ROW_NUMBER(ORDER BY n_chars DESC, doc_id), so a tie-break flip, a
    lost singleton, or a wrong-member drop breaks the hash."""
    from datalake_backend_spark.datapipe.dedup import (
        cluster_keep_best,
        cluster_near_dups,
        near_dup_minhash,
    )

    docs = table(spark, sf_dir, "documents").where(F.col("doc_id") < 400)
    pairs = near_dup_minhash(docs, n=1, threshold=0.95, k=64, bands=16)
    clusters = cluster_near_dups(pairs)
    return cluster_keep_best(docs, clusters, "n_chars")


R201_SQL = r"""
WITH RECURSIVE t AS (
  SELECT doc_id, list_distinct(regexp_split_to_array(trim(text), '\s+')) AS toks
  FROM documents WHERE doc_id < 400
),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM t a JOIN t b ON a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
        / len(list_distinct(list_concat(a.toks, b.toks))) >= 0.95
),
und AS (SELECT id_a AS src, id_b AS dst FROM pairs
        UNION ALL SELECT id_b, id_a FROM pairs),
reach(node, r) AS (
  SELECT src, src FROM und
  UNION
  SELECT u.src, reach.r FROM und u JOIN reach ON u.dst = reach.node
),
lab AS (SELECT node, MIN(r) AS cluster_id FROM reach GROUP BY node),
alld AS (
  SELECT d.doc_id, COALESCE(l.cluster_id, d.doc_id) AS cluster_id,
         d.n_chars
  FROM (SELECT doc_id, n_chars FROM documents WHERE doc_id < 400) d
  LEFT JOIN lab l ON d.doc_id = l.node
),
rk AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id
  ) AS rn,
  COUNT(*) OVER (PARTITION BY cluster_id) AS n_members,
  MAX(n_chars) OVER (PARTITION BY cluster_id) AS best_score
  FROM alld
)
SELECT cluster_id, CAST(n_members AS BIGINT) AS n_members,
       doc_id AS kept_id, CAST(best_score AS BIGINT) AS best_score
FROM rk WHERE rn = 1
"""


def r202_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit profile driver check (`dbs.operators
    .distributions.benford_profile`): leading-significant-digit counts
    and permille rates of o_totalprice — the fraud / data-quality
    screen. The digit comes from the BIGINT decimal rendering of the
    cent-scaled value, NEVER floor(log10(v)) (log10 of exact powers of
    ten rounds DOWN in some engines and the digit drifts). On this
    uniform synthetic column the profile is decisively non-Benford —
    which is exactly what the screen is for. The twin re-extracts the
    digit from the same string form, so a scaling slip, a sign leak,
    or a permille rounding drift breaks the hash."""
    from datalake_backend_spark.operators.distributions import (
        benford_profile,
    )

    return benford_profile(table(spark, sf_dir, "orders"), "o_totalprice")


R202_SQL = """
WITH d AS (
  SELECT CAST(substr(CAST(CAST(FLOOR(o_totalprice * 100) AS BIGINT)
                          AS VARCHAR), 1, 1) AS INT) AS digit
  FROM orders WHERE o_totalprice > 0
),
c AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n_values FROM d GROUP BY digit),
t AS (SELECT SUM(n_values) AS tot FROM c)
SELECT digit, n_values,
       CAST(n_values * 1000 // tot AS BIGINT) AS rate_permille
FROM c, t
"""


def r203_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative-reach driver check (`dbs.operators.timeseries
    .running_distinct`): exact distinct users seen UP TO each day, per
    event type — the DAU/reach curve COUNT(DISTINCT) cannot answer
    incrementally because distinct counts don't merge. The engine uses
    r192's mergeable 32-bit bitmap words (one groupBy to (type, day,
    bucket) words, running bit_or over metadata-sized bucket
    partitions, bit_count deltas summed per day); the twin computes
    the SAME numbers by the first-seen-day formulation — two different
    algorithms, one answer, so a word-boundary error, a delta
    double-count, or a day-bucketing drift breaks the hash."""
    from datalake_backend_spark.operators.timeseries import (
        running_distinct,
    )

    ev = table(spark, sf_dir, "events")
    return running_distinct(ev, "ts", "user_id", keys=["event_type"])


R203_SQL = """
WITH fd AS (
  SELECT event_type, user_id,
         MIN(epoch_us(ts) // 86400000000) AS day
  FROM events GROUP BY 1, 2
),
nd AS (SELECT event_type, day, COUNT(*) AS n_new FROM fd GROUP BY 1, 2),
days AS (
  SELECT DISTINCT event_type,
         epoch_us(ts) // 86400000000 AS day
  FROM events
),
j AS (
  SELECT d.event_type, d.day, COALESCE(n.n_new, 0) AS n_new
  FROM days d LEFT JOIN nd n
    ON d.event_type = n.event_type AND d.day = n.day
)
SELECT event_type, CAST(day AS BIGINT) AS day,
       CAST(n_new AS BIGINT) AS n_new_ids,
       CAST(SUM(n_new) OVER (
         PARTITION BY event_type ORDER BY day
       ) AS BIGINT) AS n_distinct_cum
FROM j
"""


def r204_moment_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-shape driver check (`dbs.operators.distributions
    .moment_profile`): per-event-type skewness and excess kurtosis
    from floor-scaled integer power sums s1..s4 (order-independent
    DECIMAL accumulation) combined in ONE closed-form float expression
    whose shape is IDENTICAL in the twin — so both shape statistics
    compare BIT-exactly (the r159/r194 recipe, one moment order
    higher). The exponential synthetic values make skewness ≈ 2 and
    kurtosis ≈ 6, so a moment-order slip is numerically loud."""
    from datalake_backend_spark.operators.distributions import (
        moment_profile,
    )

    ev = table(spark, sf_dir, "events")
    return moment_profile(ev, "value", keys=["event_type"])


R204_SQL = """
WITH m AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_obs,
    SUM(CAST(FLOOR(value * 10000) AS HUGEINT)) AS s1i,
    SUM(CAST(FLOOR(value * 10000) AS HUGEINT)
      * CAST(FLOOR(value * 10000) AS HUGEINT)) AS s2i,
    SUM(CAST(FLOOR(value * 10000) AS HUGEINT)
      * CAST(FLOOR(value * 10000) AS HUGEINT)
      * CAST(FLOOR(value * 10000) AS HUGEINT)) AS s3i,
    SUM(CAST(FLOOR(value * 10000) AS HUGEINT)
      * CAST(FLOOR(value * 10000) AS HUGEINT)
      * CAST(FLOOR(value * 10000) AS HUGEINT)
      * CAST(FLOOR(value * 10000) AS HUGEINT)) AS s4i
  FROM events GROUP BY event_type
),
d AS (
  SELECT event_type, n_obs, CAST(n_obs AS DOUBLE) AS n,
    CAST(s1i AS DOUBLE) / 10000.0 AS s1,
    CAST(s2i AS DOUBLE) / 100000000.0 AS s2,
    CAST(s3i AS DOUBLE) / 1000000000000.0 AS s3,
    CAST(s4i AS DOUBLE) / 10000000000000000.0 AS s4
  FROM m
),
e AS (
  SELECT event_type, n_obs, n, s1 / n AS mean, s2, s3, s4 FROM d
),
f AS (
  SELECT event_type, n_obs, mean,
    s2 / n - mean * mean AS m2,
    s3 / n - 3 * mean * s2 / n + 2 * mean * mean * mean AS m3,
    s4 / n - 4 * mean * s3 / n + 6 * mean * mean * s2 / n
      - 3 * mean * mean * mean * mean AS m4
  FROM e
)
SELECT event_type, n_obs, mean,
  CASE WHEN n_obs >= 2 AND m2 > 0 THEN m2 END AS m2,
  CASE WHEN n_obs >= 2 AND m2 > 0
       THEN m3 / sqrt(m2 * m2 * m2) END AS skewness,
  CASE WHEN n_obs >= 2 AND m2 > 0
       THEN m4 / (m2 * m2) - 3 END AS kurtosis_excess
FROM f
"""


# --- round-11 additions, batch 2 (r205-r212) -------------------------------


def r205_tree_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointer-jumping hierarchy flattening driver check (`dbs
    .operators.graph.pointer_jump_roots`): customers form a 10-ary
    forest (parent = custkey div 10, single-digit keys are roots) and
    every node resolves to its root AND exact depth in
    ceil(log2(max_depth)) doubling rounds — 4 shuffle rounds for any
    tree up to depth 16, where the naive walk pays one join PER LEVEL.
    The DuckDB twin walks the SAME forest with a recursive CTE (one
    step per level — the opposite algorithm), so a doubling-step
    distance slip, a lost root self-loop, or an early-exit bug breaks
    the hash on every (root, depth) pair."""
    from datalake_backend_spark.operators.graph import pointer_jump_roots

    cust = table(spark, sf_dir, "customer")
    parents = cust.select(
        F.col("c_custkey").alias("node"),
        F.when(F.col("c_custkey") <= 9, F.col("c_custkey"))
        .otherwise(F.expr("c_custkey div 10"))
        .alias("parent"),
    )
    return pointer_jump_roots(parents, max_depth=16)


R205_SQL = """
WITH RECURSIVE f AS (
  SELECT c_custkey AS node,
         CASE WHEN c_custkey <= 9 THEN c_custkey
              ELSE c_custkey // 10 END AS parent
  FROM customer
),
walk(node, anc, d) AS (
  SELECT node, node, 0 FROM f
  UNION ALL
  SELECT w.node, p.parent, w.d + 1
  FROM walk w JOIN f p ON p.node = w.anc
  WHERE p.parent <> w.anc
)
SELECT w.node, CAST(w.anc AS BIGINT) AS root, CAST(w.d AS BIGINT) AS depth
FROM walk w JOIN f r ON r.node = w.anc AND r.parent = r.node
"""


def r206_bounded_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded weighted shortest-path driver check (`dbs.operators
    .graph.bounded_sssp`): the co-purchase bipartite graph gets
    integer closeness costs (1 + 1e6 div shared-lineitem-count — more
    shared lines, cheaper hop) and Bellman-Ford relaxes 4 rounds from
    customer c1, i.e. the exact min-cost over paths of ≤ 4 edges. The
    engine prunes the frontier to rows that IMPROVED each round
    (settled nodes stop generating work); the twin re-relaxes the FULL
    distance table each round (unrolled d0..d4 CTEs, no pruning) — two
    different work schedules that must agree on every (node, dist)
    pair, so a pruning bug that drops a still-improving node is
    exactly what the hash catches."""
    from datalake_backend_spark.operators.graph import bounded_sssp

    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    pair = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy(
            F.concat(F.lit("c"), F.col("o_custkey")).alias("c"),
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("s"),
        )
        .agg(F.count("*").alias("cnt"))
    )
    cost = F.expr("1 + 1000000 div cnt").alias("cost")
    edges = pair.select(
        F.col("c").alias("src"), F.col("s").alias("dst"), cost
    ).unionByName(
        pair.select(F.col("s").alias("src"), F.col("c").alias("dst"), cost)
    )
    seed = spark.range(1).select(F.lit("c1").alias("node"))
    return bounded_sssp(edges, seed, max_hops=4)


_R206_PREFIX = """
WITH pair AS MATERIALIZED (
  SELECT 'c' || o_custkey AS c, 's' || l_suppkey AS s,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  GROUP BY 1, 2
),
e AS MATERIALIZED (
  SELECT c AS src, s AS dst, 1 + 1000000 // cnt AS cost FROM pair
  UNION ALL
  SELECT s, c, 1 + 1000000 // cnt FROM pair
),
d0 AS (SELECT 'c1' AS node, CAST(0 AS BIGINT) AS dist)"""


def _r206_round(k: int) -> str:
    return f""",
r{k} AS MATERIALIZED (
  SELECT e.dst AS node, MIN(d{k - 1}.dist + e.cost) AS dist
  FROM d{k - 1} JOIN e ON e.src = d{k - 1}.node GROUP BY 1
),
d{k} AS MATERIALIZED (
  SELECT node, MIN(dist) AS dist
  FROM (SELECT * FROM d{k - 1} UNION ALL SELECT * FROM r{k}) u
  GROUP BY 1
)"""


R206_SQL = (
    _R206_PREFIX
    + "".join(_r206_round(k) for k in range(1, 5))
    + "\nSELECT node, CAST(dist AS BIGINT) AS dist FROM d4"
)


def r207_period_over_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Period-over-period driver check (`dbs.operators.timeseries
    .period_over_period`): monthly revenue per order priority with the
    previous month's value, the signed delta, and current·1000 div
    previous — the MoM dashboard row. Everything is floor-scaled
    BIGINT (positive//positive, where Spark `div` truncation equals
    DuckDB `//` flooring), so a month-bucket drift, a lag
    misalignment, or a ratio rounding slip breaks the hash."""
    from datalake_backend_spark.operators.timeseries import (
        period_over_period,
    )

    orders = table(spark, sf_dir, "orders")
    return period_over_period(
        orders,
        "o_orderdate",
        "o_totalprice",
        keys=["o_orderpriority"],
        period="month",
    )


R207_SQL = """
WITH m AS (
  SELECT o_orderpriority,
         CAST(date_trunc('month', o_orderdate) AS DATE) AS period_start,
         CAST(SUM(CAST(FLOOR(o_totalprice * 10000) AS BIGINT))
              AS BIGINT) AS value_scaled
  FROM orders GROUP BY 1, 2
)
SELECT o_orderpriority, period_start, value_scaled,
       LAG(value_scaled) OVER w AS prev_scaled,
       value_scaled - LAG(value_scaled) OVER w AS delta_scaled,
       CAST(value_scaled * 1000 // LAG(value_scaled) OVER w AS BIGINT)
         AS ratio_permille
FROM m WINDOW w AS (PARTITION BY o_orderpriority ORDER BY period_start)
"""


def r208_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands driver check (`dbs.operators.timeseries
    .activity_streaks`): per user, consecutive-day activity streaks
    from the events table — total active days, island count, longest
    streak, and the longest streak's start day (earliest on ties,
    pinned via min_by over (-len, start) vs the twin's ROW_NUMBER
    (len DESC, start)). The island key is the Tabibitosan
    day − row_number; a distinct-day slip, an off-by-one in the island
    key, or a tie-break flip all break the hash."""
    from datalake_backend_spark.operators.timeseries import (
        activity_streaks,
    )

    ev = table(spark, sf_dir, "events")
    return activity_streaks(ev, "ts", "user_id")


R208_SQL = """
WITH days AS (
  SELECT DISTINCT user_id AS id,
         epoch_us(ts) // 86400000000 AS day
  FROM events
),
isl AS (
  SELECT id, day,
         day - ROW_NUMBER() OVER (PARTITION BY id ORDER BY day) AS island
  FROM days
),
per AS (
  SELECT id, island, CAST(COUNT(*) AS BIGINT) AS streak_len,
         MIN(day) AS streak_start
  FROM isl GROUP BY 1, 2
),
rk AS (
  SELECT id, streak_len, streak_start,
         ROW_NUMBER() OVER (
           PARTITION BY id ORDER BY streak_len DESC, streak_start
         ) AS rn,
         SUM(streak_len) OVER (PARTITION BY id) AS n_active_days,
         COUNT(*) OVER (PARTITION BY id) AS n_streaks,
         MAX(streak_len) OVER (PARTITION BY id) AS longest_streak
  FROM per
)
SELECT id AS user_id,
       CAST(n_active_days AS BIGINT) AS n_active_days,
       CAST(n_streaks AS BIGINT) AS n_streaks,
       CAST(longest_streak AS BIGINT) AS longest_streak,
       CAST(streak_start AS BIGINT) AS longest_start_day
FROM rk WHERE rn = 1
"""


def r209_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V driver check (`dbs.operators.distributions
    .cramers_v`): the [0,1] association strength between market
    segment and nation — r160's chi-square numerator (all-BIGINT
    per-cell floors) folded through ONE closed-form float expression
    (exact-integer doubles, IEEE division, correctly-rounded sqrt)
    that is shaped identically in the twin, so the effect size
    compares BIT-exactly. A marginal slip, a wrong dof (min(r,c)−1),
    or a scale leak all move the value."""
    from datalake_backend_spark.operators.distributions import cramers_v

    cust = table(spark, sf_dir, "customer")
    return cramers_v(cust, "c_mktsegment", "c_nationkey")


R209_SQL = """
WITH cells AS (
  SELECT c_mktsegment, c_nationkey, CAST(COUNT(*) AS BIGINT) AS o
  FROM customer GROUP BY 1, 2
),
rt AS (SELECT c_mktsegment, CAST(SUM(o) AS BIGINT) AS r
       FROM cells GROUP BY 1),
ct AS (SELECT c_nationkey, CAST(SUM(o) AS BIGINT) AS c
       FROM cells GROUP BY 1),
tt AS (SELECT CAST(SUM(o) AS BIGINT) AS t FROM cells),
per_cell AS (
  SELECT cells.c_mktsegment,
    ((o * t - r * c) * (o * t - r * c))
      // GREATEST(1, (r * c * t) // 1000000) AS term,
    (r * c * 1000000) // t AS e_scaled
  FROM cells
  JOIN rt USING (c_mktsegment)
  JOIN ct USING (c_nationkey), tt
),
agg AS (
  SELECT SUM(term) + 1000000 * (SELECT t FROM tt) - SUM(e_scaled) AS chi2,
         CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT) AS n_row_cats,
         (SELECT t FROM tt) AS n_total,
         (SELECT CAST(COUNT(DISTINCT c_nationkey) AS BIGINT)
          FROM customer) AS n_col_cats
  FROM per_cell
)
SELECT n_total, n_row_cats, n_col_cats,
       CAST(chi2 AS DOUBLE) AS chi2_scaled,
       sqrt(CAST(chi2 AS DOUBLE) / 1000000.0
            / CAST(n_total * GREATEST(
                LEAST(n_row_cats - 1, n_col_cats - 1), 1) AS DOUBLE))
         AS cramers_v
FROM agg
"""


def r210_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini concentration driver check (`dbs.operators.distributions
    .gini_concentration`): revenue inequality per order priority via
    the rank formulation (2·Σi·xᵢ − (n+1)·Σxᵢ) / (n·Σxᵢ) over the
    ascending (price, orderkey) order — floor-scaled BIGINT values,
    DECIMAL(38,0) rank·value accumulation (Θ(n²·x̄) wraps int64), and
    ONE final float division, so the coefficient compares bit-exactly.
    A rank-order flip, an (n+1) off-by-one, or an overflow all move
    it."""
    from datalake_backend_spark.operators.distributions import (
        gini_concentration,
    )

    orders = table(spark, sf_dir, "orders")
    return gini_concentration(
        orders, ["o_orderpriority"], "o_totalprice", "o_orderkey"
    )


R210_SQL = """
WITH d AS (
  SELECT o_orderpriority,
         CAST(FLOOR(o_totalprice * 10000) AS BIGINT) AS v,
         ROW_NUMBER() OVER (
           PARTITION BY o_orderpriority
           ORDER BY o_totalprice, o_orderkey
         ) AS i
  FROM orders
)
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(v) AS BIGINT) AS sum_scaled,
       (2 * CAST(SUM(CAST(i AS HUGEINT) * v) AS DOUBLE)
        - CAST(COUNT(*) + 1 AS DOUBLE) * CAST(SUM(v) AS DOUBLE))
       / (CAST(COUNT(*) AS DOUBLE) * CAST(SUM(v) AS DOUBLE)) AS gini
FROM d GROUP BY 1
"""


def r211_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto classification driver check (`dbs.operators
    .ranking.abc_classification`): parts rank by scaled lineitem
    revenue descending and class into A (first 80% of cumulative
    revenue), B (to 95%), C (tail) via integer cross-multiplied
    boundaries over the two-phase global prefix sum — no
    single-reducer sort. The twin computes the SAME classes with one
    cumulative window, so a prefix-sum offset bug, a boundary
    strictness flip, or an order-key tie slip reclassifies rows and
    breaks the hash."""
    from datalake_backend_spark.operators.ranking import abc_classification

    li = table(spark, sf_dir, "lineitem")
    rev = li.groupBy(F.col("l_partkey").alias("id")).agg(
        F.sum(fixed("l_extendedprice", 4)).alias("value")
    )
    return abc_classification(rev, "id", "value")


R211_SQL = """
WITH rev AS (
  SELECT l_partkey AS id,
         CAST(SUM(CAST(FLOOR(l_extendedprice * 10000) AS BIGINT))
              AS BIGINT) AS value
  FROM lineitem GROUP BY 1
),
c AS (
  SELECT id, value,
         SUM(value) OVER (
           ORDER BY value DESC, id ROWS UNBOUNDED PRECEDING
         ) AS cum_value,
         SUM(value) OVER () AS tot
  FROM rev
)
SELECT id, value, CAST(cum_value AS BIGINT) AS cum_value,
       CASE WHEN cum_value * 100 <= 80 * tot THEN 'A'
            WHEN cum_value * 100 <= 95 * tot THEN 'B'
            ELSE 'C' END AS abc_class
FROM c
"""


def r212_score_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift / gains-table driver check (`dbs.operators.ranking
    .score_deciles`): documents rank by n_chars descending into 10
    exact NTILE buckets (the r200 distributed closed form) and each
    decile reports row count, English-document count, cumulative
    positives, and two integer permille rates (bucket hit rate,
    cumulative capture) — the model-evaluation gains table. The twin
    uses NATIVE NTILE + cumulative windows, so a fat-bucket boundary
    slip or a cumulative misorder shifts a decile's counts and breaks
    the hash."""
    from datalake_backend_spark.operators.ranking import score_deciles

    docs = table(spark, sf_dir, "documents")
    return score_deciles(
        docs, "n_chars", F.col("lang") == "en", "doc_id", n=10
    )


R212_SQL = """
WITH s AS (
  SELECT doc_id, n_chars, (lang = 'en') AS pos,
         NTILE(10) OVER (ORDER BY n_chars DESC, doc_id) AS decile
  FROM documents
),
per AS (
  SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(COUNT(*) FILTER (WHERE pos) AS BIGINT) AS n_pos
  FROM s GROUP BY 1
),
c AS (
  SELECT decile, n_rows, n_pos,
         SUM(n_pos) OVER (
           ORDER BY decile ROWS UNBOUNDED PRECEDING
         ) AS cum_pos,
         SUM(n_pos) OVER () AS tp
  FROM per
)
SELECT CAST(decile AS BIGINT) AS decile, n_rows, n_pos,
       CAST(cum_pos AS BIGINT) AS cum_pos,
       CAST(n_pos * 1000 // n_rows AS BIGINT) AS rate_permille,
       CAST(cum_pos * 1000 // tp AS BIGINT) AS cum_capture_permille
FROM c
"""

# --- round-11 additions, batch 3 (r213-r215) -------------------------------


def r213_range_frame_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame rolling aggregate driver check (`dbs.operators
    .timeseries.rolling_range_sum`): trailing 7-day revenue per event
    type where the frame spans a DAY-VALUE range, not a row count —
    on sparse days a ROWS frame silently reaches further back; RANGE
    narrows. Both engines use their native SQL-standard RANGE frame
    over integer days (Spark rangeBetween, DuckDB RANGE BETWEEN 6
    PRECEDING), so the frame semantics themselves are what the hash
    compares; n_days_in_window makes a frame slip show twice."""
    from datalake_backend_spark.operators.timeseries import (
        rolling_range_sum,
    )

    ev = table(spark, sf_dir, "events")
    return rolling_range_sum(
        ev, "ts", "value", keys=["event_type"], window_days=7
    )


R213_SQL = """
WITH daily AS (
  SELECT event_type,
         epoch_us(ts) // 86400000000 AS day,
         CAST(SUM(CAST(FLOOR(value * 10000) AS BIGINT))
              AS BIGINT) AS day_sum
  FROM events GROUP BY 1, 2
)
SELECT event_type, CAST(day AS BIGINT) AS day, day_sum,
       CAST(SUM(day_sum) OVER w AS BIGINT) AS rolling_sum,
       CAST(COUNT(*) OVER w AS BIGINT) AS n_days_in_window
FROM daily WINDOW w AS (
  PARTITION BY event_type ORDER BY day
  RANGE BETWEEN 6 PRECEDING AND CURRENT ROW
)
"""


def r214_subtree_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical roll-up driver check (`dbs.operators.graph
    .subtree_rollup`): r205's customer forest aggregated to its roots
    — member count, scaled account-balance total, and max depth per
    subtree — via pointer-jumping flattening (O(log depth) rounds)
    plus ONE hash aggregate. The twin walks the hierarchy level by
    level with a recursive CTE and groups by root, so a resolution
    bug, a dropped member, or a depth slip shifts a root's totals and
    breaks the hash."""
    from datalake_backend_spark.operators.graph import subtree_rollup

    cust = table(spark, sf_dir, "customer")
    parents = cust.select(
        F.col("c_custkey").alias("node"),
        F.when(F.col("c_custkey") <= 9, F.col("c_custkey"))
        .otherwise(F.expr("c_custkey div 10"))
        .alias("parent"),
    )
    values = cust.select(
        F.col("c_custkey").alias("node"),
        fixed("c_acctbal", 2).alias("value"),
    )
    return subtree_rollup(parents, values, max_depth=16)


R214_SQL = """
WITH RECURSIVE f AS (
  SELECT c_custkey AS node,
         CASE WHEN c_custkey <= 9 THEN c_custkey
              ELSE c_custkey // 10 END AS parent
  FROM customer
),
walk(node, anc, d) AS (
  SELECT node, node, 0 FROM f
  UNION ALL
  SELECT w.node, p.parent, w.d + 1
  FROM walk w JOIN f p ON p.node = w.anc
  WHERE p.parent <> w.anc
),
res AS (
  SELECT w.node, CAST(w.anc AS BIGINT) AS root, w.d AS depth
  FROM walk w JOIN f r ON r.node = w.anc AND r.parent = r.node
),
v AS (
  SELECT c_custkey AS node,
         CAST(FLOOR(c_acctbal * 100) AS BIGINT) AS value
  FROM customer
)
SELECT root, CAST(COUNT(*) AS BIGINT) AS n_nodes,
       CAST(SUM(value) AS BIGINT) AS subtree_total,
       CAST(MAX(depth) AS BIGINT) AS max_depth
FROM res JOIN v USING (node) GROUP BY root
"""


def r215_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact weighted-median driver check (`dbs.operators
    .distributions.weighted_median`): per order priority, the order
    price below which half the UNITS sit — values weighted by each
    order's lineitem count, the lower weighted median picked by the
    integer crossing rule 2·cumw ≥ totw (no float shares, no
    interpolation policy). The twin re-derives it with a cumulative
    window + filtered MIN, so a crossing-rule flip (> vs ≥), a weight
    join slip, or a scale drift breaks the hash."""
    from datalake_backend_spark.operators.distributions import (
        weighted_median,
    )

    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    li_cnt = li.groupBy(F.col("l_orderkey").alias("o_orderkey")).agg(
        F.count("*").alias("n_lines")
    )
    jo = orders.join(li_cnt, "o_orderkey")
    return weighted_median(
        jo, ["o_orderpriority"], "o_totalprice", "n_lines"
    )


R215_SQL = """
WITH lc AS (
  SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS n_lines
  FROM lineitem GROUP BY 1
),
j AS (
  SELECT o_orderpriority,
         CAST(FLOOR(o_totalprice * 10000) AS BIGINT) AS v,
         n_lines AS wt
  FROM orders JOIN lc ON o_orderkey = l_orderkey
),
c AS (
  SELECT o_orderpriority, v, wt,
         SUM(wt) OVER (
           PARTITION BY o_orderpriority ORDER BY v, wt
           ROWS UNBOUNDED PRECEDING
         ) AS cumw,
         SUM(wt) OVER (PARTITION BY o_orderpriority) AS totw
  FROM j
)
SELECT o_orderpriority,
       CAST(MIN(CASE WHEN cumw * 2 >= totw THEN v END) AS BIGINT)
         AS weighted_median_scaled,
       CAST(MAX(totw) AS BIGINT) AS total_weight
FROM c GROUP BY 1
"""

# --- round-11 additions, batch 4 (r216-r217) -------------------------------


def r216_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional phrase-search driver check (`dbs.datapipe.text
    .phrase_occurrences`): documents containing the exact token
    sequence "table hash", with exact occurrence counts, via the
    positional-postings plan — posexplode filtered to the phrase's
    tokens BEFORE any shuffle, one (doc, position) equi-join per gap.
    The twin scans token ARRAYS per document (list_filter over
    positions — no join at all), so the two engines agree only if the
    position arithmetic, boundary handling, and overlap counting are
    all right."""
    from datalake_backend_spark.datapipe.text import phrase_occurrences

    docs = table(spark, sf_dir, "documents")
    return phrase_occurrences(docs, "table hash")


R216_SQL = r"""
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '\s+'),
                     x -> x <> '') AS l
  FROM documents
),
m AS (
  SELECT doc_id,
         len(list_filter(range(1, len(l)),
             i -> l[i] = 'table' AND l[i + 1] = 'hash')) AS n_occ
  FROM t
)
SELECT doc_id, CAST(n_occ AS BIGINT) AS n_occurrences
FROM m WHERE n_occ > 0
"""


def r217_fifo_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIFO allocation driver check (`dbs.operators.allocation
    .fifo_allocate`): per user, purchase amounts (demand) allocate
    against click amounts (supply lots) in timestamp order — the
    payment-application / FIFO-COGS matcher. The engine computes it
    SET-WISE (two per-key cumulative sums turn both streams into
    intervals on a shared axis; allocations are interval overlaps),
    the opposite of the sequential matcher the twin also avoids — the
    twin re-derives the same overlap algebra independently, so a
    cumsum order slip, an off-by-one at an exactly-exhausted lot
    boundary (strict < both ends), or a quantity-scale drift breaks
    the hash."""
    from datalake_backend_spark.operators.allocation import fifo_allocate

    ev = table(spark, sf_dir, "events")
    qty = fixed("value", 4)
    base = ev.select(
        "user_id", "event_id", "event_type", "ts", qty.alias("qty")
    ).where(F.col("qty") > 0)
    supply = base.where(F.col("event_type") == "click")
    demand = base.where(F.col("event_type") == "purchase")
    return fifo_allocate(
        supply,
        demand,
        keys=["user_id"],
        qty_col="qty",
        order_cols=["ts", "event_id"],
        id_col="event_id",
    )


R217_SQL = """
WITH b AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
         CAST(FLOOR(value * 10000) AS BIGINT) AS qty
  FROM events
  WHERE CAST(FLOOR(value * 10000) AS BIGINT) > 0
),
sc AS (
  SELECT user_id, event_id AS supply_id, qty AS supply_qty,
         CAST(SUM(qty) OVER (
           PARTITION BY user_id ORDER BY us, event_id
           ROWS UNBOUNDED PRECEDING
         ) AS BIGINT) AS supply_cum
  FROM b WHERE event_type = 'click'
),
dc AS (
  SELECT user_id, event_id AS demand_id, qty AS demand_qty,
         CAST(SUM(qty) OVER (
           PARTITION BY user_id ORDER BY us, event_id
           ROWS UNBOUNDED PRECEDING
         ) AS BIGINT) AS demand_cum
  FROM b WHERE event_type = 'purchase'
)
SELECT sc.user_id, supply_id, demand_id,
       CAST(LEAST(supply_cum, demand_cum)
            - GREATEST(supply_cum - supply_qty, demand_cum - demand_qty)
         AS BIGINT) AS alloc_qty
FROM sc JOIN dc ON sc.user_id = dc.user_id
WHERE supply_cum - supply_qty < demand_cum
  AND demand_cum - demand_qty < supply_cum
"""

# --- round-11 additions, batch 5 (r218-r219) -------------------------------


def r218_pit_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (SCD2-style) enrichment driver check: each user's
    signup events define validity versions ([signup, next signup), the
    last open until corpus end), and every purchase joins to the
    version VALID AT ITS TIMESTAMP via the bucketized range join
    (`dbs.operators.range_join.range_join` — q45's audited operator on
    lakehouse PIT semantics). Per (user, version): purchase count and
    scaled spend. The twin uses a plain inequality join + windows, so
    a bucket-boundary leak, an open-interval end slip, or a version
    misorder breaks the hash."""
    from datalake_backend_spark.operators.range_join import range_join

    ev = table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    w = Window.partitionBy("user_id").orderBy("vstart", "event_id")
    mx = ev.agg(F.max(us).alias("_mx"))
    dim = (
        ev.where(F.col("event_type") == "signup")
        .select("user_id", us.alias("vstart"), "event_id")
        .withColumn("version", F.row_number().over(w).cast("bigint"))
        .withColumn("_vend0", F.lead("vstart").over(w))
        .crossJoin(F.broadcast(mx))
        .select(
            "user_id",
            "version",
            "vstart",
            F.coalesce(F.col("_vend0"), F.col("_mx") + 1).alias("vend"),
        )
    )
    pur = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        us.alias("pt"),
        fixed("value", 4).alias("v"),
    )
    j = range_join(
        pur,
        dim,
        on="user_id",
        point_time="pt",
        start_col="vstart",
        end_col="vend",
        bucket_width=4 * 86_400_000_000.0,
    )
    return j.groupBy("user_id", "version").agg(
        F.min("vstart").alias("valid_from_us"),
        F.count("*").alias("n_purchases"),
        F.sum("v").alias("spend_scaled"),
    )


R218_SQL = """
WITH s AS (
  SELECT user_id, epoch_us(ts) AS vstart,
         ROW_NUMBER() OVER (
           PARTITION BY user_id ORDER BY epoch_us(ts), event_id
         ) AS version,
         LEAD(epoch_us(ts)) OVER (
           PARTITION BY user_id ORDER BY epoch_us(ts), event_id
         ) AS vend0
  FROM events WHERE event_type = 'signup'
),
mx AS (SELECT MAX(epoch_us(ts)) AS m FROM events),
d AS (
  SELECT user_id, version, vstart,
         COALESCE(vend0, (SELECT m FROM mx) + 1) AS vend
  FROM s
),
p AS (
  SELECT user_id, epoch_us(ts) AS pt,
         CAST(FLOOR(value * 10000) AS BIGINT) AS v
  FROM events WHERE event_type = 'purchase'
)
SELECT d.user_id, CAST(version AS BIGINT) AS version,
       CAST(vstart AS BIGINT) AS valid_from_us,
       CAST(COUNT(*) AS BIGINT) AS n_purchases,
       CAST(SUM(v) AS BIGINT) AS spend_scaled
FROM d JOIN p ON p.user_id = d.user_id
             AND p.pt >= d.vstart AND p.pt < d.vend
GROUP BY 1, 2, 3
"""


def r219_sliding_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window distinct driver check (`dbs.operators.timeseries
    .sliding_distinct`): exact 7-day trailing active users per event
    type, every active day — the WAU curve. The engine folds ids into
    mergeable bitmap words ONCE and propagates each word to the days
    it counts toward (explode by window length over metadata-sized
    word rows); the twin recomputes the same numbers with the opposite
    plan (days x events BETWEEN join + COUNT DISTINCT), so a
    propagation off-by-one, a word-boundary error, or a day-spine
    drift breaks the hash."""
    from datalake_backend_spark.operators.timeseries import (
        sliding_distinct,
    )

    ev = table(spark, sf_dir, "events")
    return sliding_distinct(
        ev, "ts", "user_id", keys=["event_type"], window_days=7
    )


R219_SQL = """
WITH days AS (
  SELECT DISTINCT event_type,
         epoch_us(ts) // 86400000000 AS day
  FROM events
),
acts AS (
  SELECT DISTINCT event_type,
         epoch_us(ts) // 86400000000 AS aday,
         user_id
  FROM events
)
SELECT d.event_type, CAST(d.day AS BIGINT) AS day,
       CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_active
FROM days d
JOIN acts a ON a.event_type = d.event_type
           AND a.aday BETWEEN d.day - 6 AND d.day
GROUP BY 1, 2
"""

# --- round-11 additions, batch 6 (r220-r221) -------------------------------


def r220_maxsim_scoring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-interaction MaxSim driver check (`dbs.datapipe.similarity
    .maxsim_scores`): vectors with vec_id < 8 act as the query's token
    set, each label's vectors as a document's token set, and every
    label scores Σ_q max_v ⟨q,v⟩ — the ColBERT re-ranking scorer. The
    twin recomputes it relationally (cross join, MAX per (label, q),
    ordered-list fold for the final sum), so a fold-order float drift,
    a lost query token, or a max/sum transposition breaks the
    bit-exact hash."""
    from datalake_backend_spark.datapipe.similarity import maxsim_scores

    emb = table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 8)
    return maxsim_scores(queries, emb)


R220_SQL = """
WITH q AS (
  SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < 8
),
dots AS (
  SELECT e.label AS doc_key, q.qid,
         MAX(list_reduce(
           list_transform(
             list_zip(CAST(e.embedding AS DOUBLE[]), q.qv),
             x -> x[1] * x[2]),
           (a, b) -> a + b)) AS m
  FROM embeddings e, q
  GROUP BY 1, 2
)
SELECT doc_key, CAST(COUNT(*) AS BIGINT) AS n_query_tokens,
       list_reduce(list(m ORDER BY qid), (a, b) -> a + b) AS maxsim
FROM dots GROUP BY doc_key
"""


def r221_concurrency_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep-line concurrency driver check (`dbs.operators.timeseries
    .interval_concurrency`): each order is in flight from its order
    day to its latest lineitem ship day; the engine computes the
    per-boundary-day in-flight count with the Θ(n) sweep (+1/−1
    deltas + the two-phase global prefix sum), while the twin pays
    the days×intervals inequality join and counts directly — two
    OPPOSITE algorithms whose agreement pins boundary arithmetic
    (end+1 exclusivity), delta aggregation, and the distributed
    prefix sum at once."""
    from datalake_backend_spark.operators.timeseries import (
        interval_concurrency,
    )

    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    day = lambda c: (F.unix_micros(F.col(c)) / F.lit(86_400_000_000)).cast(
        "bigint"
    )
    iv = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", day("o_orderdate").alias("sd"))
        .agg(F.max(day("l_shipdate")).alias("ed"))
        # the synthetic l_shipdate is INDEPENDENT of o_orderdate, so
        # some intervals come out backwards (ed < sd) — drop them in
        # BOTH dialects: a backwards interval is an empty one to the
        # twin's BETWEEN join but a negative dip to the sweep
        .where(F.col("ed") >= F.col("sd"))
    )
    return interval_concurrency(iv, "sd", "ed")


R221_SQL = """
WITH iv AS (
  SELECT o_orderkey,
         epoch_us(o_orderdate) // 86400000000 AS sd,
         MAX(epoch_us(l_shipdate) // 86400000000) AS ed
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  GROUP BY 1, 2
  HAVING MAX(epoch_us(l_shipdate) // 86400000000) >= sd
),
days AS (
  SELECT DISTINCT d FROM (
    SELECT sd AS d FROM iv UNION ALL SELECT ed + 1 FROM iv
  )
)
SELECT CAST(days.d AS BIGINT) AS day,
       CAST(COUNT(iv.o_orderkey) AS BIGINT) AS n_open
FROM days LEFT JOIN iv ON iv.sd <= days.d AND iv.ed >= days.d
GROUP BY 1
"""

# --- round-11 additions, batch 7 (r222-r224) -------------------------------


def r222_topn_with_other(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-N-with-other driver check (`dbs.operators.distributions
    .topn_with_other`): per order priority, the 3 highest-revenue
    parts itemized and the ENTIRE tail rolled into `__other__` with
    its mass and label count — the honest dashboard pie. Deterministic
    (value desc, label) ranking; the twin rebuilds it with ROW_NUMBER
    + CASE, so a rank tie-break flip, a lost tail label, or an
    off-by-one at the N boundary breaks the hash."""
    from datalake_backend_spark.operators.distributions import (
        topn_with_other,
    )

    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    rev = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("o_orderpriority", "l_partkey")
        .agg(
            F.sum(fixed("l_extendedprice", 4)).alias("value")
        )
    )
    return topn_with_other(
        rev, ["o_orderpriority"], "l_partkey", "value", n=3
    )


R222_SQL = """
WITH rev AS (
  SELECT o_orderpriority, l_partkey,
         CAST(SUM(CAST(FLOOR(l_extendedprice * 10000) AS BIGINT))
              AS BIGINT) AS value
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  GROUP BY 1, 2
),
rk AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY o_orderpriority ORDER BY value DESC, l_partkey
  ) AS r
  FROM rev
)
SELECT o_orderpriority,
       CASE WHEN r <= 3 THEN CAST(l_partkey AS VARCHAR)
            ELSE '__other__' END AS bucket,
       CAST(SUM(value) AS BIGINT) AS total_value,
       CAST(COUNT(*) AS BIGINT) AS n_labels
FROM rk GROUP BY 1, 2
"""


def r223_share_of_root(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchy share-of-root driver check — the composition row for
    the graph tier: r205's pointer-jump resolution joins r214's
    subtree totals and every customer reports its scaled account
    balance as an exact permille of its ROOT's subtree total
    (integer cross-multiplied, value·1000 div subtree_total). The
    twin walks the hierarchy recursively and windows the totals, so a
    root misresolution, a totals drift, or a permille floor slip
    breaks the hash on every node."""
    from datalake_backend_spark.operators.graph import pointer_jump_roots

    cust = table(spark, sf_dir, "customer")
    parents = cust.select(
        F.col("c_custkey").alias("node"),
        F.when(F.col("c_custkey") <= 9, F.col("c_custkey"))
        .otherwise(F.expr("c_custkey div 10"))
        .alias("parent"),
    )
    values = cust.select(
        F.col("c_custkey").alias("node"),
        fixed("c_acctbal", 2).alias("value"),
    )
    resolved = pointer_jump_roots(parents, max_depth=16).join(values, "node")
    totals = resolved.groupBy("root").agg(
        F.sum("value").alias("_tot")
    )
    return resolved.join(F.broadcast(totals), "root").select(
        "node",
        "root",
        "value",
        F.expr("value * 1000 div _tot").alias("share_permille"),
    )


R223_SQL = """
WITH RECURSIVE f AS (
  SELECT c_custkey AS node,
         CASE WHEN c_custkey <= 9 THEN c_custkey
              ELSE c_custkey // 10 END AS parent
  FROM customer
),
walk(node, anc, d) AS (
  SELECT node, node, 0 FROM f
  UNION ALL
  SELECT w.node, p.parent, w.d + 1
  FROM walk w JOIN f p ON p.node = w.anc
  WHERE p.parent <> w.anc
),
res AS (
  SELECT w.node, CAST(w.anc AS BIGINT) AS root
  FROM walk w JOIN f r ON r.node = w.anc AND r.parent = r.node
),
v AS (
  SELECT c_custkey AS node,
         CAST(FLOOR(c_acctbal * 100) AS BIGINT) AS value
  FROM customer
),
j AS (SELECT res.node, root, value FROM res JOIN v USING (node))
SELECT node, root, value,
       CAST(value * 1000 // SUM(value) OVER (PARTITION BY root)
         AS BIGINT) AS share_permille
FROM j
"""


def r224_centroid_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid assignment driver check (`dbs.datapipe
    .similarity.centroid_assign`): vectors with vec_id < 4 act as
    literal centroids and every embedding routes to its nearest by
    exact left-fold squared L2, ties to the lowest centroid id — the
    k-means E-step / cluster router as one codegen map stage, and the
    CLUSTERING family's first value-hashed oracle row (A15's training
    loop is float-iterative; the assignment step is the deterministic
    part). Per centroid: member count, id checksum, and the scaled
    integer sum of distances. A distance-fold drift, an argmin
    tie-break flip, or a literal-order slip breaks the hash."""
    from datalake_backend_spark.datapipe.similarity import centroid_assign

    emb = table(spark, sf_dir, "embeddings")
    cents = [
        (int(r[0]), [float(x) for x in r[1]])
        for r in emb.where(F.col("vec_id") < 4)
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .collect()
    ]
    assigned = centroid_assign(emb, cents)
    return assigned.groupBy("centroid_id").agg(
        F.count("*").alias("n_members"),
        F.sum("vec_id").alias("id_checksum"),
        F.sum(fixed("dist_sq", 6)).alias("dist_sum_scaled"),
    )


R224_SQL = """
WITH c AS (
  SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
  FROM embeddings WHERE vec_id < 4
),
d AS (
  SELECT e.vec_id, c.cid,
         list_reduce(
           list_transform(
             list_zip(CAST(e.embedding AS DOUBLE[]), c.cv),
             x -> (x[1] - x[2]) * (x[1] - x[2])),
           (a, b) -> a + b) AS dist
  FROM embeddings e, c
),
best AS (
  SELECT vec_id, cid, dist,
         ROW_NUMBER() OVER (
           PARTITION BY vec_id ORDER BY dist, cid
         ) AS rn
  FROM d
)
SELECT cid AS centroid_id,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(SUM(vec_id) AS BIGINT) AS id_checksum,
       CAST(SUM(CAST(FLOOR(dist * 1000000) AS BIGINT)) AS BIGINT)
         AS dist_sum_scaled
FROM best WHERE rn = 1
GROUP BY 1
"""

# --- round-11 additions, batch 8 (r225-r226) -------------------------------


def r225_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-sweep confusion-matrix driver check (`dbs.operators
    .evaluation.confusion_at_thresholds`): n_chars as the score,
    lang='en' as the label, exact TP/FP/FN/TN at three operating
    points plus integer-permille precision/recall/accuracy (NULL
    precision where nothing clears the bar) — the PR-curve report in
    one pass. The twin rebuilds it with a VALUES cross join, so a
    prediction-strictness flip (≥ vs >), a swapped matrix cell, or a
    permille floor drift breaks the hash."""
    from datalake_backend_spark.operators.evaluation import (
        confusion_at_thresholds,
    )

    docs = table(spark, sf_dir, "documents")
    return confusion_at_thresholds(
        docs, "n_chars", F.col("lang") == "en", [200, 400, 600]
    )


R225_SQL = """
WITH t(threshold) AS (VALUES (200), (400), (600)),
d AS (
  SELECT CAST(t.threshold AS BIGINT) AS threshold,
         (n_chars >= t.threshold) AS p,
         (lang = 'en') AS y
  FROM documents, t
),
per AS (
  SELECT threshold,
         CAST(COUNT(*) FILTER (WHERE p AND y) AS BIGINT) AS tp,
         CAST(COUNT(*) FILTER (WHERE p AND NOT y) AS BIGINT) AS fp,
         CAST(COUNT(*) FILTER (WHERE NOT p AND y) AS BIGINT) AS fn,
         CAST(COUNT(*) FILTER (WHERE NOT p AND NOT y) AS BIGINT) AS tn
  FROM d GROUP BY 1
)
SELECT threshold, tp, fp, fn, tn,
       CASE WHEN tp + fp > 0
            THEN CAST(tp * 1000 // (tp + fp) AS BIGINT) END
         AS precision_permille,
       CASE WHEN tp + fn > 0
            THEN CAST(tp * 1000 // (tp + fn) AS BIGINT) END
         AS recall_permille,
       CAST((tp + tn) * 1000 // (tp + fp + fn + tn) AS BIGINT)
         AS accuracy_permille
FROM per
"""


def r226_bbox_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-rectangle containment driver check (`dbs.core.geometry
    .bbox_join`): customers are multiplicative-hash points (the r196
    coordinate recipe), suppliers are hash-derived rectangles (center
    ± per-axis half-extents ≤ 40k), and the grid plan — box explodes
    to covered cells, point maps to one, exact closed-interval refine
    — must produce the IDENTICAL pair set as the twin's brute-force
    quadratic filter. A cell off-by-one at a rectangle edge, a lost
    explode cell, or an open/closed boundary flip breaks the hash."""
    from datalake_backend_spark.core.geometry import bbox_join

    cust = table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.expr("(c_custkey * 2654435761L) % 1000000").alias("x"),
        F.expr("(c_custkey * 40503L) % 1000000").alias("y"),
    )
    supp = table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        F.expr("(s_suppkey * 2654435761L) % 1000000").alias("cx0"),
        F.expr("(s_suppkey * 40503L) % 1000000").alias("cy0"),
        F.expr("1 + (s_suppkey * 69069L) % 40000").alias("hw"),
        F.expr("1 + (s_suppkey * 99991L) % 40000").alias("hh"),
    ).select(
        "s_suppkey",
        F.expr("greatest(cx0 - hw, 0L)").alias("x_min"),
        F.expr("greatest(cy0 - hh, 0L)").alias("y_min"),
        F.expr("least(cx0 + hw, 999999L)").alias("x_max"),
        F.expr("least(cy0 + hh, 999999L)").alias("y_max"),
    )
    return bbox_join(cust, supp, cell=40000).select(
        "c_custkey", "s_suppkey"
    )


R226_SQL = """
WITH c AS (
  SELECT c_custkey,
         (c_custkey * 2654435761) % 1000000 AS x,
         (c_custkey * 40503) % 1000000 AS y
  FROM customer
),
s0 AS (
  SELECT s_suppkey,
         (s_suppkey * 2654435761) % 1000000 AS cx0,
         (s_suppkey * 40503) % 1000000 AS cy0,
         1 + (s_suppkey * 69069) % 40000 AS hw,
         1 + (s_suppkey * 99991) % 40000 AS hh
  FROM supplier
),
s AS (
  SELECT s_suppkey,
         GREATEST(cx0 - hw, 0) AS x_min, GREATEST(cy0 - hh, 0) AS y_min,
         LEAST(cx0 + hw, 999999) AS x_max, LEAST(cy0 + hh, 999999) AS y_max
  FROM s0
)
SELECT c_custkey, s_suppkey
FROM c JOIN s ON c.x >= s.x_min AND c.x <= s.x_max
             AND c.y >= s.y_min AND c.y <= s.y_max
"""

# --- round-11 additions, batch 9 (r227) ------------------------------------


def r227_streaming_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact-reach driver check (`dbs.streaming.pipeline
    .start_bitmap_reach_sink`): the events feed drains in two
    micro-batches, each folding user ids into mergeable bitmap words
    and bit_or-merging into a versioned state table (epoch-tagged
    exactly-once; bit_or is also idempotent, so even a replayed merge
    is harmless). The finalized snapshot — exact distinct users per
    event type — must be bit-identical to the twin's single-pass
    COUNT(DISTINCT): the streaming counter that scalar aggregate
    state cannot maintain, r219's bitmap mechanism under ingest."""
    from datalake_backend_spark.operators.incremental import (
        finalize_bitmap,
    )
    from datalake_backend_spark.sources.versioned import VersionedTable
    from datalake_backend_spark.streaming.pipeline import (
        start_bitmap_reach_sink,
        streaming_session,
    )

    spark = streaming_session(spark)
    ev = table(spark, sf_dir, "events").select(
        "event_id", "event_type", "user_id"
    )
    mid = ev.agg(F.expr("percentile_approx(event_id, 0.5)")).first()[0]
    with replay_batches(
        spark, sf_dir, "r227_reach", _halves(ev, "event_id", mid)
    ) as (stream, base):
        q = start_bitmap_reach_sink(
            stream, f"{base}/tbl", f"{base}/ck", ["event_type"], "user_id"
        )
        q.awaitTermination()
        tbl = VersionedTable(f"{base}/tbl")
        assert [m["op"] for m in tbl.history()] == ["bitmap-merge"] * 2
        out = finalize_bitmap(tbl.read(spark), ["event_type"])
        # materialize before the fixture dies
        out = checkpoint(out, "queries.r227")
    return out


R227_SQL = """
SELECT event_type,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_distinct
FROM events GROUP BY 1
"""

# --- round-11 additions, batch 10 (r228) -----------------------------------


def r228_bag_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-semantics set-operation driver check (§2.9 completion
    beyond U1-U3's DISTINCT forms): two overlapping MULTISETS of
    order keys (lineitems with linenumber ≤ 4 vs ≥ 2, so each key
    appears with different multiplicities on each side) flow through
    native ``intersectAll`` and ``exceptAll`` — the duplicate-
    PRESERVING forms where intersect keeps min(m_a, m_b) copies and
    except keeps m_a − m_b. The result folds to per-key multiplicity
    counts so the hash pins the bag arithmetic; the twin uses SQL
    INTERSECT ALL / EXCEPT ALL. A distinct-vs-all mixup or a
    multiplicity off-by-one shifts every count."""
    li = table(spark, sf_dir, "lineitem")
    a = li.where(F.col("l_linenumber") <= 4).select("l_orderkey")
    b = li.where(F.col("l_linenumber") >= 2).select("l_orderkey")
    both = (
        a.intersectAll(b)
        .groupBy("l_orderkey")
        .agg(F.count("*").alias("n"))
        .select("l_orderkey", "n", F.lit("intersect_all").alias("op"))
    )
    only_a = (
        a.exceptAll(b)
        .groupBy("l_orderkey")
        .agg(F.count("*").alias("n"))
        .select("l_orderkey", "n", F.lit("except_all").alias("op"))
    )
    return both.unionByName(only_a)


R228_SQL = """
WITH a AS (SELECT l_orderkey FROM lineitem WHERE l_linenumber <= 4),
b AS (SELECT l_orderkey FROM lineitem WHERE l_linenumber >= 2),
i AS (SELECT l_orderkey FROM a INTERSECT ALL SELECT l_orderkey FROM b),
e AS (SELECT l_orderkey FROM a EXCEPT ALL SELECT l_orderkey FROM b)
SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS n,
       'intersect_all' AS op
FROM i GROUP BY 1
UNION ALL
SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS n,
       'except_all' AS op
FROM e GROUP BY 1
"""

# --- round-11 additions, batch 11 (r229-r239) -------------------------------
# Rank statistics, survival curves, market bars, blocked spatial NN,
# calendar arithmetic, apportionment, UNPIVOT and graph node similarity
# — each one hash-aggregate-first, window-over-grouped-rows-only, and
# integer-exact wherever a product/ratio feeds the hash compare.


def r229_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U rank-sum driver check (`dbs.operators
    .distributions.mann_whitney_u`): returned-vs-accepted lineitems
    compared on quantity per linestatus. All-integer doubled
    mid-ranks make U and the tie-correction term engine-exact; the
    twin replicates the grouped-rank window in SQL."""
    from datalake_backend_spark.operators.distributions import mann_whitney_u

    li = table(spark, sf_dir, "lineitem").select(
        "l_linestatus", "l_returnflag", "l_quantity"
    )
    return mann_whitney_u(
        li, "l_quantity", "l_returnflag", "R", "A", keys=["l_linestatus"]
    )


R229_SQL = """
WITH d AS (
  SELECT l_linestatus, l_quantity AS v,
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS ia
  FROM lineitem WHERE l_returnflag IN ('R', 'A')
),
g AS (
  SELECT l_linestatus, v, COUNT(*) AS c, SUM(ia) AS na
  FROM d GROUP BY 1, 2
),
r AS (
  SELECT l_linestatus, c, na,
         2 * COALESCE(SUM(c) OVER (PARTITION BY l_linestatus ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           + c + 1 AS rank2
  FROM g
),
s AS (
  SELECT l_linestatus,
         CAST(SUM(na) AS BIGINT) AS n_a,
         CAST(SUM(c - na) AS BIGINT) AS n_b,
         SUM(CAST(na AS HUGEINT) * rank2) AS r2a,
         SUM(CAST(c AS HUGEINT) * c * c - CAST(c AS HUGEINT)) AS tie
  FROM r GROUP BY 1
)
SELECT l_linestatus, n_a, n_b,
  CAST(r2a - CAST(n_a AS HUGEINT) * (n_a + 1) AS DOUBLE) / 2.0 AS u_a,
  CAST(2 * CAST(n_a AS HUGEINT) * n_b
       - (r2a - CAST(n_a AS HUGEINT) * (n_a + 1)) AS DOUBLE) / 2.0 AS u_b,
  CAST(tie AS DOUBLE) AS tie_term
FROM s
"""


def r230_spearman_rho(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation driver check (`dbs.operators
    .distributions.spearman_rho`): quantity-vs-price monotonic
    association per return flag. Doubled integer mid-ranks +
    decimal(38,0)/HUGEINT moment sums + one shared closed form in
    doubles — rho compares bit-exactly, no tolerance."""
    from datalake_backend_spark.operators.distributions import spearman_rho

    li = table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_quantity", "l_extendedprice"
    )
    return spearman_rho(
        li, "l_quantity", "l_extendedprice", keys=["l_returnflag"]
    )


R230_SQL = """
WITH rx AS (
  SELECT l_returnflag, l_quantity, COUNT(*) AS c,
         2 * COALESCE(SUM(COUNT(*)) OVER (PARTITION BY l_returnflag
             ORDER BY l_quantity
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           + COUNT(*) + 1 AS rx2
  FROM lineitem GROUP BY 1, 2
),
ry AS (
  SELECT l_returnflag, l_extendedprice, COUNT(*) AS c,
         2 * COALESCE(SUM(COUNT(*)) OVER (PARTITION BY l_returnflag
             ORDER BY l_extendedprice
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           + COUNT(*) + 1 AS ry2
  FROM lineitem GROUP BY 1, 2
),
j AS (
  SELECT l.l_returnflag, rx.rx2, ry.ry2
  FROM lineitem l
  JOIN rx ON l.l_returnflag = rx.l_returnflag
         AND l.l_quantity = rx.l_quantity
  JOIN ry ON l.l_returnflag = ry.l_returnflag
         AND l.l_extendedprice = ry.l_extendedprice
),
m AS (
  SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
         SUM(CAST(rx2 AS HUGEINT)) AS sx,
         SUM(CAST(ry2 AS HUGEINT)) AS sy,
         SUM(CAST(rx2 AS HUGEINT) * ry2) AS sxy,
         SUM(CAST(rx2 AS HUGEINT) * rx2) AS sxx,
         SUM(CAST(ry2 AS HUGEINT) * ry2) AS syy
  FROM j GROUP BY 1
)
SELECT l_returnflag, n,
  CAST(CAST(n AS HUGEINT) * sxy - sx * sy AS DOUBLE)
  / (SQRT(CAST(CAST(n AS HUGEINT) * sxx - sx * sx AS DOUBLE))
     * SQRT(CAST(CAST(n AS HUGEINT) * syy - sy * sy AS DOUBLE))) AS rho
FROM m
"""


def r231_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival driver check (`dbs.operators.survival
    .kaplan_meier`): per-user activity span (first→last event, days)
    with conversion-to-purchase as the event and no-purchase users
    right-censored, keyed by a weekday/weekend first-seen cohort
    (computed via the engine-neutral Monday-anchor mod-7, NOT
    dayofweek — Spark and DuckDB disagree on week-start numbering).
    d and at-risk are exact BIGINTs; the product-limit estimate is
    exp-sum-of-logs rounded to 6dp, the repo's convention for libm
    surfaces."""
    from datalake_backend_spark.operators.survival import kaplan_meier

    ev = table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.to_date(F.min("ts")).alias("first_d"),
        F.to_date(F.max("ts")).alias("last_d"),
        F.max((F.col("event_type") == "purchase").cast("int")).alias(
            "event"
        ),
    )
    obs = per_user.select(
        F.when(
            F.datediff(F.col("first_d"), F.lit("1970-01-05").cast("date"))
            % 7
            >= 5,
            F.lit("weekend"),
        )
        .otherwise(F.lit("weekday"))
        .alias("cohort"),
        F.datediff("last_d", "first_d").alias("duration"),
        "event",
    )
    return kaplan_meier(obs, "duration", "event", keys=["cohort"])


R231_SQL = """
WITH pu AS (
  SELECT user_id, CAST(MIN(ts) AS DATE) AS fd, CAST(MAX(ts) AS DATE) AS ld,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS ev
  FROM events GROUP BY 1
),
obs AS (
  SELECT CASE WHEN date_diff('day', DATE '1970-01-05', fd) % 7 >= 5
              THEN 'weekend' ELSE 'weekday' END AS cohort,
         date_diff('day', fd, ld) AS duration, ev
  FROM pu
),
g AS (
  SELECT cohort, duration, CAST(SUM(ev) AS BIGINT) AS d,
         CAST(COUNT(*) AS BIGINT) AS obs
  FROM obs GROUP BY 1, 2
),
s AS (
  SELECT cohort, duration, d,
         CAST(SUM(obs) OVER (PARTITION BY cohort)
              - COALESCE(SUM(obs) OVER (PARTITION BY cohort
                  ORDER BY duration
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS at_risk
  FROM g
),
l AS (
  SELECT cohort, duration, d, at_risk,
         CASE WHEN d >= at_risk THEN -1e9
              WHEN d > 0 THEN ln(CAST(at_risk - d AS DOUBLE)
                                 / CAST(at_risk AS DOUBLE))
              ELSE 0.0 END AS lf
  FROM s
),
c AS (
  SELECT cohort, duration, d, at_risk,
         EXP(SUM(lf) OVER (PARTITION BY cohort ORDER BY duration
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS sv
  FROM l
)
SELECT cohort, CAST(duration AS INT) AS duration, at_risk, d,
       ROUND(sv, 6) AS survival
FROM c WHERE d > 0
"""


def r232_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC bar rollup driver check (`dbs.operators.timeseries
    .ohlc_bars`): daily candlesticks of the events value stream per
    event type — ONE hash aggregate, open/close via min_by/max_by
    over the (ts, event_id) composite so timestamp ties are
    deterministic; the twin picks the same rows with row_number.
    Turnover uses the scaled-integer sum idiom."""
    from datalake_backend_spark.operators.timeseries import ohlc_bars

    ev = table(spark, sf_dir, "events")
    return ohlc_bars(
        ev, "ts", "value", "event_id", keys=["event_type"], bucket="day"
    )


R232_SQL = """
WITH b AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP)
           AS bucket_ts, value, ts, event_id
  FROM events
),
o AS (
  SELECT *,
    row_number() OVER (PARTITION BY event_type, bucket_ts
                       ORDER BY ts, event_id) AS rn_a,
    row_number() OVER (PARTITION BY event_type, bucket_ts
                       ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM b
)
SELECT event_type, bucket_ts,
  MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
  MAX(value) AS high,
  MIN(value) AS low,
  MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
  CAST(COUNT(*) AS BIGINT) AS n_ticks,
  CAST(SUM(CAST(FLOOR(value * 10000) AS BIGINT)) AS DOUBLE) / 10000.0
    AS turnover
FROM o GROUP BY 1, 2
"""


def r233_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown driver check (`dbs.operators.timeseries
    .max_drawdown`): a signed synthetic flow (event value, direction
    by user parity — deterministic) accumulated per event type; the
    running cumsum, running peak and max peak-to-trough decline are
    all scaled-integer window folds, engine-exact."""
    from datalake_backend_spark.operators.timeseries import max_drawdown

    ev = table(spark, sf_dir, "events").withColumn(
        "flow",
        F.col("value")
        * F.when(F.col("user_id") % 2 == 0, F.lit(1.0)).otherwise(
            F.lit(-1.0)
        ),
    )
    return max_drawdown(
        ev, "ts", "flow", "event_id", keys=["event_type"]
    )


R233_SQL = """
WITH f AS (
  SELECT event_type, ts, event_id,
         CAST(FLOOR(value * (CASE WHEN user_id % 2 = 0 THEN 1.0
                                  ELSE -1.0 END) * 10000) AS BIGINT)
           AS sv,
         value * (CASE WHEN user_id % 2 = 0 THEN 1.0 ELSE -1.0 END)
           AS flow
  FROM events
),
c AS (
  SELECT event_type, ts, event_id,
         SUM(sv) OVER (PARTITION BY event_type ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM f
),
p AS (
  SELECT event_type, ts, event_id, cum,
         MAX(cum) OVER (PARTITION BY event_type ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
  FROM c
),
lastrow AS (
  SELECT event_type, cum,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM p
)
SELECT p.event_type,
  CAST(MAX(p.peak - p.cum) AS DOUBLE) / 10000.0 AS max_drawdown,
  CAST(MAX(CASE WHEN l.rn = 1 THEN l.cum END) AS DOUBLE) / 10000.0
    AS final_value,
  CAST(SUM(CASE WHEN p.cum = p.peak THEN 1 ELSE 0 END) AS BIGINT)
    AS n_new_highs,
  CAST(COUNT(*) AS BIGINT) AS n
FROM p JOIN lastrow l
  ON p.event_type = l.event_type AND l.rn = 1
GROUP BY 1
"""


def r234_nearest_depot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius-bounded nearest-neighbor join driver check
    (`dbs.core.geometry.nearest_within_radius`): each customer
    (deterministic integer coordinates from its key) matched to its
    closest supplier depot within Euclidean radius 40 — grid-blocked
    candidates + integer argmin refine on the engine side; the twin
    brute-forces the cross product, proving the blocking loses no
    pair. Ties break by smallest depot id."""
    from datalake_backend_spark.core.geometry import nearest_within_radius

    cust = table(spark, sf_dir, "customer").select(
        "c_custkey",
        (F.col("c_custkey") * 37 % 1000).alias("x"),
        (F.col("c_custkey") * 91 % 1000).alias("y"),
    )
    sup = table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        (F.col("s_suppkey") * 53 % 1000).alias("x"),
        (F.col("s_suppkey") * 17 % 1000).alias("y"),
    )
    return nearest_within_radius(
        cust, sup, 40, "c_custkey", "s_suppkey"
    )


R234_SQL = """
WITH c AS (
  SELECT c_custkey, (c_custkey * 37) % 1000 AS x,
         (c_custkey * 91) % 1000 AS y
  FROM customer
),
s AS (
  SELECT s_suppkey, (s_suppkey * 53) % 1000 AS x,
         (s_suppkey * 17) % 1000 AS y
  FROM supplier
),
p AS (
  SELECT c.c_custkey, s.s_suppkey,
         (c.x - s.x) * (c.x - s.x) + (c.y - s.y) * (c.y - s.y) AS d2
  FROM c CROSS JOIN s
  WHERE (c.x - s.x) * (c.x - s.x) + (c.y - s.y) * (c.y - s.y) <= 1600
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY c_custkey
                               ORDER BY d2, s_suppkey) AS rn
  FROM p
)
SELECT c_custkey, s_suppkey AS nearest_s_suppkey,
       CAST(d2 AS BIGINT) AS dist2
FROM r WHERE rn = 1
"""


# CCW convex pentagon used by r235 (verified convex: every edge cross
# product against the next vertex chain is positive)
_R235_PENTAGON = [(200, 100), (800, 150), (900, 600), (500, 950), (120, 700)]


def r235_point_in_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-convex-polygon driver check (`dbs.core.geometry
    .point_in_convex_polygon`): customers at deterministic integer
    coordinates tested against a literal CCW pentagon via the
    half-plane cross-product conjunction — pure BIGINT predicates
    inside codegen, no geometry lib — rolled up per market segment.
    The twin inlines the identical five-term conjunction."""
    from datalake_backend_spark.core.geometry import point_in_convex_polygon

    cust = table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        (F.col("c_custkey") * 37 % 1000).alias("x"),
        (F.col("c_custkey") * 91 % 1000).alias("y"),
    )
    inside = point_in_convex_polygon(
        F.col("x"), F.col("y"), _R235_PENTAGON
    )
    return (
        cust.withColumn("_in", inside.cast("int"))
        .groupBy("c_mktsegment")
        .agg(
            F.sum("_in").cast("long").alias("n_inside"),
            F.count("*").alias("n_total"),
            F.sum(
                F.when(F.col("_in") == 1, F.col("c_custkey")).otherwise(0)
            ).alias("key_checksum"),
        )
    )


def _r235_sql() -> str:
    verts = _R235_PENTAGON
    terms = []
    n = len(verts)
    for i in range(n):
        x1, y1 = verts[i]
        x2, y2 = verts[(i + 1) % n]
        terms.append(
            f"(({x2 - x1}) * (y - ({y1})) - ({y2 - y1}) * (x - ({x1}))"
            f" >= 0)"
        )
    cond = " AND ".join(terms)
    return f"""
WITH c AS (
  SELECT c_custkey, c_mktsegment, (c_custkey * 37) % 1000 AS x,
         (c_custkey * 91) % 1000 AS y
  FROM customer
),
t AS (
  SELECT c_custkey, c_mktsegment,
         CASE WHEN {cond} THEN 1 ELSE 0 END AS inp
  FROM c
)
SELECT c_mktsegment,
  CAST(SUM(inp) AS BIGINT) AS n_inside,
  CAST(COUNT(*) AS BIGINT) AS n_total,
  CAST(SUM(CASE WHEN inp = 1 THEN c_custkey ELSE 0 END) AS BIGINT)
    AS key_checksum
FROM t GROUP BY 1
"""


R235_SQL = _r235_sql()


def r236_business_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Business-day lead-time driver check (`dbs.core.calendar
    .business_days_between`): weekdays between order date and each
    line's ship date, O(1) closed form (Monday-anchor integer
    arithmetic — never an exploded per-day sequence), rolled up per
    order priority. All-integer, engine-exact; the twin repeats the
    same two-anchor formula."""
    from datalake_backend_spark.core.calendar import business_days_between

    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    lead = business_days_between(
        F.to_date("o_orderdate"), F.to_date("l_shipdate")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .withColumn("lead_bd", lead)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            F.sum("lead_bd").alias("sum_lead"),
            (F.sum("lead_bd").cast("double") / F.count("*")).alias(
                "avg_lead"
            ),
            F.min("lead_bd").alias("min_lead"),
            F.max("lead_bd").alias("max_lead"),
        )
    )


R236_SQL = """
WITH j AS (
  SELECT o.o_orderpriority,
         date_diff('day', DATE '1970-01-05',
                   CAST(l.l_shipdate AS DATE) + 1) AS ke,
         date_diff('day', DATE '1970-01-05',
                   CAST(o.o_orderdate AS DATE) + 1) AS ks
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
b AS (
  SELECT o_orderpriority,
         (5 * ((ke - ke % 7) // 7) + LEAST(ke % 7, 5))
         - (5 * ((ks - ks % 7) // 7) + LEAST(ks % 7, 5)) AS lead_bd
  FROM j
)
SELECT o_orderpriority,
  CAST(COUNT(*) AS BIGINT) AS n,
  CAST(SUM(lead_bd) AS BIGINT) AS sum_lead,
  CAST(SUM(lead_bd) AS DOUBLE) / COUNT(*) AS avg_lead,
  CAST(MIN(lead_bd) AS BIGINT) AS min_lead,
  CAST(MAX(lead_bd) AS BIGINT) AS max_lead
FROM b GROUP BY 1
"""


def r237_seat_apportionment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder apportionment driver check (`dbs.operators
    .allocation.apportion_largest_remainder`): 1000 indivisible
    budget units split across market segments proportionally to
    customer counts — floor shares plus exact integer-remainder
    ranking (ties by key), deterministic and engine-exact."""
    from datalake_backend_spark.operators.allocation import (
        apportion_largest_remainder,
    )

    cust = (
        table(spark, sf_dir, "customer")
        .select("c_mktsegment")
        .withColumn("wt", F.lit(1))
    )
    return apportion_largest_remainder(cust, "c_mktsegment", "wt", 1000)


R237_SQL = """
WITH w AS (
  SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS w
  FROM customer GROUP BY 1
),
t AS (SELECT SUM(w) AS tw FROM w),
j AS (
  SELECT c_mktsegment, w,
         (1000 * w) // tw AS base, (1000 * w) % tw AS rem
  FROM w, t
),
l AS (SELECT 1000 - SUM(base) AS lo FROM j),
r AS (
  SELECT *, row_number() OVER (ORDER BY rem DESC, c_mktsegment) AS rk
  FROM j
)
SELECT c_mktsegment, w,
  CAST(base + CASE WHEN rk <= lo THEN 1 ELSE 0 END AS BIGINT)
    AS seats_alloc
FROM r, l
"""


def r238_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT driver check (§2.8 wide→long reshaping, the inverse
    of r31/r164's pivot): per-returnflag exact decimal sums melt
    from three metric COLUMNS into (metric, amount) ROWS via native
    ``DataFrame.unpivot`` — no explode-of-structs hand-rolling; the
    twin uses SQL UNPIVOT. Metric names come from the column names
    on both engines, so a drift in either side's aliases fails the
    hash."""
    li = table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        dec_sum("l_quantity").alias("sum_qty"),
        dec_sum("l_extendedprice").alias("sum_price"),
        dec_sum("l_discount").alias("sum_disc"),
    )
    return agg.unpivot(
        ["l_returnflag"],
        ["sum_qty", "sum_price", "sum_disc"],
        "metric",
        "amount",
    )


R238_SQL = """
WITH a AS (
  SELECT l_returnflag,
    CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
      AS sum_price,
    CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc
  FROM lineitem GROUP BY 1
)
SELECT l_returnflag, metric, amount
FROM (UNPIVOT a ON sum_qty, sum_price, sum_disc
      INTO NAME metric VALUE amount)
"""


def r239_node_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph node-similarity driver check (`dbs.operators.graph
    .neighborhood_jaccard`): size-1 parts compared by the supplier
    sets that ship them — wedge self-join under each shared supplier
    (never all-pairs; the hub cap guards fan-out at scale), exact
    BIGINT intersection/union counts, and an IEEE-exact Jaccard
    division. The twin recomputes wedges relationally."""
    from datalake_backend_spark.operators.graph import neighborhood_jaccard

    li = table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    p = table(spark, sf_dir, "part").where(F.col("p_size") == 1).select(
        "p_partkey"
    )
    edges = li.join(
        F.broadcast(p), li.l_partkey == p.p_partkey
    ).select("l_partkey", "l_suppkey")
    return neighborhood_jaccard(
        edges, "l_partkey", "l_suppkey", min_common=2
    )


R239_SQL = """
WITH e AS (
  SELECT DISTINCT l.l_partkey, l.l_suppkey
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  WHERE p.p_size = 1
),
deg AS (SELECT l_partkey, COUNT(*) AS d FROM e GROUP BY 1),
c AS (
  SELECT a.l_partkey AS node_a, b.l_partkey AS node_b,
         CAST(COUNT(*) AS BIGINT) AS common
  FROM e a JOIN e b ON a.l_suppkey = b.l_suppkey
  WHERE a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= 2
)
SELECT c.node_a, c.node_b, c.common,
  CAST(da.d + db.d - c.common AS BIGINT) AS union_size,
  CAST(c.common AS DOUBLE) / (da.d + db.d - c.common) AS jaccard
FROM c
JOIN deg da ON c.node_a = da.l_partkey
JOIN deg db ON c.node_b = db.l_partkey
"""

# --- round-11 additions, batch 12 (r240-r244) -------------------------------
# Deterministic sketching/sampling (KMV, priority), shuffle-planning
# diagnostics (key skew), threshold-free model evaluation (exact AUC)
# and corpus collocation mining (bigram lift).


def r240_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-count sketch driver check (`dbs.operators
    .distributions.kmv_distinct`): per-event-type distinct users via
    the k-minimum-values estimator over the portable md5 hash —
    unlike r99's HLL (engine-opaque registers, accuracy-band
    oracle), every KMV output is deterministic, so the twin pins the
    kth hash and the estimate EXACTLY. k=256; estimate
    (k−1)·2^60 / h_k."""
    from datalake_backend_spark.operators.distributions import kmv_distinct

    ev = table(spark, sf_dir, "events")
    return kmv_distinct(ev, "user_id", keys=["event_type"], k=256)


R240_SQL = """
WITH dh AS (
  SELECT DISTINCT event_type,
    CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
         AS BIGINT) AS h
  FROM events
),
r AS (
  SELECT event_type, h,
         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
  FROM dh
),
t AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_kept,
         MAX(h) AS kth_hash
  FROM r WHERE rn <= 256 GROUP BY 1
)
SELECT event_type, n_kept, kth_hash,
  CASE WHEN n_kept < 256 THEN CAST(n_kept AS DOUBLE)
       ELSE (255.0 * 1152921504606846976.0) / CAST(kth_hash AS DOUBLE)
  END AS estimate
FROM t
"""


def r241_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priority-sampling driver check (`dbs.datapipe.sampling
    .priority_sample`): exactly 20 orders per priority class, chosen
    weight-proportionally by total price via Duffield-Lund-Thorup
    priorities w/u with the deterministic portable-hash uniform —
    the fixed-budget companion to q78's caps and r125's Bernoulli
    weighting. The selected SET is engine-exact (IEEE divisions of
    identical numbers), so the twin reproduces it row for row."""
    from datalake_backend_spark.datapipe.sampling import priority_sample

    o = table(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_orderkey", "o_totalprice"
    )
    out = priority_sample(
        o, "o_totalprice", "o_orderkey", 20, group_col="o_orderpriority"
    )
    return out.select(
        "o_orderpriority",
        "o_orderkey",
        "o_totalprice",
        F.col("_prio").alias("prio"),
    )


R241_SQL = """
WITH p AS (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
    o_totalprice /
      (CAST(CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15))
                 AS BIGINT) + 1 AS DOUBLE)
       / 1152921504606846976.0) AS prio
  FROM orders
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY o_orderpriority
                               ORDER BY prio DESC, o_orderkey) AS rn
  FROM p
)
SELECT o_orderpriority, o_orderkey, o_totalprice, prio
FROM r WHERE rn <= 20
"""


def r242_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew diagnostic driver check (`dbs.operators
    .distributions.key_skew_profile`): the orders-per-customer size
    distribution — cardinality, max/mean/positional-median group
    size, skew factor, heaviest key — the measurement that decides
    salting vs AQE skew-join before a 100 TB shuffle. One hash
    aggregate; every window runs over key-cardinality metadata
    rows."""
    from datalake_backend_spark.operators.distributions import (
        key_skew_profile,
    )

    o = table(spark, sf_dir, "orders")
    return key_skew_profile(o, ["o_custkey"])


R242_SQL = """
WITH s AS (
  SELECT CAST(o_custkey AS VARCHAR) AS k, CAST(COUNT(*) AS BIGINT) AS n
  FROM orders GROUP BY 1
),
st AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
         CAST(SUM(n) AS BIGINT) AS n_rows,
         MAX(n) AS max_n,
         CAST(SUM(n) AS DOUBLE) / COUNT(*) AS mean_n,
         CAST(MAX(n) AS DOUBLE) / (CAST(SUM(n) AS DOUBLE) / COUNT(*))
           AS skew_factor
  FROM s
),
r AS (
  SELECT k, n,
         row_number() OVER (ORDER BY n, k) AS rm,
         row_number() OVER (ORDER BY n DESC, k) AS rt
  FROM s
)
SELECT st.n_keys, st.n_rows, st.max_n, st.mean_n, st.skew_factor,
  (SELECT r.n FROM r, st WHERE r.rm = (st.n_keys + 1) // 2) AS median_n,
  (SELECT r.k FROM r WHERE r.rt = 1) AS heaviest_key
FROM st
"""


def r243_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC driver check (`dbs.operators.evaluation
    .roc_auc`): does extended price separate returned lineitems from
    the rest, per linestatus — AUC as the normalized Mann-Whitney
    statistic over all-integer doubled mid-ranks, tie-aware, no
    trapezoid approximation, engine-exact to the last bit."""
    from datalake_backend_spark.operators.evaluation import roc_auc

    li = table(spark, sf_dir, "lineitem").select(
        "l_linestatus",
        "l_extendedprice",
        (F.col("l_returnflag") == "R").cast("int").alias("label"),
    )
    return roc_auc(
        li, "l_extendedprice", "label", keys=["l_linestatus"]
    )


R243_SQL = """
WITH d AS (
  SELECT l_linestatus, l_extendedprice AS v,
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS ia
  FROM lineitem
),
g AS (
  SELECT l_linestatus, v, COUNT(*) AS c, SUM(ia) AS na
  FROM d GROUP BY 1, 2
),
r AS (
  SELECT l_linestatus, c, na,
         2 * COALESCE(SUM(c) OVER (PARTITION BY l_linestatus ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           + c + 1 AS rank2
  FROM g
),
s AS (
  SELECT l_linestatus,
         CAST(SUM(na) AS BIGINT) AS n_pos,
         CAST(SUM(c - na) AS BIGINT) AS n_neg,
         SUM(CAST(na AS HUGEINT) * rank2) AS r2a
  FROM r GROUP BY 1
)
SELECT l_linestatus, n_pos, n_neg,
  (CAST(r2a - CAST(n_pos AS HUGEINT) * (n_pos + 1) AS DOUBLE) / 2.0)
  / (CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)) AS auc
FROM s
"""


def r244_bigram_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation-mining driver check (`dbs.datapipe.text
    .bigram_lift`): adjacent-token association lift over the
    documents corpus (the log-free PMI core — phrase/MWE detection
    before shingling). Counts are BIGINT, the lift ratio accumulates
    in decimal(38,0)/HUGEINT and divides once in doubles —
    engine-exact; min_count prunes inside the first aggregate."""
    from datalake_backend_spark.datapipe.text import bigram_lift

    docs = table(spark, sf_dir, "documents")
    return bigram_lift(docs, "text", min_count=5)


R244_SQL = r"""
WITH arr AS (
  SELECT regexp_split_to_array(trim(text), '\s+') AS t FROM documents
),
pairs AS (
  SELECT unnest(t[1:len(t) - 1]) AS w1, unnest(t[2:len(t)]) AS w2
  FROM arr WHERE len(t) >= 2
),
big AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n12
  FROM pairs GROUP BY 1, 2 HAVING COUNT(*) >= 5
),
uni AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS n
  FROM (SELECT unnest(t) AS w FROM arr) GROUP BY 1
),
tot AS (SELECT SUM(n) AS ntok FROM uni)
SELECT b.w1, b.w2, b.n12, u1.n AS n1, u2.n AS n2,
  CAST(CAST(b.n12 AS HUGEINT) * tot.ntok AS DOUBLE)
  / CAST(CAST(u1.n AS HUGEINT) * u2.n AS DOUBLE) AS lift
FROM big b
JOIN uni u1 ON b.w1 = u1.w
JOIN uni u2 ON b.w2 = u2.w
CROSS JOIN tot
"""

# --- round-11 additions, batch 13 (r245-r247) -------------------------------
# Series memory (exact ACF), time-nearest alignment, and density-based
# spatial clustering — the grid/argmin blocking idioms carried into
# three more surfaces.


def r245_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-k autocorrelation driver check (`dbs.operators.timeseries
    .autocorrelation`): day-over-day and week-over-week memory of the
    daily event-value series per event type — exact scaled-integer
    series, one self equi-join per lag on the shifted date (pairs
    only where both buckets exist), r123's decimal-moment closed
    form with per-moment double casts (scale=2 keeps every moment
    inside int64, where both engines' int->double casts are correctly
    rounded); acf compares bit-exactly."""
    from datalake_backend_spark.operators.timeseries import autocorrelation

    ev = table(spark, sf_dir, "events")
    return autocorrelation(
        ev, "ts", "value", keys=["event_type"], lags=(1, 7), scale=2
    )


R245_SQL = """
WITH daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
         SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS v
  FROM events GROUP BY 1, 2
),
lags AS (SELECT unnest([1, 7]) AS lag),
j AS (
  SELECT c.event_type, l.lag, p.v AS x, c.v AS y
  FROM daily c
  CROSS JOIN lags l
  JOIN daily p ON p.event_type = c.event_type AND p.d + l.lag = c.d
),
m AS (
  SELECT event_type, lag, CAST(COUNT(*) AS BIGINT) AS n_pairs,
    SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
    SUM(CAST(x AS HUGEINT) * y) AS sxy,
    SUM(CAST(x AS HUGEINT) * x) AS sxx,
    SUM(CAST(y AS HUGEINT) * y) AS syy
  FROM j GROUP BY 1, 2
)
SELECT event_type, CAST(lag AS INT) AS lag, n_pairs,
  (CAST(n_pairs AS DOUBLE) * CAST(sxy AS DOUBLE)
   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
  / (SQRT(CAST(n_pairs AS DOUBLE) * CAST(sxx AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
     * SQRT(CAST(n_pairs AS DOUBLE) * CAST(syy AS DOUBLE)
            - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS acf
FROM m
"""


def r246_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-in-time as-of driver check (`dbs.operators.asof
    .asof_nearest`): each click matched to the same user's closest
    purchase within ±1 hour (pandas merge_asof 'nearest' semantics —
    neither pure-backward r34 nor pure-forward r115 can express it).
    Epoch-bucket blocking (the 1D twin of r234's spatial grid), exact
    integer |Δt| argmin, earlier-row preference on ties; the twin
    brute-forces the per-user cross product."""
    from datalake_backend_spark.operators.asof import asof_nearest

    ev = table(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"), "user_id", F.col("ts").alias("pts")
    )
    out = asof_nearest(
        clicks, purchases, "ts", "pts", 3600, "pid", by=["user_id"]
    )
    return out.select("event_id", "user_id", "nearest_pid", "delta_s")


R246_SQL = """
WITH c AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
),
p AS (
  SELECT event_id AS pid, user_id, ts AS pts
  FROM events WHERE event_type = 'purchase'
),
cand AS (
  SELECT c.event_id, c.user_id, p.pid,
         CAST(date_diff('second', c.ts, p.pts) AS BIGINT) AS dt
  FROM c JOIN p ON c.user_id = p.user_id
  WHERE ABS(date_diff('second', c.ts, p.pts)) <= 3600
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY event_id
             ORDER BY ABS(dt),
                      CASE WHEN dt < 0 THEN 0 ELSE 1 END, pid) AS rn
  FROM cand
)
SELECT event_id, user_id, pid AS nearest_pid, dt AS delta_s
FROM r WHERE rn = 1
"""


def r247_grid_density_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Density-based clustering driver check (`dbs.operators
    .clustering.grid_density_clusters`): customers mapped onto seven
    deterministic diagonal blobs; dense grid cells (≥3 points)
    connect through the 8-neighborhood and label by connected
    component (GriDBSCAN-style — no k, sparse cells are noise).
    Components reuse the dedup min-label/star machinery; the twin
    recomputes reachability with a recursive CTE over the (fixed-
    size, SF-independent) dense-cell graph."""
    from datalake_backend_spark.operators.clustering import (
        grid_density_clusters,
    )

    cust = table(spark, sf_dir, "customer").select(
        (
            (F.col("c_custkey") % 7) * 140 + (F.col("c_custkey") * 37) % 50
        ).alias("x"),
        (
            (F.col("c_custkey") % 7) * 140 + (F.col("c_custkey") * 91) % 50
        ).alias("y"),
    )
    return grid_density_clusters(cust, "x", "y", cell=25, min_pts=3)


R247_SQL = """
WITH RECURSIVE pts AS (
  SELECT (c_custkey % 7) * 140 + (c_custkey * 37) % 50 AS x,
         (c_custkey % 7) * 140 + (c_custkey * 91) % 50 AS y
  FROM customer
),
cells AS (
  SELECT x // 25 AS cx, y // 25 AS cy, CAST(COUNT(*) AS BIGINT) AS n
  FROM pts GROUP BY 1, 2 HAVING COUNT(*) >= 3
),
nodes AS (SELECT cx * 2097152 + cy AS cid, cx, cy, n FROM cells),
edges AS (
  SELECT a.cid AS src, b.cid AS dst
  FROM nodes a JOIN nodes b
    ON abs(a.cx - b.cx) <= 1 AND abs(a.cy - b.cy) <= 1
   AND a.cid <> b.cid
),
reach(node, r) AS (
  SELECT cid, cid FROM nodes
  UNION
  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.node
)
SELECT n.cx, n.cy, n.n AS n_points, MIN(reach.r) AS cluster_id
FROM nodes n JOIN reach ON reach.node = n.cid
GROUP BY 1, 2, 3
"""

# --- round-11 additions, batch 14 (r248-r250) -------------------------------
# Uncertainty, causal contrast, and calibration — the measurement tier
# over the same event stream the splitters aggregate.


def r248_block_jackknife(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-one-block jackknife driver check (`dbs.operators
    .distributions.block_jackknife`): standard error of the mean
    event value per type, units = users hashed into 16 deterministic
    blocks (no bootstrap RNG). Leave-one-out means are exact ratios
    of scaled-integer sums; deviations from the grand mean quantize
    at 10^-9 so every moment stays inside int64 (the r245 cast
    hazard, designed out); the twin reruns the identical closed
    form."""
    from datalake_backend_spark.operators.distributions import (
        block_jackknife,
    )

    ev = table(spark, sf_dir, "events")
    return block_jackknife(
        ev, "value", "user_id", keys=["event_type"], blocks=16
    )


R248_SQL = """
WITH pb AS (
  SELECT event_type,
    CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
         AS BIGINT) % 16 AS b,
    SUM(CAST(FLOOR(value * 10000) AS HUGEINT)) AS s,
    CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
t AS (
  SELECT event_type, SUM(s) AS st, CAST(SUM(n) AS BIGINT) AS nt,
         CAST(COUNT(*) AS BIGINT) AS n_blocks
  FROM pb GROUP BY 1
),
l AS (
  SELECT pb.event_type, t.n_blocks, t.nt, t.st,
    CASE WHEN t.nt > pb.n THEN
      CAST(FLOOR((CAST(t.st - pb.s AS DOUBLE) / CAST(t.nt - pb.n AS DOUBLE)
                  - CAST(t.st AS DOUBLE) / CAST(t.nt AS DOUBLE))
                 * 1000000000.0) AS HUGEINT)
    END AS mi
  FROM pb JOIN t USING (event_type)
),
a AS (
  SELECT event_type,
    MAX(n_blocks) AS n_blocks, MAX(nt) AS n,
    (CAST(MAX(st) AS DOUBLE) / 10000.0) / CAST(MAX(nt) AS DOUBLE)
      AS mean,
    SUM(mi) AS smi, SUM(mi * mi) AS smi2
  FROM l GROUP BY 1
)
SELECT event_type, n, n_blocks, mean,
  SQRT((CAST(smi2 AS DOUBLE)
        - CAST(smi AS DOUBLE) * CAST(smi AS DOUBLE)
          / CAST(n_blocks AS DOUBLE))
       * (CAST(n_blocks AS DOUBLE) - 1.0) / CAST(n_blocks AS DOUBLE))
  / 1000000000.0 / 10000.0 AS jackknife_se
FROM a
"""


def r249_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences driver check (`dbs.operators
    .evaluation.diff_in_diff`): even-user cohort as the rollout arm,
    odd users as the counterfactual, periods split mid-January — one
    conditional-aggregation pass computes the 2×2 cell means (exact
    scaled sums) and the DiD contrast, engine-exact."""
    from datalake_backend_spark.operators.evaluation import diff_in_diff

    ev = table(spark, sf_dir, "events").select(
        F.when(F.col("user_id") % 2 == 0, F.lit("treat"))
        .otherwise(F.lit("ctl"))
        .alias("grp"),
        F.when(
            F.col("ts") >= F.lit("2024-01-16").cast("timestamp"),
            F.lit("post"),
        )
        .otherwise(F.lit("pre"))
        .alias("period"),
        "value",
    )
    return diff_in_diff(ev, "grp", "period", "value", "treat", "post")


R249_SQL = """
WITH d AS (
  SELECT CASE WHEN user_id % 2 = 0 THEN 'treat' ELSE 'ctl' END AS grp,
         CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN 'post'
              ELSE 'pre' END AS period,
         CAST(FLOOR(value * 10000) AS HUGEINT) AS sv
  FROM events
),
a AS (
  SELECT
    SUM(CASE WHEN grp = 'treat' AND period = 'pre' THEN sv END) AS s_t_pre,
    CAST(COUNT(CASE WHEN grp = 'treat' AND period = 'pre' THEN 1 END)
         AS BIGINT) AS n_t_pre,
    SUM(CASE WHEN grp = 'treat' AND period = 'post' THEN sv END) AS s_t_post,
    CAST(COUNT(CASE WHEN grp = 'treat' AND period = 'post' THEN 1 END)
         AS BIGINT) AS n_t_post,
    SUM(CASE WHEN grp = 'ctl' AND period = 'pre' THEN sv END) AS s_c_pre,
    CAST(COUNT(CASE WHEN grp = 'ctl' AND period = 'pre' THEN 1 END)
         AS BIGINT) AS n_c_pre,
    SUM(CASE WHEN grp = 'ctl' AND period = 'post' THEN sv END) AS s_c_post,
    CAST(COUNT(CASE WHEN grp = 'ctl' AND period = 'post' THEN 1 END)
         AS BIGINT) AS n_c_post
  FROM d
)
SELECT n_t_pre, n_t_post, n_c_pre, n_c_post,
  (CAST(s_t_pre AS DOUBLE) / 10000.0) / CAST(n_t_pre AS DOUBLE)
    AS mean_t_pre,
  (CAST(s_t_post AS DOUBLE) / 10000.0) / CAST(n_t_post AS DOUBLE)
    AS mean_t_post,
  (CAST(s_c_pre AS DOUBLE) / 10000.0) / CAST(n_c_pre AS DOUBLE)
    AS mean_c_pre,
  (CAST(s_c_post AS DOUBLE) / 10000.0) / CAST(n_c_post AS DOUBLE)
    AS mean_c_post,
  ((CAST(s_t_post AS DOUBLE) / 10000.0) / CAST(n_t_post AS DOUBLE)
   - (CAST(s_t_pre AS DOUBLE) / 10000.0) / CAST(n_t_pre AS DOUBLE))
  - ((CAST(s_c_post AS DOUBLE) / 10000.0) / CAST(n_c_post AS DOUBLE)
     - (CAST(s_c_pre AS DOUBLE) / 10000.0) / CAST(n_c_pre AS DOUBLE))
    AS did
FROM a
"""


def r250_reliability_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration reliability-diagram driver check (`dbs.operators
    .evaluation.reliability_bins`): event value rescaled to a [0, 1]
    score vs the is-purchase label, ten equal-width bins, exact mean
    score and positive rate per bin — the recalibration input. Top
    edge closes into the last bin."""
    from datalake_backend_spark.operators.evaluation import (
        reliability_bins,
    )

    ev = table(spark, sf_dir, "events").select(
        F.least(F.col("value") / F.lit(500.0), F.lit(1.0)).alias("score"),
        (F.col("event_type") == "purchase").cast("int").alias("label"),
    )
    return reliability_bins(ev, "score", "label", n_bins=10)


R250_SQL = """
WITH d AS (
  SELECT LEAST(value / 500.0, 1.0) AS score,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS label
  FROM events
),
b AS (
  SELECT LEAST(CAST(FLOOR(score * 10) AS INT), 9) AS bin, score, label
  FROM d
)
SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
  CAST(SUM(CAST(FLOOR(score * 1000000) AS BIGINT)) AS DOUBLE)
    / 1000000.0 / CAST(COUNT(*) AS DOUBLE) AS mean_score,
  CAST(SUM(label) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS pos_rate
FROM b GROUP BY 1
"""

# --- round-11 additions, batch 15 (r251-r253) -------------------------------
# Divisor apportionment, information-theoretic association, and the
# cohort value curve.


def r251_dhondt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D'Hondt divisor apportionment driver check (`dbs.operators
    .allocation.apportion_dhondt`): 50 units across market segments —
    the quota-violation-free counterpart to r237's largest-remainder
    method; top-50 quotients w/k with deterministic (key, divisor)
    tie-breaks, zero-seat keys included."""
    from datalake_backend_spark.operators.allocation import apportion_dhondt

    cust = (
        table(spark, sf_dir, "customer")
        .select("c_mktsegment")
        .withColumn("wt", F.lit(1))
    )
    return apportion_dhondt(cust, "c_mktsegment", "wt", 50)


R251_SQL = """
WITH w AS (
  SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS w
  FROM customer GROUP BY 1
),
q AS (
  SELECT c_mktsegment, w, unnest(range(1, 51)) AS dk FROM w
),
q2 AS (
  SELECT c_mktsegment, w, dk,
         CAST(w AS DOUBLE) / CAST(dk AS DOUBLE) AS quo
  FROM q
),
r AS (
  SELECT *, row_number() OVER (ORDER BY quo DESC, c_mktsegment, dk)
         AS rn
  FROM q2
),
won AS (
  SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_won
  FROM r WHERE rn <= 50 GROUP BY 1
)
SELECT w.c_mktsegment, w.w,
       CAST(COALESCE(won.n_won, 0) AS BIGINT) AS seats_alloc
FROM w LEFT JOIN won USING (c_mktsegment)
"""


def r252_categorical_mi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual-information driver check (`dbs.operators.distributions
    .categorical_mi`): does the user's hash cohort carry information
    about the event type (it shouldn't — the synthetic data is
    independent, so MI ≈ 0 while both entropies are near-maximal).
    Per-cell p·ln terms quantize at 10^-12 before summation so the
    float sum is order-independent; entropies/MI/NMI round to 6dp,
    the libm convention."""
    from datalake_backend_spark.operators.distributions import (
        categorical_mi,
    )

    ev = table(spark, sf_dir, "events").select(
        "event_type", (F.col("user_id") % 5).alias("cohort")
    )
    return categorical_mi(ev, "event_type", "cohort")


R252_SQL = """
WITH cells AS (
  SELECT event_type AS x, user_id % 5 AS y,
         CAST(COUNT(*) AS BIGINT) AS nxy
  FROM events GROUP BY 1, 2
),
mx AS (SELECT x, CAST(SUM(nxy) AS BIGINT) AS nx FROM cells GROUP BY 1),
my AS (SELECT y, CAST(SUM(nxy) AS BIGINT) AS ny FROM cells GROUP BY 1),
t AS (SELECT CAST(SUM(nxy) AS BIGINT) AS n FROM cells),
j AS (
  SELECT c.x, c.y, c.nxy, mx.nx, my.ny, t.n,
         row_number() OVER (PARTITION BY c.x ORDER BY c.y) AS rx,
         row_number() OVER (PARTITION BY c.y ORDER BY c.x) AS ry
  FROM cells c JOIN mx USING (x) JOIN my USING (y) CROSS JOIN t
),
terms AS (
  SELECT
    CAST(FLOOR((CAST(nxy AS DOUBLE) / CAST(n AS DOUBLE))
         * ln((CAST(nxy AS DOUBLE) / CAST(n AS DOUBLE))
              / ((CAST(nx AS DOUBLE) / CAST(n AS DOUBLE))
                 * (CAST(ny AS DOUBLE) / CAST(n AS DOUBLE))))
         * 1000000000000.0) AS BIGINT) AS mi_t,
    CASE WHEN rx = 1 THEN
      CAST(FLOOR(-(CAST(nx AS DOUBLE) / CAST(n AS DOUBLE))
           * ln(CAST(nx AS DOUBLE) / CAST(n AS DOUBLE))
           * 1000000000000.0) AS BIGINT)
    ELSE 0 END AS hx_t,
    CASE WHEN ry = 1 THEN
      CAST(FLOOR(-(CAST(ny AS DOUBLE) / CAST(n AS DOUBLE))
           * ln(CAST(ny AS DOUBLE) / CAST(n AS DOUBLE))
           * 1000000000000.0) AS BIGINT)
    ELSE 0 END AS hy_t
  FROM j
),
a AS (
  SELECT SUM(mi_t) AS smi, SUM(hx_t) AS shx, SUM(hy_t) AS shy FROM terms
)
SELECT
  ROUND(CAST(shx AS DOUBLE) / 1000000000000.0, 6) AS h_x,
  ROUND(CAST(shy AS DOUBLE) / 1000000000000.0, 6) AS h_y,
  ROUND(CAST(smi AS DOUBLE) / 1000000000000.0, 6) AS mi,
  ROUND((CAST(smi AS DOUBLE) / 1000000000000.0)
        / SQRT((CAST(shx AS DOUBLE) / 1000000000000.0)
               * (CAST(shy AS DOUBLE) / 1000000000000.0)), 6) AS nmi
FROM a
"""


def r253_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value driver check (`dbs.operators.windows
    .cohort_ltv`): weekly first-active cohorts, cumulative event
    value per cohort member by cohort age — the revenue counterpart
    of r168's retention triangle; scaled-integer sums, a cumulative
    window over (cohort × age) metadata rows only, one IEEE division
    per row."""
    from datalake_backend_spark.operators.windows import cohort_ltv

    ev = table(spark, sf_dir, "events")
    return cohort_ltv(ev, "user_id", "ts", "value", bucket_days=7)


R253_SQL = """
WITH ev AS (
  SELECT user_id AS u, epoch_us(ts) // 604800000000 AS p,
         CAST(FLOOR(value * 10000) AS BIGINT) AS v
  FROM events
),
first AS (SELECT u, MIN(p) AS cohort FROM ev GROUP BY 1),
sized AS (
  SELECT cohort, CAST(COUNT(*) AS BIGINT) AS n_users
  FROM first GROUP BY 1
),
pa AS (
  SELECT f.cohort, e.p - f.cohort AS age, SUM(e.v) AS s
  FROM ev e JOIN first f ON e.u = f.u GROUP BY 1, 2
),
c AS (
  SELECT cohort, age,
         SUM(s) OVER (PARTITION BY cohort ORDER BY age
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM pa
)
SELECT c.cohort AS cohort_period, CAST(c.age AS BIGINT) AS age,
       s.n_users,
       CAST(c.cum AS DOUBLE) / 10000.0 / CAST(s.n_users AS DOUBLE)
         AS ltv_per_user
FROM c JOIN sized s ON c.cohort = s.cohort
"""

# --- round-11 additions, batch 16 (r254) ------------------------------------


def r254_streaming_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming BOUNDED-STATE distinct-count driver check
    (`dbs.streaming.pipeline.start_kmv_reach_sink`): the events feed
    drains in two micro-batches, each folding user ids into per-type
    KMV k-minima (k=128) that merge into a versioned state table —
    r227's bitmap holds exact reach at O(id-range) words, this holds
    a FIXED 128 hashes per key at ANY cardinality, the sketch you
    deploy when ids are unbounded. The union of k-minima IS the
    global k-minimum, so the finalized snapshot must be BIT-IDENTICAL
    to the one-shot KMV over all data — which is what the twin
    computes relationally (no tolerance, unlike HLL)."""
    from datalake_backend_spark.operators.incremental import finalize_kmv
    from datalake_backend_spark.sources.versioned import VersionedTable
    from datalake_backend_spark.streaming.pipeline import (
        start_kmv_reach_sink,
        streaming_session,
    )

    spark = streaming_session(spark)
    ev = table(spark, sf_dir, "events").select(
        "event_id", "event_type", "user_id"
    )
    mid = ev.agg(F.expr("percentile_approx(event_id, 0.5)")).first()[0]
    with replay_batches(
        spark, sf_dir, "r254_kmv", _halves(ev, "event_id", mid)
    ) as (stream, base):
        q = start_kmv_reach_sink(
            stream, f"{base}/tbl", f"{base}/ck", ["event_type"],
            "user_id", k=128,
        )
        q.awaitTermination()
        tbl = VersionedTable(f"{base}/tbl")
        assert [m["op"] for m in tbl.history()] == ["kmv-merge"] * 2
        out = finalize_kmv(tbl.read(spark), ["event_type"], k=128)
        # materialize before the fixture dies
        out = checkpoint(out, "queries.r254")
    return out


R254_SQL = """
WITH dh AS (
  SELECT DISTINCT event_type,
    CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
         AS BIGINT) AS h
  FROM events
),
r AS (
  SELECT event_type, h,
         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
  FROM dh
),
t AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_kept,
         MAX(h) AS kth_hash
  FROM r WHERE rn <= 128 GROUP BY 1
)
SELECT event_type, n_kept, kth_hash,
  CASE WHEN n_kept < 128 THEN CAST(n_kept AS DOUBLE)
       ELSE (127.0 * 1152921504606846976.0) / CAST(kth_hash AS DOUBLE)
  END AS estimate
FROM t
"""

# --- round-11 additions, batch 17 (r255-r257) -------------------------------


def r255_weighted_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted-quantile band driver check (`dbs.operators
    .distributions.weighted_quantiles`): the 25/50/75 price points
    by UNITS (quantity-weighted) per return flag — weighted_median
    generalized to rational q via the integer cross-multiplication
    crossing rule; one sort window serves all three quantiles."""
    from datalake_backend_spark.operators.distributions import (
        weighted_quantiles,
    )

    li = table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice", "l_quantity"
    )
    return weighted_quantiles(
        li, ["l_returnflag"], "l_extendedprice", "l_quantity"
    )


R255_SQL = """
WITH g AS (
  SELECT l_returnflag,
         CAST(FLOOR(l_extendedprice * 10000) AS BIGINT) AS v,
         CAST(l_quantity AS BIGINT) AS w
  FROM lineitem
),
c AS (
  SELECT l_returnflag, v, w,
    SUM(w) OVER (PARTITION BY l_returnflag ORDER BY v, w
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      AS cum,
    SUM(w) OVER (PARTITION BY l_returnflag) AS tot
  FROM g
)
SELECT l_returnflag,
  CAST(MIN(CASE WHEN cum * 4 >= tot * 1 THEN v END) AS DOUBLE)
    / 10000.0 AS q_1_4,
  CAST(MIN(CASE WHEN cum * 2 >= tot * 1 THEN v END) AS DOUBLE)
    / 10000.0 AS q_1_2,
  CAST(MIN(CASE WHEN cum * 4 >= tot * 3 THEN v END) AS DOUBLE)
    / 10000.0 AS q_3_4
FROM c GROUP BY 1
"""


def r256_ordered_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ordered string aggregation driver check (§2.8
    O-surface + the reference's delimited-sink shape): nation names
    per region as ONE sorted comma-joined string —
    ``array_join(array_sort(collect_list(…)))``, the
    order-independent form of SQL STRING_AGG (a bare collect_list
    concat would hash-diverge run to run; the sort pins it)."""
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    j = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    return j.groupBy("r_name").agg(
        F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias(
            "nations"
        ),
        F.count("*").alias("n_nations"),
    )


R256_SQL = """
SELECT r.r_name,
       string_agg(n.n_name, ',' ORDER BY n.n_name) AS nations,
       CAST(COUNT(*) AS BIGINT) AS n_nations
FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY 1
"""


def r257_id_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands sequence audit driver check (`dbs.operators
    .windows.contiguous_islands`): the surviving order keys after a
    status filter form islands whose per-bucket count / longest run /
    missing-in-span localize upstream data loss — the id − row_number
    constant-per-run trick, ranked per bucket so no global sort."""
    from datalake_backend_spark.operators.windows import contiguous_islands

    o = table(spark, sf_dir, "orders").where(
        F.col("o_orderstatus") == "F"
    )
    return contiguous_islands(o, "o_orderkey", bucket=10_000)


R257_SQL = """
WITH d AS (
  SELECT DISTINCT o_orderkey AS id, o_orderkey // 10000 AS b
  FROM orders WHERE o_orderstatus = 'F'
),
runs AS (
  SELECT b, id - row_number() OVER (PARTITION BY b ORDER BY id) AS grp,
         id
  FROM d
),
agg AS (
  SELECT b, grp, CAST(COUNT(*) AS BIGINT) AS len,
         MIN(id) AS lo, MAX(id) AS hi
  FROM runs GROUP BY 1, 2
)
SELECT b AS id_bucket,
  CAST(SUM(len) AS BIGINT) AS n_present,
  CAST(COUNT(*) AS BIGINT) AS n_islands,
  MAX(len) AS longest_run,
  CAST(MAX(hi) - MIN(lo) + 1 - SUM(len) AS BIGINT)
    AS n_missing_in_span
FROM agg GROUP BY 1
"""

# --- round-11 additions, batch 18 (r258) ------------------------------------


def r258_hilbert_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve layout-key driver check (`dbs.core.geometry
    .with_hilbert_key`): customers at deterministic 8-bit integer
    coordinates get their Hilbert index (the locality-preserving
    upgrade over r89's Morton/Z-order — no quadrant jumps, so
    range-clustered files prune better), rolled up per 1024-wide key
    bucket with a key checksum — ANY single wrong index moves a
    bucket's count/checksum. The twin replays the identical
    quadrant-rotation rounds as a generated CTE chain
    (:func:`_r258_sql`); all-integer, engine-exact. Unit test pins
    the operator against a reference implementation, full-grid
    bijectivity, and the unit-adjacency property."""
    from datalake_backend_spark.core.geometry import with_hilbert_key

    cust = table(spark, sf_dir, "customer").select(
        "c_custkey",
        (F.col("c_custkey") * 37 % 256).alias("x"),
        (F.col("c_custkey") * 91 % 256).alias("y"),
    )
    keyed = with_hilbert_key(cust, "x", "y", order=8)
    return keyed.groupBy(
        F.expr("hkey div 1024").alias("key_bucket")
    ).agg(
        F.count("*").alias("n"),
        F.sum("c_custkey").alias("key_checksum"),
    )


def _r258_sql(order: int = 8) -> str:
    """Generate the DuckDB twin's per-round CTE chain from the SAME
    round recipe the operator uses — one generator, two dialects."""
    parts = [
        "WITH h0 AS (\n"
        "  SELECT c_custkey, (c_custkey * 37) % 256 AS hx,\n"
        "         (c_custkey * 91) % 256 AS hy,\n"
        "         CAST(0 AS BIGINT) AS hd\n"
        "  FROM customer\n)"
    ]
    step = 0
    for i in range(order - 1, -1, -1):
        s = 1 << i
        step += 1
        parts.append(
            f"h{step} AS (\n"
            "  SELECT c_custkey,\n"
            "    CASE WHEN ry = 0 THEN\n"
            f"      CASE WHEN rx = 1 THEN {s - 1} - hy ELSE hy END\n"
            "    ELSE hx END AS hx,\n"
            "    CASE WHEN ry = 0 THEN\n"
            f"      CASE WHEN rx = 1 THEN {s - 1} - hx ELSE hx END\n"
            "    ELSE hy END AS hy,\n"
            f"    hd + {s * s} * (\n"
            "      CASE WHEN rx = 0 AND ry = 0 THEN 0\n"
            "           WHEN rx = 0 AND ry = 1 THEN 1\n"
            "           WHEN rx = 1 AND ry = 1 THEN 2\n"
            "           ELSE 3 END) AS hd\n"
            "  FROM (\n"
            f"    SELECT *, CASE WHEN (hx & {s}) > 0 THEN 1 ELSE 0 END"
            " AS rx,\n"
            f"              CASE WHEN (hy & {s}) > 0 THEN 1 ELSE 0 END"
            " AS ry\n"
            f"    FROM h{step - 1}\n  ) t\n)"
        )
    return (
        ",\n".join(parts)
        + f"""
SELECT hd // 1024 AS key_bucket,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(c_custkey) AS BIGINT) AS key_checksum
FROM h{step} GROUP BY 1
"""
    )


R258_SQL = _r258_sql()


def r259_mjpeg_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL compressed-video decode driver check (`dbs.datapipe.avi` +
    `dbs.datapipe.jpeg`): every document becomes a genuine MJPEG-in-
    AVI container — RIFF/hdrl/movi/idx1 with per-frame baseline-JPEG
    ``00dc`` chunks — and `mjpeg_frame_stats` demuxes it via the idx1
    seek index and decodes each frame through the dependency-free
    baseline JPEG decoder (huffman + dequant + IDCT + YCbCr→RGB).
    Closes the round-11 VERDICT gap "no compressed video" (the
    reference ingests real-video CV output,
    `Create_Json_Data/vehicle_service/main.py:394-691`): MJPEG-AVI is
    a real camera-output compressed format, built entirely from parts
    already proven (q75/r127 codecs + mp4/RAWV demuxers). Frames are
    the block-constant grayscale family at quality 75 where the JPEG
    round-trip is mathematically EXACT (pure-DC blocks; see
    `synthetic_jpeg_table`), so the DuckDB twin recomputes every
    decoded frame sum in closed form; a RIFF walk bug, an idx1 offset
    convention error, a WORD-padding slip, or any JPEG decode drift
    breaks the hash. Container edge mechanics (odd-size chunk padding,
    idx1/chunk-header disagreement, truncation, wrong fourcc) are
    pinned by tests/test_avi.py.

    Cost control: every 2nd doc becomes a container and every 2nd
    frame decodes (``every_n=2`` ALSO exercises the idx1 seek-skip —
    unsampled frames' bytes are never touched); the pure-Python
    baseline decoder is ~ms/frame, so the unfiltered all-frames row
    was the bench's most expensive query (16 s at sf0.1) for no extra
    coverage over r127's 5k-image decode."""
    from datalake_backend_spark.datapipe.avi import (
        mjpeg_frame_stats,
        synthetic_mjpeg_avi_table,
    )

    docs = table(spark, sf_dir, "documents").where(
        F.pmod("doc_id", F.lit(2)) == 0
    )
    return mjpeg_frame_stats(synthetic_mjpeg_avi_table(docs), every_n=2)


R259_SQL = """
WITH dims AS (
  SELECT doc_id AS media_id,
         CAST(2 + doc_id % 3 AS INT) AS n,
         CAST(5 + doc_id % 3 AS INT) AS fps,
         8 * (1 + doc_id % 3) AS w,
         8 * (1 + doc_id % 2) AS h
  FROM documents WHERE doc_id % 2 = 0
),
fr  AS (SELECT media_id, n, fps, w, h, unnest(range(0, n, 2)) AS fi FROM dims),
brs AS (SELECT media_id, n, fps, w, h, fi,
               unnest(range(0, h // 8)) AS br FROM fr),
bcs AS (SELECT media_id, n, fps, w, h, fi, br,
               unnest(range(0, w // 8)) AS bc FROM brs),
blocks AS (
  SELECT media_id, n, fps, fi, w, h,
         (media_id * 37 + fi * 13 + br * 17 + bc * 29) % 256 AS v
  FROM bcs
)
SELECT media_id, CAST(fi AS INT) AS frame_idx, n AS n_frames, fps,
       CAST(SUM(3 * 64 * v) AS BIGINT) AS sum_rgb,
       CAST(SUM(3 * 64 * v) AS BIGINT)
         / CAST(w * h * 3 AS DOUBLE) AS mean_rgb
FROM blocks GROUP BY media_id, fi, n, fps, w, h
"""



















def r159_group_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group OLS regression driver check (`dbs.operators
    .distributions.group_ols`): extended price regressed on quantity
    per return flag, from the same floor-scaled integer moments as
    r123 (order-independent sums; only the closed-form combination in
    doubles, identical expression shape in the twin — so slope,
    intercept and R² compare BIT-exactly, no tolerance)."""
    from datalake_backend_spark.operators.distributions import group_ols

    li = table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_quantity", "l_extendedprice"
    )
    return group_ols(li, "l_quantity", "l_extendedprice", keys=["l_returnflag"])


R159_SQL = """
WITH m AS (
  SELECT l_returnflag, COUNT(*) AS n,
    SUM(CAST(FLOOR(l_quantity * 10000) AS HUGEINT)) AS sx,
    SUM(CAST(FLOOR(l_extendedprice * 10000) AS HUGEINT)) AS sy,
    SUM(CAST(FLOOR(l_quantity * l_extendedprice * 10000) AS HUGEINT))
      AS sxy,
    SUM(CAST(FLOOR(l_quantity * l_quantity * 10000) AS HUGEINT)) AS sxx,
    SUM(CAST(FLOOR(l_extendedprice * l_extendedprice * 10000) AS HUGEINT))
      AS syy
  FROM lineitem GROUP BY l_returnflag
),
d AS (
  SELECT l_returnflag, n,
         CAST(sx AS DOUBLE) / 10000.0 AS sxd,
         CAST(sy AS DOUBLE) / 10000.0 AS syd,
         CAST(sxy AS DOUBLE) / 10000.0 AS sxyd,
         CAST(sxx AS DOUBLE) / 10000.0 AS sxxd,
         CAST(syy AS DOUBLE) / 10000.0 AS syyd
  FROM m
),
e AS (
  SELECT l_returnflag, n, sxd, syd,
         n * sxyd - sxd * syd AS num,
         n * sxxd - sxd * sxd AS denx,
         n * syyd - syd * syd AS deny
  FROM d
)
SELECT l_returnflag, n,
       num / denx AS slope,
       (syd - (num / denx) * sxd) / n AS intercept,
       (num * num) / (denx * deny) AS r2
FROM e
"""


def r160_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square contingency driver check (`dbs.operators
    .distributions.chi_square_contingency`): the independence
    statistic between market segment and nation over customers,
    computed entirely in BIGINT (pre-floored divisor keeps every
    intermediate inside int64) so the per-segment contributions hash
    identically — a marginal-total bug, a missing cell, or an integer
    overflow all shift a value."""
    from datalake_backend_spark.operators.distributions import (
        chi_square_contingency,
    )

    cust = table(spark, sf_dir, "customer")
    return chi_square_contingency(cust, "c_mktsegment", "c_nationkey")


R160_SQL = """
WITH cells AS (
  SELECT c_mktsegment, c_nationkey, CAST(COUNT(*) AS BIGINT) AS o
  FROM customer GROUP BY 1, 2
),
rt AS (SELECT c_mktsegment, CAST(SUM(o) AS BIGINT) AS r
       FROM cells GROUP BY 1),
ct AS (SELECT c_nationkey, CAST(SUM(o) AS BIGINT) AS c
       FROM cells GROUP BY 1),
tt AS (SELECT CAST(SUM(o) AS BIGINT) AS t FROM cells)
SELECT cells.c_mktsegment,
  CAST(SUM(((o * t - r * c) * (o * t - r * c))
           // GREATEST(1, (r * c * t) // 1000000)) AS BIGINT)
    AS chi2_part_scaled,
  CAST(COUNT(*) AS BIGINT) AS n_cells,
  CAST(MAX(t) AS BIGINT) AS n_total
FROM cells
JOIN rt USING (c_mktsegment)
JOIN ct USING (c_nationkey), tt
GROUP BY cells.c_mktsegment
"""


def q77_training_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic shard assignment driver check
    (`dbs.datapipe.sampling.assign_shards`): every document lands in a
    hash-chosen shard, reproducible in any engine; the check compares
    per-shard counts and id checksums, so a drifting hash, a modulo
    bias, or partition-dependent assignment all break it."""
    from datalake_backend_spark.datapipe.sampling import assign_shards

    docs = table(spark, sf_dir, "documents")
    sharded = assign_shards(docs, "doc_id", n_shards=8, salt="sh")
    return sharded.groupBy("shard").agg(
        F.count("*").alias("n_docs"),
        F.sum("doc_id").alias("id_sum"),
        F.min("doc_id").alias("id_min"),
        F.max("doc_id").alias("id_max"),
    )


Q77_SQL = """
WITH sharded AS (
  SELECT doc_id,
    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'sh'), 1, 15))::BIGINT
         % 8 AS INT) AS shard
  FROM documents
)
SELECT shard, COUNT(*) AS n_docs, CAST(SUM(doc_id) AS BIGINT) AS id_sum,
       MIN(doc_id) AS id_min, MAX(doc_id) AS id_max
FROM sharded GROUP BY shard
"""


def q78_source_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain cap driver check
    (`dbs.datapipe.sampling.cap_per_group`): at most 15 documents per
    source, chosen by portable hash order (RefinedWeb-style domain
    balancing). The Spark side runs the skew-safe two-phase top-k; the
    oracle the plain single-window form — they must pick the IDENTICAL
    row set, which is the operator's correctness claim."""
    from datalake_backend_spark.datapipe.sampling import cap_per_group

    docs = table(spark, sf_dir, "documents")
    return cap_per_group(docs, "source", cap=15, key_col="doc_id", salt="cap").select(
        "doc_id", "source"
    )


Q78_SQL = """
WITH ranked AS (
  SELECT doc_id, source,
    row_number() OVER (
      PARTITION BY source
      ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'cap'), 1, 15))::BIGINT,
               doc_id
    ) AS rn
  FROM documents
)
SELECT doc_id, source FROM ranked WHERE rn <= 15
"""


def q79_streaming_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window streaming aggregation driver check
    (`dbs.streaming.pipeline.windowed_counts`): the events parquet is
    replayed as a stream, grouped into 15-minute tumbling windows per
    event_type, and drained to a memory sink. Spark's `window()` aligns
    to the 1970 epoch, so the DuckDB twin floors epoch micros to the
    window length; `value` is summed as DECIMAL(18,4) on both sides so
    the float total is order-independent (the stream's accumulation
    order is not the batch engine's)."""
    from datalake_backend_spark.streaming.pipeline import (
        streaming_session,
    )

    spark = streaming_session(spark)
    from datalake_backend_spark.streaming.pipeline import (
        read_event_stream,
        start_to_memory,
        windowed_counts,
    )

    path = f"{sf_dir}/events.parquet"
    table(spark, sf_dir, "events")  # pins nanosAsLong + UTC session TZ
    stream = read_event_stream(
        spark, f"{sf_dir}/events.parquet*", spark.read.parquet(path).schema
    )
    if dict(stream.dtypes).get("ts") == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    stream = stream.withColumn("value", F.col("value").cast("decimal(18,4)"))
    win = windowed_counts(
        stream, time_col="ts", key_col="event_type", window="15 minutes"
    )
    start_to_memory(win, "q79_windows", output_mode="complete")
    return spark.table("q79_windows").select(
        F.unix_micros("window_start").alias("w_start_us"),
        "event_type",
        "n",
        F.col("sum_value").cast("double").alias("sum_value"),
    )


Q79_SQL = """
SELECT
  CAST(epoch_us(ts) - epoch_us(ts) % 900000000 AS BIGINT) AS w_start_us,
  event_type,
  COUNT(*) AS n,
  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2
"""


def q80_streaming_silver_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end streaming silver sink driver check
    (`dbs.streaming.pipeline.start_silver_sink` →
    `idempotent_epoch_write`): the events stream is drained through
    foreachBatch with a silver transform (filter + projection) into an
    epoch-partitioned parquet zone, then the ZONE IS READ BACK and
    aggregated — so the check covers the write path (epoch partition
    layout, dynamic overwrite, schema) not just the transform. The
    DuckDB twin applies the same transform/aggregate to the source
    table directly; any dropped/duplicated micro-batch changes the
    counts."""
    from datalake_backend_spark.streaming.pipeline import (
        streaming_session,
    )

    spark = streaming_session(spark)
    from datalake_backend_spark.streaming.pipeline import (
        read_event_stream,
        start_silver_sink,
    )

    path = f"{sf_dir}/events.parquet"
    table(spark, sf_dir, "events")
    stream = read_event_stream(
        spark, f"{sf_dir}/events.parquet*", spark.read.parquet(path).schema
    )
    if dict(stream.dtypes).get("ts") == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))

    def silver(batch: DataFrame) -> DataFrame:
        return batch.where(F.col("value") > 0).select(
            "event_id", "user_id", "event_type",
            F.col("value").cast("decimal(18,4)").alias("value_dec"),
        )

    # the dir must OUTLIVE this call: the returned DataFrame lazily
    # reads {base}/silver
    base = fresh_dir(sf_dir, "q80_zone")
    q = start_silver_sink(
        stream, f"{base}/silver", f"{base}/ck", transform=silver
    )
    q.awaitTermination()
    return (
        spark.read.parquet(f"{base}/silver")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("event_id").alias("id_sum"),
            F.sum("value_dec").cast("double").alias("value_sum"),
        )
    )


Q80_SQL = """
SELECT event_type, COUNT(*) AS n, CAST(SUM(event_id) AS BIGINT) AS id_sum,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS value_sum
FROM events WHERE value > 0 GROUP BY event_type
"""


def q81_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-global line-dedup driver check
    (`dbs.datapipe.dedup.dedup_lines`, the MassiveText/Dolma
    exact-paragraph rule): documents are first given deterministic
    8-token lines (the corpus has no newlines), then every line keeps
    only its first (doc, position) occurrence corpus-wide and docs are
    reassembled in order. The oracle replays the same chunking and a
    row_number-over-line window; the md5 of the REASSEMBLED text is
    compared, so dropping the wrong occurrence, reordering lines, or
    losing empty-doc elimination all break the hash."""
    from datalake_backend_spark.datapipe.dedup import dedup_lines

    docs = table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    n_lines = F.ceil(F.size(toks) / F.lit(8.0)).cast("int")
    lined = docs.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.transform(
                F.sequence(F.lit(0), n_lines - 1),
                lambda i: F.array_join(F.slice(toks, i * 8 + 1, 8), " "),
            ),
        ).alias("text"),
    )
    out = dedup_lines(lined)
    return out.select("doc_id", F.md5("text").alias("text_md5"), "n_lines")


Q81_SQL = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents
),
lined AS (
  SELECT doc_id,
    list_transform(range(0, CAST(ceil(len(t) / 8.0) AS BIGINT)),
                   i -> array_to_string(t[i*8+1 : i*8+8], ' ')) AS lines
  FROM toks
),
lines AS (
  SELECT doc_id, unnest(range(0, len(lines))) AS pos, unnest(lines) AS line
  FROM lined
),
kept AS (
  SELECT doc_id, pos, line FROM (
    SELECT doc_id, pos, line,
           row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rn
    FROM lines
  ) WHERE rn = 1
)
SELECT doc_id,
       md5(string_agg(line, chr(10) ORDER BY pos)) AS text_md5,
       COUNT(*) AS n_lines
FROM kept GROUP BY doc_id
"""


def q82_quantized_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 embedding-quantization driver check
    (`dbs.datapipe.similarity.quantize_embeddings`/`dequantize_embeddings`):
    every vector is scalar-quantized to 255 levels and dequantized, and
    the check compares the code checksum plus the cosine between the
    original and reconstructed vector (the quantization-fidelity
    metric ANN recall rides on). All closed-form double arithmetic —
    the DuckDB twin reproduces codes and cosines bit-for-bit."""
    from datalake_backend_spark.datapipe.similarity import (
        dequantize_embeddings,
        quantize_embeddings,
    )

    emb = table(spark, sf_dir, "embeddings")
    q = dequantize_embeddings(quantize_embeddings(emb))
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    d = F.col("dequant")
    dot = F.aggregate(
        F.zip_with(v, d, lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x
    )
    nv = F.sqrt(
        F.aggregate(F.transform(v, lambda a: a * a), F.lit(0.0), lambda a, x: a + x)
    )
    nd = F.sqrt(
        F.aggregate(F.transform(d, lambda a: a * a), F.lit(0.0), lambda a, x: a + x)
    )
    return q.select(
        "vec_id",
        F.aggregate("codes", F.lit(0).cast("long"), lambda a, c: a + c).alias(
            "code_sum"
        ),
        F.round(dot / (nv * nd), 6).alias("fidelity_r"),
    )


Q82_SQL = """
WITH q AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         list_min(CAST(embedding AS DOUBLE[])) AS lo,
         (list_max(CAST(embedding AS DOUBLE[]))
          - list_min(CAST(embedding AS DOUBLE[]))) / 255.0 AS scale
  FROM embeddings
),
coded AS (
  SELECT vec_id, v, lo, scale,
    CASE WHEN scale > 0
         THEN list_transform(v, x -> CAST(round((x - lo) / scale) AS INT))
         ELSE list_transform(v, x -> 0) END AS codes
  FROM q
),
deq AS (
  SELECT vec_id, v, codes,
    list_transform(codes, c -> lo + CAST(c AS DOUBLE) * scale) AS d
  FROM coded
)
SELECT vec_id,
  CAST(list_reduce(list_transform(codes, c -> CAST(c AS BIGINT)), (a, b) -> a + b)
       AS BIGINT) AS code_sum,
  ROUND(
    list_reduce(list_transform(list_zip(v, d), p -> p[1] * p[2]), (a, b) -> a + b)
    / (sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b))
       * sqrt(list_reduce(list_transform(d, x -> x * x), (a, b) -> a + b))),
    6) AS fidelity_r
FROM deq
"""


def q83_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus TF-IDF driver check (`dbs.datapipe.text.tfidf_top_terms`):
    top-3 terms per document under the smoothed sklearn idf. The
    oracle recomputes tf, df, and N relationally and applies the same
    score; results compare at 6dp (integer tf × a shared-formula
    double), and the (score DESC, term ASC) tie-break makes the
    selected term set deterministic."""
    from datalake_backend_spark.datapipe.text import tfidf_top_terms

    docs = table(spark, sf_dir, "documents")
    out = tfidf_top_terms(docs, k=3)
    return out.select("doc_id", "term", F.round("tfidf", 6).alias("tfidf_r"))


Q83_SQL = r"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS term
  FROM documents
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
n AS (SELECT COUNT(*) AS n FROM documents),
scored AS (
  SELECT t.doc_id, t.term,
         t.tf * (ln((n.n + 1.0) / (d.df + 1.0)) + 1.0) AS s
  FROM tf t JOIN dfreq d USING (term) CROSS JOIN n
),
ranked AS (
  SELECT doc_id, term, s,
         row_number() OVER (PARTITION BY doc_id ORDER BY s DESC, term) AS rn
  FROM scored
)
SELECT doc_id, term, ROUND(s, 6) AS tfidf_r FROM ranked WHERE rn <= 3
"""


def q84_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval-join driver check
    (`dbs.streaming.pipeline.stream_stream_interval_join`): click and
    purchase sub-streams of the events feed are joined per user with
    purchases in ``(click_ts, click_ts + 30 min]`` — the attribution
    shape, with watermarks on BOTH sides so join state expires. The
    joined pairs land in a memory sink and are summarized per user;
    the DuckDB twin is the equivalent batch interval join, so dropped
    or duplicated matches break the count/checksum hashes."""
    from datalake_backend_spark.streaming.pipeline import (
        streaming_session,
    )

    spark = streaming_session(spark)
    from datalake_backend_spark.streaming.pipeline import (
        read_event_stream,
        start_to_memory,
        stream_stream_interval_join,
    )

    path = f"{sf_dir}/events.parquet"
    table(spark, sf_dir, "events")
    stream = read_event_stream(
        spark, f"{sf_dir}/events.parquet*", spark.read.parquet(path).schema
    )
    if dict(stream.dtypes).get("ts") == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    clicks = stream.where(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    purchases = stream.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    joined = stream_stream_interval_join(
        clicks, purchases, "user_id", "ts", "ts", max_delay="30 minutes"
    )
    start_to_memory(joined, "q84_pairs", output_mode="append")
    return (
        spark.table("q84_pairs")
        .groupBy(F.col("l_key").alias("user_id"))
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum("l_event_id").alias("click_id_sum"),
            F.sum("r_event_id").alias("purchase_id_sum"),
        )
    )


Q84_SQL = """
WITH c AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'),
p AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase')
SELECT c.user_id, COUNT(*) AS n_pairs,
  CAST(SUM(c.event_id) AS BIGINT) AS click_id_sum,
  CAST(SUM(p.event_id) AS BIGINT) AS purchase_id_sum
FROM c JOIN p ON c.user_id = p.user_id
  AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
GROUP BY c.user_id
"""


def q85_sliding_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLIDING-window streaming aggregation driver check
    (`dbs.streaming.pipeline.windowed_counts` with ``slide``): 30-minute
    windows sliding every 10 minutes, so each event lands in exactly 3
    overlapping windows. Spark assigns windows by epoch-aligned slide
    steps; the DuckDB twin unnests the 3 candidate window starts per
    event (floor to the slide, minus 0/1/2 slides, keeping those whose
    [start, start+30min) covers the event). Decimal value sums keep
    the floats order-independent."""
    from datalake_backend_spark.streaming.pipeline import (
        streaming_session,
    )

    spark = streaming_session(spark)
    from datalake_backend_spark.streaming.pipeline import (
        read_event_stream,
        start_to_memory,
        windowed_counts,
    )

    path = f"{sf_dir}/events.parquet"
    table(spark, sf_dir, "events")
    stream = read_event_stream(
        spark, f"{sf_dir}/events.parquet*", spark.read.parquet(path).schema
    )
    if dict(stream.dtypes).get("ts") == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    stream = stream.withColumn("value", F.col("value").cast("decimal(18,4)"))
    win = windowed_counts(
        stream,
        time_col="ts",
        key_col="event_type",
        window="30 minutes",
        slide="10 minutes",
        watermark="1 hour",
    )
    start_to_memory(win, "q85_windows", output_mode="complete")
    return spark.table("q85_windows").select(
        F.unix_micros("window_start").alias("w_start_us"),
        "event_type",
        "n",
        F.col("sum_value").cast("double").alias("sum_value"),
    )


Q85_SQL = """
WITH starts AS (
  SELECT event_type, value,
    epoch_us(ts) - epoch_us(ts) % 600000000 - s.k * 600000000 AS w_start_us
  FROM events, (SELECT unnest(range(0, 3)) AS k) s
)
SELECT CAST(w_start_us AS BIGINT) AS w_start_us, event_type,
  COUNT(*) AS n,
  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM starts GROUP BY 1, 2
"""


def q86_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential conversion funnel (view → click → purchase): per
    user, the earliest view, the earliest click strictly after that
    view, the earliest purchase strictly after that click — one
    conditional-aggregation pass per stage (three chained hash
    aggregates on the user key, which all reuse one partitioning; no
    self-joins, no windows over the full event stream). The funnel
    stage counts drive conversion dashboards; the oracle computes the
    same three-stage min cascade."""
    ev = table(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    v = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view")
    )
    c = (
        ev.join(v, "user_id")
        .groupBy("user_id")
        .agg(
            F.min("t_view").alias("t_view"),
            F.min(
                F.when(
                    (F.col("event_type") == "click") & (F.col("ts") > F.col("t_view")),
                    F.col("ts"),
                )
            ).alias("t_click"),
        )
    )
    p = (
        ev.join(c, "user_id")
        .groupBy("user_id")
        .agg(
            F.min("t_view").alias("t_view"),
            F.min("t_click").alias("t_click"),
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") > F.col("t_click")),
                    F.col("ts"),
                )
            ).alias("t_purchase"),
        )
    )
    return p.agg(
        F.count("*").alias("n_users"),
        F.count("t_view").alias("n_viewed"),
        F.count("t_click").alias("n_clicked_after_view"),
        F.count("t_purchase").alias("n_purchased_after_click"),
    )


Q86_SQL = """
WITH v AS (
  SELECT user_id, MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view
  FROM events GROUP BY user_id
),
c AS (
  SELECT e.user_id, MIN(v.t_view) AS t_view,
         MIN(CASE WHEN e.event_type = 'click' AND e.ts > v.t_view THEN e.ts END)
           AS t_click
  FROM events e JOIN v ON e.user_id = v.user_id
  GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, MIN(c.t_view) AS t_view, MIN(c.t_click) AS t_click,
         MIN(CASE WHEN e.event_type = 'purchase' AND e.ts > c.t_click THEN e.ts END)
           AS t_purchase
  FROM events e JOIN c ON e.user_id = c.user_id
  GROUP BY e.user_id
)
SELECT COUNT(*) AS n_users,
       COUNT(t_view) AS n_viewed,
       COUNT(t_click) AS n_clicked_after_view,
       COUNT(t_purchase) AS n_purchased_after_click
FROM p
"""


def r87_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC snapshot diff driver check (`dbs.operators.merge.
    snapshot_diff`): two synthetic snapshots of orders — the "old" one
    missing keys ≡3 (mod 7), the "new" one missing keys ≡4 (mod 5)
    with keys ≡0 (mod 3) repriced — must yield exactly the minimal
    insert/update/delete changelog. One full-outer key join + null-safe
    struct compare; the oracle is the same full join spelled in SQL."""
    from datalake_backend_spark.operators.merge import snapshot_diff

    orders = table(spark, sf_dir, "orders")
    old = orders.where(F.pmod(F.col("o_orderkey"), F.lit(7)) != 3).select(
        "o_orderkey", "o_totalprice"
    )
    new = orders.where(F.pmod(F.col("o_orderkey"), F.lit(5)) != 4).select(
        "o_orderkey",
        F.when(
            F.pmod(F.col("o_orderkey"), F.lit(3)) == 0,
            F.col("o_totalprice") * 2,
        )
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
    )
    return snapshot_diff(old, new, ["o_orderkey"], ["o_totalprice"])


R87_SQL = """
WITH old AS (
  SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 7 <> 3
),
new AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice * 2
              ELSE o_totalprice END AS v
  FROM orders WHERE o_orderkey % 5 <> 4
)
SELECT * FROM (
  SELECT COALESCE(n.o_orderkey, o.o_orderkey) AS o_orderkey,
         CASE WHEN o.o_orderkey IS NULL THEN 'insert'
              WHEN n.o_orderkey IS NULL THEN 'delete'
              WHEN o.o_totalprice <> n.v THEN 'update' END AS op
  FROM old o FULL JOIN new n ON o.o_orderkey = n.o_orderkey
) WHERE op IS NOT NULL
"""


def r88_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe salted join driver check (`dbs.operators.skew.
    salted_join`): lineitem ⟗ orders with the right side replicated
    8× and the left sharded by a deterministic salt must aggregate to
    exactly the plain join's numbers — salting re-buckets rows, never
    changes the result. The oracle is the unsalted SQL join."""
    from datalake_backend_spark.operators.skew import salted_join

    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    orders = table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    j = salted_join(
        li, orders, "l_orderkey", n_salts=8, salt_source=F.col("l_linenumber")
    )
    return j.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        dec_sum("l_extendedprice").alias("sum_price"),
    )


R88_SQL = """
SELECT o_orderpriority, COUNT(*) AS n,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY o_orderpriority
"""


def r89_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering key driver check (`dbs.core.geometry.
    zorder_key`): Morton-interleave (l_partkey, l_suppkey) mod 2^16 and
    roll counts + key checksums up per 2^24-wide key range. The oracle
    replays the identical shift/mask spreading in SQL, so one wrong
    mask or shift order breaks the hash. Sorting a table by this key
    before writing gives multi-column min/max file skipping (the
    plain-parquet ZORDER BY)."""
    from datalake_backend_spark.core.geometry import zorder_key

    li = table(spark, sf_dir, "lineitem")
    z = zorder_key(
        F.pmod(F.col("l_partkey"), F.lit(65536)),
        F.pmod(F.col("l_suppkey"), F.lit(65536)),
    )
    return (
        li.select(z)
        .groupBy(F.shiftright(F.col("zkey"), 14).alias("zbucket"))
        .agg(F.count("*").alias("n"), F.sum("zkey").alias("zsum"))
    )


R89_SQL = """
WITH base AS (
  SELECT l_partkey % 65536 AS x, l_suppkey % 65536 AS y FROM lineitem
),
a1 AS (SELECT (x | (x << 8)) & 16711935 AS x, (y | (y << 8)) & 16711935 AS y
       FROM base),
a2 AS (SELECT (x | (x << 4)) & 252645135 AS x, (y | (y << 4)) & 252645135 AS y
       FROM a1),
a3 AS (SELECT (x | (x << 2)) & 858993459 AS x, (y | (y << 2)) & 858993459 AS y
       FROM a2),
a4 AS (SELECT (x | (x << 1)) & 1431655765 AS x, (y | (y << 1)) & 1431655765 AS y
       FROM a3),
z AS (SELECT x | (y << 1) AS zkey FROM a4)
SELECT zkey >> 14 AS zbucket, COUNT(*) AS n, CAST(SUM(zkey) AS BIGINT) AS zsum
FROM z GROUP BY zbucket
"""


def r90_interval_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-union driver check (`dbs.operators.timeseries.
    interval_union`): events become [ts, ts + (event_id%50 + 1) min)
    intervals in integral micros; per user the overlap-merged covered
    time, island count, and span must equal the SQL gaps-and-islands
    twin. Naive SUM(end-start) double-counts overlap — the value-hash
    breaks if merging is wrong."""
    from datalake_backend_spark.operators.timeseries import interval_union

    ev = table(spark, sf_dir, "events")
    iv = ev.select(
        "user_id",
        F.unix_micros("ts").alias("s"),
        (
            F.unix_micros("ts")
            + (F.pmod(F.col("event_id"), F.lit(50)) + 1) * 60_000_000
        ).alias("e"),
    )
    return interval_union(iv, ["user_id"], "s", "e")


R90_SQL = """
WITH iv AS (
  SELECT user_id, epoch_us(ts) AS s,
         epoch_us(ts) + (event_id % 50 + 1) * 60000000 AS e
  FROM events
),
marked AS (
  SELECT user_id, s, e,
    CASE WHEN MAX(e) OVER w IS NULL OR s > MAX(e) OVER w THEN 1 ELSE 0 END AS ni
  FROM iv
  WINDOW w AS (PARTITION BY user_id ORDER BY s, e
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
),
isl AS (
  SELECT user_id, s, e,
    SUM(ni) OVER (PARTITION BY user_id ORDER BY s, e
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM marked
),
g AS (
  SELECT user_id, island, MIN(s) AS i_s, MAX(e) AS i_e
  FROM isl GROUP BY user_id, island
)
SELECT user_id, CAST(SUM(i_e - i_s) AS BIGINT) AS covered,
       COUNT(*) AS n_islands,
       CAST(MAX(i_e) - MIN(i_s) AS BIGINT) AS span
FROM g GROUP BY user_id
"""


def _versioned_orders(spark: SparkSession, sf_dir: str):
    """Build (once per process) the 4-version orders table that backs
    r91/r92/r93 (`dbs.sources.versioned.VersionedTable`):

      v1 overwrite  orders with o_orderdate <  1994-01-01
      v2 append     orders with 1994-01-01 ≤ o_orderdate < 1996-01-01
      v3 merge      reprice key%5==0 (×2) + insert ≥1996-01-01 ∧ key%3==0
      v4 delete     key % 11 == 0

    Deterministic in (sf_dir), so concurrent pids build identical
    tables. r91/r92/r93 share this fixture and a bench/driver may run
    them on concurrent THREADS of one process; ``derive_once``
    serializes the build and the losers just read.
    """
    from datalake_backend_spark.sources.versioned import VersionedTable

    return VersionedTable(
        derive_once(
            sf_dir,
            "r91_vt",
            lambda base: _build_versioned_orders(spark, sf_dir, VersionedTable(base)),
        )
    )


def _build_versioned_orders(spark, sf_dir, tbl) -> None:
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice", "o_orderdate"
    )
    cut1, cut2 = F.lit("1994-01-01").cast("date"), F.lit("1996-01-01").cast("date")
    cols = ["o_orderkey", "o_orderpriority", "o_totalprice"]
    tbl.commit(orders.where(F.col("o_orderdate") < cut1).select(*cols))
    tbl.commit(
        orders.where(
            (F.col("o_orderdate") >= cut1) & (F.col("o_orderdate") < cut2)
        ).select(*cols),
        mode="append",
    )
    repriced = orders.where(
        (F.col("o_orderdate") < cut2) & (F.pmod("o_orderkey", F.lit(5)) == 0)
    ).select(
        "o_orderkey",
        "o_orderpriority",
        (F.col("o_totalprice") * 2).alias("o_totalprice"),
    )
    inserts = orders.where(
        (F.col("o_orderdate") >= cut2) & (F.pmod("o_orderkey", F.lit(3)) == 0)
    ).select(*cols)
    tbl.merge(spark, repriced.unionByName(inserts), ["o_orderkey"])
    tbl.delete_where(spark, F.pmod("o_orderkey", F.lit(11)) == 0)


def r91_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-travel driver check (`dbs.sources.versioned.VersionedTable
    .read(version=2)`): after a merge (v3) and a delete (v4) have
    rewritten the table, reading snapshot v2 must still see exactly
    the pre-merge state — the plain-parquet equivalent of Delta's
    `VERSION AS OF`. The oracle recomputes v2 directly from orders
    (everything before the 1996 cut, no repricing, no deletes); any
    leakage of later commits into the historical manifest breaks the
    value hash."""
    tbl = _versioned_orders(spark, sf_dir)
    return (
        tbl.read(spark, version=2)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            dec_sum("o_totalprice").alias("sum_price"),
        )
    )


R91_SQL = """
SELECT o_orderpriority, COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
FROM orders WHERE o_orderdate < DATE '1996-01-01'
GROUP BY o_orderpriority
"""


def r92_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-feed driver check (`dbs.sources.versioned
    .VersionedTable.changes`): the diff between snapshots v2 and v4
    must be the minimal changelog across an intervening merge AND
    delete — updates for repriced keys that survived the delete,
    inserts for new keys that survived, deletes for v2 keys removed,
    and NOTHING for keys inserted-then-deleted (net no-op across the
    version range)."""
    tbl = _versioned_orders(spark, sf_dir)
    return tbl.changes(spark, 2, 4, ["o_orderkey"], ["o_totalprice"])


R92_SQL = """
SELECT o_orderkey, 'update' AS op FROM orders
WHERE o_orderdate < DATE '1996-01-01'
  AND o_orderkey % 5 = 0 AND o_orderkey % 11 <> 0
UNION ALL
SELECT o_orderkey, 'insert' FROM orders
WHERE o_orderdate >= DATE '1996-01-01'
  AND o_orderkey % 3 = 0 AND o_orderkey % 11 <> 0
UNION ALL
SELECT o_orderkey, 'delete' FROM orders
WHERE o_orderdate < DATE '1996-01-01' AND o_orderkey % 11 = 0
"""


def r93_table_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Commit-log driver check (`dbs.sources.versioned.VersionedTable
    .history`): the manifest log must record the op and the exact row
    count of every snapshot (overwrite / append / merge / delete).
    The oracle derives each version's expected cardinality from
    orders with the same date cuts and key residues — a manifest that
    double-counts an append or misses merge inserts hash-mismatches."""
    tbl = _versioned_orders(spark, sf_dir)
    rows = [(m["version"], m["op"], m["num_rows"]) for m in tbl.history()]
    return spark.createDataFrame(rows, "version int, op string, num_rows bigint")


R93_SQL = """
WITH c1 AS (SELECT COUNT(*) AS n FROM orders WHERE o_orderdate < DATE '1994-01-01'),
c2 AS (SELECT COUNT(*) AS n FROM orders WHERE o_orderdate < DATE '1996-01-01'),
ins AS (SELECT COUNT(*) AS n FROM orders
        WHERE o_orderdate >= DATE '1996-01-01' AND o_orderkey % 3 = 0),
del AS (SELECT COUNT(*) AS n FROM orders
        WHERE o_orderkey % 11 = 0
          AND (o_orderdate < DATE '1996-01-01' OR o_orderkey % 3 = 0))
SELECT 1 AS version, 'overwrite' AS op, (SELECT n FROM c1) AS num_rows
UNION ALL SELECT 2, 'append', (SELECT n FROM c2)
UNION ALL SELECT 3, 'merge', (SELECT n FROM c2) + (SELECT n FROM ins)
UNION ALL
SELECT 4, 'delete',
       (SELECT n FROM c2) + (SELECT n FROM ins) - (SELECT n FROM del)
"""


def r94_audio_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio-codec driver check (`dbs.datapipe.multimodal
    .decode_wav`/`audio_stats`): every documents row becomes a genuine
    RIFF/WAVE payload (PCM s16le, mono/stereo, mixed sample rates)
    whose frames are a closed-form function of the id; the byte-level
    decoder must recover rate/channels/frames and exact amplitude
    sums. The DuckDB twin regenerates the same samples with
    unnest(range(...)) — any header-offset or interleave mistake in
    the codec breaks the value hash. Audio twin of q75."""
    from datalake_backend_spark.datapipe.multimodal import (
        audio_stats,
        synthetic_wav_table,
    )

    docs = table(spark, sf_dir, "documents")
    return audio_stats(synthetic_wav_table(docs))


R94_SQL = """
WITH dims AS (
  SELECT doc_id AS media_id,
         100 + doc_id % 50 AS frames,
         CAST(1 + doc_id % 2 AS INT) AS ch,
         CAST(8000 + (doc_id % 3) * 4000 AS INT) AS sample_rate
  FROM documents
),
ts AS (SELECT media_id, frames, ch, sample_rate,
              unnest(range(0, frames)) AS t FROM dims),
cs AS (SELECT media_id, frames, ch, sample_rate, t,
              unnest(range(0, ch)) AS c FROM ts),
sm AS (
  SELECT media_id, frames, ch, sample_rate,
         ABS((media_id * 37 + t * 13 + c * 5) % 4096 - 2048) AS a
  FROM cs
)
SELECT media_id, sample_rate, ch AS channels,
       CAST(frames AS BIGINT) AS n_frames,
       CAST(frames * 1000 // sample_rate AS BIGINT) AS duration_ms,
       CAST(SUM(a) AS BIGINT) AS sum_abs,
       CAST(MAX(a) AS INT) AS peak,
       CAST(SUM(a) AS BIGINT) / CAST(frames * ch AS DOUBLE) AS mean_abs
FROM sm GROUP BY media_id, sample_rate, ch, frames
"""


def r118_audio_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-resample driver check (`dbs.datapipe.multimodal
    .resample_linear`/`resample_audio`): every synthetic WAV (mixed
    8/12/16 kHz, mono/stereo) resamples to 16 kHz by linear
    interpolation in EXACT integer arithmetic — rational sample
    positions, int64 numerators, half-up rounding over a +32768 shift
    so floor == truncate in every dialect — then re-encodes and
    re-decodes through the byte-level codec. The DuckDB twin
    recomputes every interpolated sample with the identical integer
    formula via generate_series; a position off by one frame, a
    rounding-mode mismatch, or an interleave slip breaks the
    amplitude-sum hash."""
    from datalake_backend_spark.datapipe.multimodal import (
        audio_stats,
        resample_audio,
        synthetic_wav_table,
    )

    docs = table(spark, sf_dir, "documents")
    media = resample_audio(synthetic_wav_table(docs), target_rate=16000)
    return audio_stats(media)


R118_SQL = """
WITH dims AS (
  SELECT doc_id AS media_id,
         100 + doc_id % 50 AS frames,
         CAST(1 + doc_id % 2 AS INT) AS ch,
         8000 + (doc_id % 3) * 4000 AS rate
  FROM documents
),
d AS (SELECT media_id, frames, ch, rate,
             (frames - 1) * 16000 // rate + 1 AS oframes FROM dims),
js AS (SELECT media_id, frames, ch, rate, oframes,
              unnest(range(0, oframes)) AS j FROM d),
cs AS (SELECT media_id, frames, ch, rate, oframes, j,
              unnest(range(0, ch)) AS c FROM js),
y AS (
  SELECT media_id, oframes, ch,
         ABS(
           ((((media_id*37 + ((j*rate) // 16000)*13 + c*5) % 4096 - 2048)
              * (16000 - (j*rate) % 16000)
             + ((media_id*37
                 + LEAST((j*rate) // 16000 + 1, frames - 1)*13
                 + c*5) % 4096 - 2048) * ((j*rate) % 16000)
             + 32768*16000 + 8000) // 16000) - 32768
         ) AS a
  FROM cs
)
SELECT media_id, 16000 AS sample_rate, ch AS channels,
       CAST(oframes AS BIGINT) AS n_frames,
       CAST(oframes * 1000 // 16000 AS BIGINT) AS duration_ms,
       CAST(SUM(a) AS BIGINT) AS sum_abs,
       CAST(MAX(a) AS INT) AS peak,
       CAST(SUM(a) AS BIGINT) / CAST(oframes * ch AS DOUBLE) AS mean_abs
FROM y GROUP BY media_id, oframes, ch
"""


def r119_scene_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scene-change driver check (`dbs.datapipe.multimodal
    .frame_diffs`): exact per-pixel |Δ| between consecutive RAWV
    frames plus the threshold cut-flag, decoded pairwise through the
    seeking codec. The synthetic frames advance +17 (mod 256) per
    pixel, so transitions mix |17| and |239| wraps in id-dependent
    proportions — the DuckDB twin recomputes every transition's sum
    from the closed form; a mis-seek (wrong frame offset) or a
    uint8-underflow bug in the diff breaks the hash."""
    from datalake_backend_spark.datapipe.multimodal import (
        frame_diffs,
        synthetic_video_table,
    )

    docs = table(spark, sf_dir, "documents")
    return frame_diffs(synthetic_video_table(docs), threshold=100.0)


R119_SQL = """
WITH dims AS (
  SELECT doc_id AS media_id,
         2 + doc_id % 4 AS n, 4 + doc_id % 3 AS w, 3 + doc_id % 2 AS h
  FROM documents
),
fs AS (SELECT media_id, n, w, h, unnest(range(1, n)) AS f FROM dims),
rs AS (SELECT media_id, n, w, h, f, unnest(range(0, h)) AS r FROM fs),
cs AS (SELECT media_id, n, w, h, f, r, unnest(range(0, w)) AS c FROM rs),
chs AS (SELECT media_id, w, h, f, r, c, unnest(range(0, 3)) AS ch FROM cs),
px AS (
  SELECT media_id, w, h, f,
         ABS((media_id*31 + f*17 + r*7 + c*3 + ch*11) % 256
             - (media_id*31 + (f-1)*17 + r*7 + c*3 + ch*11) % 256) AS d
  FROM chs
)
SELECT media_id, CAST(f AS INT) AS frame_idx,
       CAST(SUM(d) AS BIGINT) AS sum_abs_diff,
       CAST(SUM(d) AS BIGINT) / CAST(w * h * 3 AS DOUBLE) AS mean_abs_diff,
       CAST(SUM(d) AS BIGINT) / CAST(w * h * 3 AS DOUBLE) > 100.0
         AS is_scene_change
FROM px GROUP BY media_id, f, w, h
"""


def r95_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact-dedup driver check (`dbs.streaming.pipeline
    .dedup_stream` / ``dropDuplicatesWithinWatermark``): batch 1
    replays every event, batch 2 re-delivers the event_id%3==0 third
    — the second micro-batch must emit NOTHING because every key is
    already in dedup state (cross-batch, keyed, watermark-expired
    state — not a within-batch distinct). The DuckDB twin aggregates
    the source directly: any re-delivered row that leaks through
    inflates a count and breaks the hash. The watermark is far wider
    than the fixture's time span so no state expires mid-replay;
    production picks the source's re-delivery horizon instead."""
    from datalake_backend_spark.streaming.pipeline import (
        streaming_session,
    )

    spark = streaming_session(spark)
    from datalake_backend_spark.streaming.pipeline import (
        dedup_stream,
        start_to_memory,
    )

    ev = table(spark, sf_dir, "events").select(
        "event_id", F.col("ts").cast("timestamp").alias("ts"), "event_type", "value"
    )
    with replay_batches(
        spark,
        sf_dir,
        "r95_src",
        [ev, ev.where(F.pmod("event_id", F.lit(3)) == 0)],
    ) as (stream, _base):
        deduped = dedup_stream(
            stream, ["event_id"], time_col="ts", watermark="3650 days"
        )
        start_to_memory(deduped, "r95_dedup", output_mode="append")
    return (
        spark.table("r95_dedup")
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), dec_sum("value").alias("sum_value"))
    )


R95_SQL = """
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM events GROUP BY event_type
"""


def r96_versioned_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming→lakehouse sink driver check (`dbs.streaming.pipeline
    .start_versioned_sink` → `dbs.sources.versioned.VersionedTable`):
    the events feed drains in two micro-batches through foreachBatch,
    each committing an epoch-tagged APPEND snapshot (exactly-once via
    the commit log, not epoch partition columns), with a silver
    transform (drop event_id%7==0) applied per batch; then the FINAL
    SNAPSHOT is read back through the manifest and aggregated. The
    DuckDB twin applies the same transform/aggregate to the source —
    a dropped or double-committed micro-batch, or a manifest that
    mis-unions the two appends, changes the counts and breaks the
    hash."""
    from datalake_backend_spark.streaming.pipeline import (
        streaming_session,
    )

    spark = streaming_session(spark)
    from datalake_backend_spark.sources.versioned import VersionedTable
    from datalake_backend_spark.streaming.pipeline import start_versioned_sink

    ev = table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    mid = ev.agg(F.expr("percentile_approx(event_id, 0.5)")).first()[0]
    with replay_batches(
        spark, sf_dir, "r96_vs", _halves(ev, "event_id", mid)
    ) as (stream, base):
        q = start_versioned_sink(
            stream,
            f"{base}/tbl",
            f"{base}/ck",
            transform=lambda b: b.where(F.pmod("event_id", F.lit(7)) != 0),
        )
        q.awaitTermination()
        tbl = VersionedTable(f"{base}/tbl")
        assert [m["op"] for m in tbl.history()] == ["append", "append"]
        out = (
            tbl.read(spark)
            .groupBy("event_type")
            .agg(
                F.count("*").alias("n"),
                F.countDistinct("user_id").alias("n_users"),
                dec_sum("value").alias("sum_value"),
            )
        )
        # materialize before the fixture dies
        out = checkpoint(out, "queries.r96")
    return out


R96_SQL = """
SELECT event_type, COUNT(*) AS n,
       COUNT(DISTINCT user_id) AS n_users,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM events WHERE event_id % 7 <> 0
GROUP BY event_type
"""


def r111_streaming_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC-apply driver check (`dbs.streaming.pipeline
    .start_upsert_sink`): a change stream drains in two micro-batches —
    batch 1 inserts every pre-1996 order; batch 2 carries repricings
    (×2 for keys ≡0 mod 5, seq 2) AND tombstones (keys ≡0 mod 11,
    seq 3) — and each batch MERGEs into a `VersionedTable` by key
    (APPLY CHANGES INTO: intra-batch seq ordering, delete markers,
    epoch-log exactly-once). The final snapshot must equal the oracle's
    closed-form end state; a replayed batch, a lost tombstone, or
    wrong seq tie-breaking (a key can be both repriced and deleted in
    batch 2) all break the hash."""
    from datalake_backend_spark.streaming.pipeline import (
        streaming_session,
    )

    spark = streaming_session(spark)
    from datalake_backend_spark.sources.versioned import VersionedTable
    from datalake_backend_spark.streaming.pipeline import start_upsert_sink

    orders = table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1996-01-01").cast("date")
    )
    b1 = orders.select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        F.lit(1).alias("_seq"),
        F.lit(False).alias("_deleted"),
    )
    repriced = orders.where(F.pmod("o_orderkey", F.lit(5)) == 0).select(
        "o_orderkey",
        "o_orderpriority",
        (F.col("o_totalprice") * 2).alias("o_totalprice"),
        F.lit(2).alias("_seq"),
        F.lit(False).alias("_deleted"),
    )
    tombstones = orders.where(F.pmod("o_orderkey", F.lit(11)) == 0).select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        F.lit(3).alias("_seq"),
        F.lit(True).alias("_deleted"),
    )
    b2 = repriced.unionByName(tombstones)

    with replay_batches(spark, sf_dir, "r111_up", [b1, b2]) as (stream, base):
        q = start_upsert_sink(
            stream,
            f"{base}/tbl",
            f"{base}/ck",
            key_cols=["o_orderkey"],
            seq_col="_seq",
            delete_col="_deleted",
        )
        q.awaitTermination()
        tbl = VersionedTable(f"{base}/tbl")
        assert [m["op"] for m in tbl.history()] == ["merge", "merge"]
        out = (
            tbl.read(spark)
            .groupBy("o_orderpriority")
            .agg(
                F.count("*").alias("n"),
                dec_sum("o_totalprice").alias("sum_price"),
            )
        )
        # materialize before the fixture dies
        out = checkpoint(out, "queries.r111")
    return out


R111_SQL = """
SELECT o_orderpriority, COUNT(*) AS n,
       CAST(SUM(CAST(CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice * 2
                          ELSE o_totalprice END AS DECIMAL(18,4))) AS DOUBLE)
         AS sum_price
FROM orders
WHERE o_orderdate < DATE '1996-01-01' AND o_orderkey % 11 <> 0
GROUP BY o_orderpriority
"""


def r112_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-coverage driver check (`dbs.datapipe.text
    .vocab_coverage`): the smallest frequency-ranked token vocabulary
    covering 99.9% of the corpus token stream, with each kept token's
    exact count and exclusive cumulative rank mass. The cut is
    integer-exact ((999,1000) fraction — no float threshold), and the
    cumulative sum runs as a two-phase prefix over the vocabulary, so
    the oracle's single SQL window (SUM ... ROWS UNBOUNDED PRECEDING
    TO 1 PRECEDING ordered count-desc/token-asc) must agree row for
    row; a mis-stitched partition offset shifts every cum_before after
    it and breaks the hash."""
    from datalake_backend_spark.datapipe.text import vocab_coverage

    docs = table(spark, sf_dir, "documents")
    return vocab_coverage(docs, coverage=(999, 1000))


R112_SQL = r"""
WITH t AS (
  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS token
  FROM documents
),
c AS (SELECT token, COUNT(*) AS cnt FROM t GROUP BY token),
ranked AS (
  SELECT token, cnt,
         CAST(COALESCE(SUM(cnt) OVER (ORDER BY cnt DESC, token
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS cum_before
  FROM c
)
SELECT token, CAST(cnt AS BIGINT) AS cnt, cum_before
FROM ranked
WHERE cum_before * 1000 < (SELECT SUM(cnt) FROM c) * 999
"""


def r113_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-chunking driver check (`dbs.datapipe.text
    .chunk_documents`): every document split into 64-token windows
    overlapping by 16 (stride 48), tail window kept. Pure
    split→sequence→slice→posexplode column expressions — the oracle
    rebuilds each window with generate_series + list slicing and must
    match every chunk's offsets AND reassembled text exactly; an
    off-by-one in the slice bounds or a dropped tail window breaks the
    hash."""
    from datalake_backend_spark.datapipe.text import chunk_documents

    docs = table(spark, sf_dir, "documents")
    return chunk_documents(docs, chunk_tokens=64, overlap=16)


R113_SQL = r"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
  FROM documents
),
starts AS (
  SELECT doc_id, toks,
         unnest(range(0, GREATEST(len(toks) - 1, 0) + 1, 48)) AS tok_start
  FROM t
)
SELECT doc_id, CAST(tok_start // 48 AS INT) AS chunk_idx,
       CAST(tok_start AS INT) AS tok_start,
       CAST(LEAST(tok_start + 64, len(toks)) AS INT) AS tok_end,
       CAST(LEAST(tok_start + 64, len(toks)) - tok_start AS INT) AS n_tokens,
       array_to_string(toks[tok_start + 1 : tok_start + 64], ' ') AS chunk
FROM starts
"""


def r114_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality constraint driver check (`dbs.operators.constraints
    .check_constraints`): a rule list over orders — not-null key,
    price range (with a bound tight enough to actually catch rows),
    priority domain membership + regex, key uniqueness, and a
    customer foreign key — compiled into one aggregate pass for the
    row rules plus one group-by and one anti-join. The oracle
    recomputes every violation count with plain SQL; a rule that
    under-counts (e.g. counting duplicate GROUPS instead of surplus
    rows) or a predicate that mishandles nulls breaks the hash."""
    from datalake_backend_spark.operators.constraints import (
        check_constraints,
        foreign_key,
        in_range,
        in_set,
        matches,
        not_null,
        unique,
    )

    orders = table(spark, sf_dir, "orders")
    customer = table(spark, sf_dir, "customer")
    rules = [
        not_null("o_custkey"),
        in_range("o_totalprice", lo=0, hi=200000),
        in_set(
            "o_orderpriority",
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
        ),
        matches("o_orderpriority", r"^[0-9]-[A-Z ]+$"),
        unique(["o_orderkey"]),
        foreign_key("o_custkey", customer, "c_custkey", "customer"),
    ]
    return check_constraints(orders, rules)


R114_SQL = """
WITH n AS (SELECT COUNT(*) AS n_rows FROM orders)
SELECT 'not_null(o_custkey)' AS rule,
       (SELECT COUNT(*) FROM orders WHERE o_custkey IS NULL) AS violations,
       n_rows, (SELECT COUNT(*) FROM orders WHERE o_custkey IS NULL) = 0 AS passed
FROM n
UNION ALL
SELECT 'in_range(o_totalprice,0,200000)',
       (SELECT COUNT(*) FROM orders
        WHERE o_totalprice IS NOT NULL
          AND NOT (o_totalprice >= 0 AND o_totalprice <= 200000)),
       n_rows,
       (SELECT COUNT(*) FROM orders
        WHERE o_totalprice IS NOT NULL
          AND NOT (o_totalprice >= 0 AND o_totalprice <= 200000)) = 0
FROM n
UNION ALL
SELECT 'in_set(o_orderpriority)',
       (SELECT COUNT(*) FROM orders WHERE o_orderpriority IS NOT NULL
          AND o_orderpriority NOT IN ('1-URGENT','2-HIGH','3-MEDIUM',
                                      '4-NOT SPECIFIED','5-LOW')),
       n_rows,
       (SELECT COUNT(*) FROM orders WHERE o_orderpriority IS NOT NULL
          AND o_orderpriority NOT IN ('1-URGENT','2-HIGH','3-MEDIUM',
                                      '4-NOT SPECIFIED','5-LOW')) = 0
FROM n
UNION ALL
SELECT 'matches(o_orderpriority)',
       (SELECT COUNT(*) FROM orders WHERE o_orderpriority IS NOT NULL
          AND NOT regexp_matches(o_orderpriority, '^[0-9]-[A-Z ]+$')),
       n_rows,
       (SELECT COUNT(*) FROM orders WHERE o_orderpriority IS NOT NULL
          AND NOT regexp_matches(o_orderpriority, '^[0-9]-[A-Z ]+$')) = 0
FROM n
UNION ALL
SELECT 'unique(o_orderkey)',
       (SELECT CAST(COALESCE(SUM(c - 1), 0) AS BIGINT) FROM
         (SELECT COUNT(*) AS c FROM orders GROUP BY o_orderkey HAVING COUNT(*) > 1)),
       n_rows,
       (SELECT COALESCE(SUM(c - 1), 0) FROM
         (SELECT COUNT(*) AS c FROM orders GROUP BY o_orderkey HAVING COUNT(*) > 1)) = 0
FROM n
UNION ALL
SELECT 'foreign_key(o_custkey->customer.c_custkey)',
       (SELECT COUNT(*) FROM orders WHERE o_custkey IS NOT NULL
          AND o_custkey NOT IN (SELECT c_custkey FROM customer)),
       n_rows,
       (SELECT COUNT(*) FROM orders WHERE o_custkey IS NOT NULL
          AND o_custkey NOT IN (SELECT c_custkey FROM customer)) = 0
FROM n
"""


def r115_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of driver check (`dbs.operators.asof.asof_join`
    direction='forward'): each event gets the EARLIEST at-or-after
    order of its customer — the one-shuffle union-and-window plan with
    the ordering flipped (first ignorenulls over an unbounded-following
    frame, same-timestamp rows visible). DuckDB's native ASOF JOIN
    with `<=` is the oracle; the q34 backward twin already pins the
    other direction."""
    from datalake_backend_spark.operators.asof import asof_join

    ev = (
        table(spark, sf_dir, "events")
        .where(F.col("event_id") < 2000)
        .select("event_id", "ts", "user_id")
    )
    orders = table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderdate").cast("timestamp").alias("ots"),
        "o_orderkey",
        "o_totalprice",
    )
    # collapse same-(user, date) orders deterministically, as q34 does
    orders = orders.groupBy("user_id", "ots").agg(
        F.max_by("o_orderkey", "o_orderkey").alias("o_orderkey"),
        F.max_by("o_totalprice", "o_orderkey").alias("o_totalprice"),
    )
    out = asof_join(
        ev.withColumn("ts_us", F.unix_micros("ts")),
        orders.withColumn("ots_us", F.unix_micros("ots")).drop("ots"),
        on="user_id",
        left_time="ts_us",
        right_time="ots_us",
        payload_cols=["o_orderkey", "o_totalprice"],
        direction="forward",
    )
    return out.select("event_id", "user_id", "o_orderkey", "o_totalprice")


R115_SQL = """
WITH o AS (
  SELECT o_custkey AS user_id, epoch_us(CAST(o_orderdate AS TIMESTAMP)) AS odate_us,
         arg_max(o_orderkey, o_orderkey) AS o_orderkey,
         arg_max(o_totalprice, o_orderkey) AS o_totalprice
  FROM orders GROUP BY 1, 2
)
SELECT e.event_id, e.user_id, o.o_orderkey, o.o_totalprice
FROM (SELECT event_id, user_id, epoch_us(ts) AS ts_us
      FROM events WHERE event_id < 2000) e
ASOF LEFT JOIN o ON e.user_id = o.user_id AND e.ts_us <= o.odate_us
"""


def r116_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup driver check (`dbs.datapipe.dedup
    .incremental_near_dup_minhash`): the q26 corpus arrives as TWO
    ingest batches (doc_id < 200, then the rest). Batch 1 builds the
    LSH band index and dedups itself; batch 2 hashes ONLY its own docs
    and probes batch 1's stored index (new-vs-old ∪ new-vs-new) — the
    corpus is never re-hashed. The union of the two batches' verified
    pairs must equal the from-scratch all-at-once answer, so the
    oracle is exactly q26's SQL twin. A candidate lost at the batch
    boundary (the whole failure mode of incremental dedup) drops a
    pair and breaks the hash."""
    from datalake_backend_spark.datapipe.dedup import (
        incremental_near_dup_minhash,
    )

    docs = table(spark, sf_dir, "documents").where(F.col("doc_id") < 400)
    b1 = docs.where(F.col("doc_id") < 200)
    b2 = docs.where(F.col("doc_id") >= 200)
    kw = dict(n=1, threshold=0.95, bands=16, k=64)
    pairs1, idx1 = incremental_near_dup_minhash(b1, docs, None, **kw)
    pairs2, _idx2 = incremental_near_dup_minhash(b2, docs, idx1, **kw)
    out = pairs1.unionByName(pairs2).distinct()
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard_r"))


def r117_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negative-sampling driver check (`dbs.datapipe.sampling
    .negative_samples`): 3 deterministic pseudo-random negatives per
    document — rank index via the distributed prefix sum, target rank
    via the portable md5 hash mod N (self-draws re-aim one rank over).
    The DuckDB twin recomputes ranks with ROW_NUMBER and the identical
    hash arithmetic, so a mis-stitched rank index, a hash mismatch, or
    a self-draw slipping through breaks the value hash."""
    from datalake_backend_spark.datapipe.sampling import negative_samples

    docs = table(spark, sf_dir, "documents").select("doc_id")
    return negative_samples(docs, "doc_id", k=3, seed=42)


R117_SQL = """
WITH idx AS (
  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS rnk
  FROM documents
),
n AS (SELECT COUNT(*) AS n FROM documents),
anchors AS (
  SELECT i.doc_id, i.rnk AS arank, j.neg_idx
  FROM idx i CROSS JOIN (SELECT unnest(range(0, 3)) AS neg_idx) j
),
aimed AS (
  SELECT doc_id, neg_idx,
         CAST(('0x' || substr(md5(doc_id || ':' || neg_idx || ':42'), 1, 15))
              AS BIGINT) % (SELECT n FROM n) AS t0,
         arank
  FROM anchors
),
fixed AS (
  SELECT doc_id, CAST(neg_idx AS INT) AS neg_idx,
         CASE WHEN t0 = arank THEN (t0 + 1) % (SELECT n FROM n) ELSE t0 END
           AS trank
  FROM aimed
)
SELECT f.doc_id, f.neg_idx, i.doc_id AS neg_id
FROM fixed f JOIN idx i ON f.trank = i.rnk
"""


def r97_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance driver check (`dbs.operators
    .incremental.rollup_state`/`merge_rollup_state`/`finalize_rollup`):
    events arrive as THREE disjoint batches (event_id mod 3); each
    batch aggregates to per-key state in isolation, states fold
    pairwise (merge(merge(s0, s1), s2)), and the finalized metrics
    must be bit-identical to a single-pass aggregate over everything —
    counts/sums add, min/max fold, the decimal sum keeps the float
    total order-independent. The gold-zone update pattern that
    replaces the reference's rescan-everything-per-upload."""
    from datalake_backend_spark.operators.incremental import (
        finalize_rollup,
        merge_rollup_state,
        rollup_state,
    )

    ev = table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    states = [
        rollup_state(
            ev.where(F.pmod("event_id", F.lit(3)) == i),
            ["event_type"],
            ["value"],
        )
        for i in range(3)
    ]
    merged = merge_rollup_state(
        merge_rollup_state(states[0], states[1], ["event_type"]),
        states[2],
        ["event_type"],
    )
    return finalize_rollup(merged, ["value"]).select(
        "event_type",
        "value_n",
        F.col("value_sum").cast("double").alias("value_sum"),
        "value_min",
        "value_max",
        "value_avg",
    )


R97_SQL = """
SELECT event_type,
       COUNT(value) AS value_n,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS value_sum,
       MIN(value) AS value_min,
       MAX(value) AS value_max,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / COUNT(value)
         AS value_avg
FROM events GROUP BY event_type
"""


def r98_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC round-trip driver check (`dbs.operators.merge
    .apply_changelog` ∘ `snapshot_diff(include_values=True)`): r87's
    synthetic old/new snapshots produce a self-contained changelog,
    and replaying it onto OLD must reproduce NEW exactly — the
    downstream-replica consumption pattern for a change data feed.
    The DuckDB twin aggregates the NEW snapshot directly; a changelog
    that misses a delete, carries a stale value, or double-applies an
    insert shifts the per-bucket sums and breaks the hash."""
    from datalake_backend_spark.operators.merge import (
        apply_changelog,
        snapshot_diff,
    )

    orders = table(spark, sf_dir, "orders")
    old = orders.where(F.pmod(F.col("o_orderkey"), F.lit(7)) != 3).select(
        "o_orderkey", "o_totalprice"
    )
    new = orders.where(F.pmod(F.col("o_orderkey"), F.lit(5)) != 4).select(
        "o_orderkey",
        F.when(
            F.pmod(F.col("o_orderkey"), F.lit(3)) == 0,
            F.col("o_totalprice") * 2,
        )
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
    )
    changelog = snapshot_diff(
        old, new, ["o_orderkey"], ["o_totalprice"], include_values=True
    )
    applied = apply_changelog(old, changelog, ["o_orderkey"])
    return applied.groupBy(
        F.pmod("o_orderkey", F.lit(10)).alias("bucket")
    ).agg(
        F.count("*").alias("n"),
        dec_sum("o_totalprice").alias("sum_price"),
    )


R98_SQL = """
SELECT o_orderkey % 10 AS bucket, COUNT(*) AS n,
       CAST(SUM(CAST(CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice * 2
                          ELSE o_totalprice END AS DECIMAL(18,4))) AS DOUBLE)
         AS sum_price
FROM orders WHERE o_orderkey % 5 <> 4
GROUP BY o_orderkey % 10
"""


def _range_clustered_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders range-clustered on o_orderkey — the layout OPTIMIZE
    produces, shared by the r109/r140 skipping fixtures."""
    return (
        table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .repartitionByRange(8, "o_orderkey")
        .sortWithinPartitions("o_orderkey")
    )


def r109_skipping_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-skipping driver check (`dbs.sources.versioned
    .VersionedTable.read_where`): orders committed range-clustered on
    o_orderkey (repartitionByRange + sortWithinPartitions — the layout
    OPTIMIZE produces), then a key-band query must (a) return exactly
    the band — the oracle is the plain filter — and (b) PROVE the
    manifest's footer-stats index pruned files: `files_skipped` is
    computed from prune_files and pinned true in both engines. A
    skipping bug that reads everything still returns correct rows but
    flips the flag; one that over-prunes breaks the row hash."""
    from datalake_backend_spark.sources.versioned import VersionedTable

    tbl = VersionedTable(
        derive_once(
            sf_dir,
            "r109_sk",
            lambda base: VersionedTable(base).commit(
                _range_clustered_orders(spark, sf_dir), op="optimize-clustered"
            ),
        )
    )
    preds = [("o_orderkey", ">=", 10000), ("o_orderkey", "<", 20000)]
    _kept, total, n_kept = tbl.prune_files(preds)
    return tbl.read_where(spark, preds).agg(
        F.count("*").alias("n"),
        dec_sum("o_totalprice").alias("sum_price"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
        F.lit(bool(n_kept < total)).alias("files_skipped"),
    )


R109_SQL = """
SELECT COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price,
       MIN(o_orderkey) AS min_key,
       MAX(o_orderkey) AS max_key,
       TRUE AS files_skipped
FROM orders
WHERE o_orderkey >= 10000 AND o_orderkey < 20000
"""


def r140_dv_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deletion vectors × data skipping composition check: orders
    committed range-clustered (r109's layout), a key band DV-deleted
    (manifest-only; the clustered FILES are untouched, so their footer
    stats still cover the deleted rows), then a `read_where` band
    query must (a) prune files by the unchanged stats — `files_skipped`
    pinned true — and (b) STILL anti-join the vectors on the surviving
    files, so deleted rows can never be resurrected by the pruned read
    path (the ordering hazard this row exists to pin: skipping first,
    vectors second, residual filter last). The oracle is the plain
    double filter; `dv_delete_metadata_only` additionally pins that
    the delete reused the clustered dirs."""
    from datalake_backend_spark.sources.versioned import VersionedTable

    def build(base: str) -> None:
        tbl = VersionedTable(base)
        tbl.commit(
            _range_clustered_orders(spark, sf_dir), op="optimize-clustered"
        )
        tbl.delete_where(
            spark,
            (F.col("o_orderkey") >= 12000) & (F.col("o_orderkey") < 14000),
            mode="dv",
        )

    tbl = VersionedTable(derive_once(sf_dir, "r140_dvsk", build))
    preds = [("o_orderkey", ">=", 10000), ("o_orderkey", "<", 20000)]
    _kept, total, n_kept = tbl.prune_files(preds)
    head = tbl.latest_version()
    if head >= 2:
        m1, m2 = tbl.manifest(1), tbl.manifest(2)
        meta_only = m2["op"] == "delete-dv" and m2["dirs"] == m1["dirs"]
    else:
        # tiny scale factors (sf0.001 smoke) have no keys in the delete
        # band: the DV delete was a metadata no-op, vacuously true
        meta_only = True
    return tbl.read_where(spark, preds).agg(
        F.count("*").alias("n"),
        dec_sum("o_totalprice").alias("sum_price"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
        F.lit(bool(n_kept < total)).alias("files_skipped"),
        F.lit(bool(meta_only)).alias("dv_delete_metadata_only"),
    )


R140_SQL = """
SELECT COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price,
       MIN(o_orderkey) AS min_key,
       MAX(o_orderkey) AS max_key,
       TRUE AS files_skipped,
       TRUE AS dv_delete_metadata_only
FROM orders
WHERE o_orderkey >= 10000 AND o_orderkey < 20000
  AND NOT (o_orderkey >= 12000 AND o_orderkey < 14000)
"""


def r110_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact frequent-items driver check (`dbs.operators.distributions
    .heavy_hitters`): corpus vocabulary heavy hitters — every token
    holding ≥ 0.2% of the corpus token stream, with EXACT counts and
    shares, via the candidate→verify two-phase (per-partition Arrow
    local-counts bar, broadcast-semi-join exact recount). The oracle
    is the plain GROUP BY ... HAVING over the exploded tokens — a
    candidate bar that over-prunes drops a row from the hash; one that
    under-prunes is invisible (verify stage discards), which is the
    correctness contract of the sketch."""
    from datalake_backend_spark.datapipe.text import tokens
    from datalake_backend_spark.operators.distributions import heavy_hitters

    docs = table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(tokens(F.col("text"))).alias("token"))
    return heavy_hitters(toks, "token", min_share=0.002).withColumnRenamed(
        "value", "token"
    )


R110_SQL = r"""
WITH t AS (
  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS token
  FROM documents
),
tot AS (SELECT COUNT(*) AS n FROM t WHERE token IS NOT NULL)
SELECT token, COUNT(*) AS cnt,
       COUNT(*) / (SELECT CAST(n AS DOUBLE) FROM tot) AS share
FROM t WHERE token IS NOT NULL
GROUP BY token
HAVING COUNT(*) >= CEIL((SELECT n FROM tot) * 0.002)
"""


def r99_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ sketch driver check (`dbs.operators.distributions
    .approx_distinct_rollup`): per-type distinct-user cardinality via
    the mergeable sketch must land within 5% of the exact count
    (rsd=0.02 → ~2σ margin). The sketch value itself is engine-
    specific, so the oracle pins the EXACT counts plus the accuracy
    verdict (constant TRUE): a broken register merge or an estimate
    drifting out of band flips the boolean and fails the row. The
    scale story: sketch state is O(1) per group and merges
    associatively — COUNT(DISTINCT) at 100 TB is a distinct-set
    shuffle; the sketch is a map-side-combinable aggregate."""
    from datalake_backend_spark.operators.distributions import (
        approx_distinct_rollup,
    )

    ev = table(spark, sf_dir, "events")
    agg = approx_distinct_rollup(ev, ["event_type"], "user_id", rsd=0.02)
    return agg.select(
        "event_type",
        "n_exact",
        (
            F.abs(F.col("n_approx") - F.col("n_exact"))
            <= 0.05 * F.col("n_exact")
        ).alias("within_5pct"),
    )


R99_SQL = """
SELECT event_type, COUNT(DISTINCT user_id) AS n_exact, TRUE AS within_5pct
FROM events GROUP BY event_type
"""


def r100_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap-fill driver check (`dbs.operators.timeseries
    .gap_fill`): each user's event stream regularizes onto an hourly
    grid — per-tick max(value) where observed, forward-filled
    otherwise, plus the observed flag. The DuckDB twin builds the same
    grid with range() and fills with last_value IGNORE NULLS; a
    missing tick, an off-by-one bucket floor, or a fill that reads
    through an observation all change rows and break the hash. Sums
    are not involved — every output value is an exact max carried
    forward, so doubles compare bit-exactly."""
    from datalake_backend_spark.operators.timeseries import gap_fill

    step = 3_600_000_000  # 1 hour in micros
    ev = table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("t"), "value"
    )
    return gap_fill(ev, ["user_id"], "t", step, "value")


R100_SQL = """
WITH obs AS (
  SELECT user_id,
         CAST(epoch_us(ts) // 3600000000 * 3600000000 AS BIGINT) AS tick,
         MAX(value) AS v
  FROM events GROUP BY 1, 2
),
spans AS (
  SELECT user_id, MIN(tick) AS t0, MAX(tick) AS t1 FROM obs GROUP BY user_id
),
grid AS (
  SELECT user_id, unnest(range(t0, t1 + 3600000000, 3600000000)) AS tick
  FROM spans
),
j AS (
  SELECT g.user_id, g.tick, o.v
  FROM grid g LEFT JOIN obs o ON g.user_id = o.user_id AND g.tick = o.tick
)
SELECT user_id, tick,
       last_value(v IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY tick
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value,
       v IS NOT NULL AS was_observed
FROM j
"""


def r120_linear_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-interpolation gap-fill driver check (`dbs.operators
    .timeseries.gap_fill(mode='linear')`): r100's hourly grid, but
    misses interpolate between the surrounding observations —
    v0 + (v1 − v0)·(t − t0)/(t1 − t0), both neighbors from one ordered
    key-window pass. The DuckDB twin computes the identical expression
    (same association, long/long → double division), so results
    compare bit-exactly; a neighbor window off by a row or a flipped
    frame direction breaks the hash."""
    from datalake_backend_spark.operators.timeseries import gap_fill

    step = 3_600_000_000  # 1 hour in micros
    ev = table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("t"), "value"
    )
    return gap_fill(ev, ["user_id"], "t", step, "value", mode="linear")


R120_SQL = """
WITH obs AS (
  SELECT user_id,
         CAST(epoch_us(ts) // 3600000000 * 3600000000 AS BIGINT) AS tick,
         MAX(value) AS v
  FROM events GROUP BY 1, 2
),
spans AS (
  SELECT user_id, MIN(tick) AS t0, MAX(tick) AS t1 FROM obs GROUP BY user_id
),
grid AS (
  SELECT user_id, unnest(range(t0, t1 + 3600000000, 3600000000)) AS tick
  FROM spans
),
j AS (
  SELECT g.user_id, g.tick, o.v
  FROM grid g LEFT JOIN obs o ON g.user_id = o.user_id AND g.tick = o.tick
),
nb AS (
  SELECT user_id, tick, v,
         last_value(v IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY tick
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v0,
         last_value(CASE WHEN v IS NOT NULL THEN tick END IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY tick
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS t0,
         first_value(v IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY tick
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS v1,
         first_value(CASE WHEN v IS NOT NULL THEN tick END IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY tick
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS t1
  FROM j
)
SELECT user_id, tick,
       CASE WHEN v IS NOT NULL THEN v
            ELSE v0 + (v1 - v0) * ((tick - t0) / (t1 - t0)) END AS value,
       v IS NOT NULL AS was_observed
FROM nb
"""


def r101_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN driver check (`dbs.datapipe.similarity
    .pq_encode`/`pq_topk` over `pq_pinned.PINNED_CODEBOOKS`): compress
    every embedding to m=8 one-byte codes and answer top-12 by
    asymmetric distance — broadcast LUT join + key aggregate; the
    float vectors are never read at query time.

    The codebooks are PINNED (trained once by `pq_train` on the
    sf0.01 sample, integer 1e6 scale — the FAISS production shape:
    train on a bounded sample, encode any corpus), which makes the
    whole pipeline SQL-expressible and VALUE-HASHED: embeddings and
    query are quantized to integer-valued doubles, so every distance /
    dot / squared-norm is exact in double arithmetic (< 2**53) and
    encode + score are bit-identical across engines; cosine is
    scale-invariant so the integer scale changes no semantics. The
    data-trained path (`pq_train`) stays quality-pinned by
    tests/test_datapipe.py::test_pq_encode_topk_recall (recall ≥ 0.5
    vs exact at m=8/k=16, query vector always recovered)."""
    import math

    from datalake_backend_spark.datapipe.pq_pinned import (
        PINNED_CODEBOOKS,
        PQ_SCALE,
    )
    from datalake_backend_spark.datapipe.similarity import pq_encode, pq_topk

    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: F.floor(x * F.lit(PQ_SCALE))).alias(
            "embedding"
        ),
    )
    q = [float(math.floor(x * PQ_SCALE)) for x in _query_vec(spark, sf_dir, 1)]
    codes = pq_encode(emb, PINNED_CODEBOOKS)
    return pq_topk(codes, PINNED_CODEBOOKS, q, k=12).select(
        "vec_id", "pq_cosine"
    )


def _r101_sql() -> str:
    """DuckDB twin of r101: the pinned integer codebooks are inlined as
    literals, encode is the same argmin (ties → lowest code, matching
    numpy), and the score is the same exact-integer LUT sum divided by
    (qn * sqrt(sum n2)) — bit-identical on both engines."""
    from datalake_backend_spark.datapipe.pq_pinned import (
        PINNED_CODEBOOKS,
        PQ_SUB,
    )

    cb_rows = ", ".join(
        # float literals: INT32 centroid lists overflow DuckDB's v*v
        f"({si}, {c}, {[float(v) for v in cvec]!r})"
        for si, sub in enumerate(PINNED_CODEBOOKS)
        for c, cvec in enumerate(sub)
    )
    s = PQ_SUB
    return f"""
WITH cb(si, c, cvec) AS (VALUES {cb_rows}),
e AS (
  SELECT vec_id,
         list_transform(embedding,
             x -> floor(CAST(x AS DOUBLE) * 1000000.0)) AS q
  FROM embeddings
),
qv AS (SELECT q FROM e WHERE vec_id = 1),
qn AS (SELECT sqrt(list_sum(list_transform(q, v -> v * v))) AS qn FROM qv),
lut AS (
  SELECT cb.si, cb.c,
         list_sum(list_transform(range({s}),
             j -> qv.q[cb.si * {s} + j + 1] * cvec[j + 1])) AS dot,
         list_sum(list_transform(cvec, v -> v * v)) AS n2
  FROM cb, qv
),
dists AS (
  SELECT e.vec_id, cb.si, cb.c,
         list_sum(list_transform(range({s}),
             j -> (e.q[cb.si * {s} + j + 1] - cvec[j + 1]) ** 2)) AS d
  FROM e, cb
),
codes AS (
  SELECT vec_id, si, c FROM (
    SELECT vec_id, si, c,
           ROW_NUMBER() OVER (PARTITION BY vec_id, si ORDER BY d, c) AS rn
    FROM dists
  ) WHERE rn = 1
),
scored AS (
  SELECT codes.vec_id,
         SUM(lut.dot) / (ANY_VALUE(qn.qn) * sqrt(SUM(lut.n2))) AS pq_cosine
  FROM codes
  JOIN lut ON codes.si = lut.si AND codes.c = lut.c, qn
  GROUP BY codes.vec_id
)
SELECT vec_id, pq_cosine FROM scored
ORDER BY pq_cosine DESC, vec_id LIMIT 12
"""


def r102_fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy string-join driver check (`dbs.datapipe.dedup
    .fuzzy_join_levenshtein`): every part-name pair within 3 edits,
    found via the COMPLETE length-band candidate join (never
    all-pairs) and verified with exact Levenshtein. The DuckDB twin
    computes the same pairs with its native levenshtein() over an
    inequality join, so a band that silently drops an admissible
    length or a distance disagreement between engines breaks the
    hash."""
    from datalake_backend_spark.datapipe.dedup import fuzzy_join_levenshtein

    parts = (
        table(spark, sf_dir, "part")
        .where(F.pmod("p_partkey", F.lit(20)) == 0)
        .select(F.col("p_partkey").alias("doc_id"), F.col("p_name").alias("text"))
    )
    return fuzzy_join_levenshtein(parts, max_dist=3).select(
        "id_a", "id_b", "dist"
    )


R102_SQL = """
WITH p AS (
  SELECT p_partkey, p_name FROM part WHERE p_partkey % 20 = 0
)
SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
       levenshtein(a.p_name, b.p_name) AS dist
FROM p a JOIN p b
  ON a.p_partkey < b.p_partkey
 AND abs(length(a.p_name) - length(b.p_name)) <= 3
WHERE levenshtein(a.p_name, b.p_name) <= 3
"""


def r103_corpus_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-statistics quality scorer driver check (`dbs.datapipe
    .text.corpus_frequency_score`): per-document mean corpus term
    frequency and rare-token ratio — the integer-exact stand-in for a
    unigram LM logprob (cross-engine ``ln`` differs in the last ulp,
    so the score is built from counts only; every ratio is one exact
    int÷int). The DuckDB twin rebuilds the vocabulary with the same
    whitespace tokenization; a doc/vocab join that drops or
    double-counts a token shifts the ratios and breaks the hash."""
    from datalake_backend_spark.datapipe.text import corpus_frequency_score

    docs = table(spark, sf_dir, "documents")
    return corpus_frequency_score(docs)


R103_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
  FROM documents
),
t AS (SELECT doc_id, tok FROM toks WHERE tok <> ''),
vocab AS (SELECT tok, COUNT(*) AS tf FROM t GROUP BY tok)
SELECT doc_id, COUNT(*) AS n_tokens,
       CAST(SUM(tf) AS DOUBLE) / COUNT(*) AS mean_tf,
       CAST(SUM(CASE WHEN tf <= 2 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
         AS rare_ratio
FROM t JOIN vocab USING (tok)
GROUP BY doc_id
"""


def r104_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-profile driver check (`dbs.operators.distributions
    .profile_table`): ANALYZE-style per-column row/null/distinct
    counts and min/max (as strings) for the documents table, computed
    in ONE aggregate pass + stack unpivot (no per-column scans). The
    DuckDB twin recomputes each column's stats directly; columns are
    restricted to bigint/varchar so the string rendering of min/max is
    engine-identical."""
    from datalake_backend_spark.operators.distributions import profile_table

    docs = table(spark, sf_dir, "documents")
    return profile_table(docs, ["doc_id", "text", "lang", "source", "n_chars"])


R104_SQL = """
SELECT 'doc_id' AS "column", COUNT(*) AS n_rows,
       COUNT(*) - COUNT(doc_id) AS n_nulls,
       COUNT(DISTINCT doc_id) AS n_distinct,
       CAST(MIN(doc_id) AS VARCHAR) AS min_str,
       CAST(MAX(doc_id) AS VARCHAR) AS max_str
FROM documents
UNION ALL
SELECT 'text', COUNT(*), COUNT(*) - COUNT(text), COUNT(DISTINCT text),
       MIN(text), MAX(text) FROM documents
UNION ALL
SELECT 'lang', COUNT(*), COUNT(*) - COUNT(lang), COUNT(DISTINCT lang),
       MIN(lang), MAX(lang) FROM documents
UNION ALL
SELECT 'source', COUNT(*), COUNT(*) - COUNT(source), COUNT(DISTINCT source),
       MIN(source), MAX(source) FROM documents
UNION ALL
SELECT 'n_chars', COUNT(*), COUNT(*) - COUNT(n_chars), COUNT(DISTINCT n_chars),
       CAST(MIN(n_chars) AS VARCHAR), CAST(MAX(n_chars) AS VARCHAR)
FROM documents
"""


def r105_streaming_matview(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming materialized-view driver check (`dbs.streaming
    .pipeline.start_incremental_rollup_sink`): the events feed drains
    in two micro-batches; each folds its per-type aggregate state into
    a versioned state table (exactly-once via epoch-tagged commits).
    The FINAL snapshot, finalized to metrics, must be bit-identical to
    a single-pass aggregate over the source — a dropped batch, a
    double-merge on replay, or a non-mergeable statistic breaks the
    hash. The composition of incremental view maintenance (r97),
    the versioned commit log (q96), and decimal-exact sums."""
    from datalake_backend_spark.streaming.pipeline import (
        streaming_session,
    )

    spark = streaming_session(spark)
    from datalake_backend_spark.operators.incremental import finalize_rollup
    from datalake_backend_spark.sources.versioned import VersionedTable
    from datalake_backend_spark.streaming.pipeline import (
        start_incremental_rollup_sink,
    )

    ev = table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    mid = ev.agg(F.expr("percentile_approx(event_id, 0.5)")).first()[0]
    with replay_batches(
        spark, sf_dir, "r105_mv", _halves(ev, "event_id", mid)
    ) as (stream, base):
        q = start_incremental_rollup_sink(
            stream, f"{base}/tbl", f"{base}/ck", ["event_type"], ["value"]
        )
        q.awaitTermination()
        tbl = VersionedTable(f"{base}/tbl")
        assert [m["op"] for m in tbl.history()] == ["rollup-merge"] * 2
        out = finalize_rollup(tbl.read(spark), ["value"]).select(
            "event_type",
            "value_n",
            F.col("value_sum").cast("double").alias("value_sum"),
            "value_min",
            "value_max",
            "value_avg",
        )
        # materialize before the fixture dies
        out = checkpoint(out, "queries.r105")
    return out


R105_SQL = """
SELECT event_type,
       COUNT(value) AS value_n,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS value_sum,
       MIN(value) AS value_min,
       MAX(value) AS value_max,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / COUNT(value)
         AS value_avg
FROM events GROUP BY event_type
"""


def r106_video_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video-container driver check (`dbs.datapipe.multimodal
    .decode_video_frame`/`sampled_frame_stats`): every documents row
    becomes a genuine RAWV payload (length-prefixed header +
    concatenated RGB frames) whose pixels are closed-form in
    (id, frame, row, col, channel); the seek-decoder extracts every
    2nd frame WITHOUT materializing the rest and emits exact pixel
    sums. The DuckDB twin regenerates the sampled frames with
    unnest(range(...)); a header-offset or frame-stride mistake breaks
    the hash. Completes the codec triad: image (q75/q94's PPM/BMP),
    audio (q94's WAV), video."""
    from datalake_backend_spark.datapipe.multimodal import (
        sampled_frame_stats,
        synthetic_video_table,
    )

    docs = table(spark, sf_dir, "documents")
    return sampled_frame_stats(synthetic_video_table(docs), every_n=2)


R106_SQL = """
WITH dims AS (
  SELECT doc_id AS media_id,
         CAST(2 + doc_id % 4 AS INT) AS n,
         4 + doc_id % 3 AS w,
         3 + doc_id % 2 AS h,
         CAST(5 + doc_id % 3 AS INT) AS fps
  FROM documents
),
fr AS (SELECT media_id, n, w, h, fps,
              unnest(range(0, n, 2)) AS fi FROM dims),
rs AS (SELECT media_id, n, w, h, fps, fi,
              unnest(range(0, h)) AS r FROM fr),
cs AS (SELECT media_id, n, w, h, fps, fi, r,
              unnest(range(0, w)) AS c FROM rs),
px AS (
  SELECT media_id, n, fps, fi, w, h,
         (media_id * 31 + fi * 17 + r * 7 + c * 3) % 256
       + (media_id * 31 + fi * 17 + r * 7 + c * 3 + 11) % 256
       + (media_id * 31 + fi * 17 + r * 7 + c * 3 + 22) % 256 AS v
  FROM cs
)
SELECT media_id, CAST(fi AS INT) AS frame_idx, n AS n_frames, fps,
       CAST(SUM(v) AS BIGINT) AS sum_rgb,
       CAST(SUM(v) AS BIGINT) / CAST(w * h * 3 AS DOUBLE) AS mean_rgb
FROM px GROUP BY media_id, fi, n, fps, w, h
"""


def r107_percentile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-sketch driver check (KLL/GK-style
    ``approx_percentile``): per-type p50/p95 from the mergeable sketch
    must land inside the exact [p45,p55] / [p93,p97] quantile
    brackets; the exact reference percentiles come from
    `dbs.operators.distributions.exact_percentiles` (order statistics
    at exact rational ranks + one shared interpolation expression —
    bit-identical in any engine AT ANY SCALE; the former built-in
    `percentile` vs `quantile_cont` pairing drifted 1 ulp past ~10⁵
    rows/group, caught at sf1.0: p95 149.08 vs 149.07999999999998).
    The bracket bounds stay Spark-internal built-ins (the twin
    hardcodes the ok flags). Sketch state is O(1/ε) per group and
    merges associatively — the exact percentile is a full sort per
    group, which is the thing you cannot do per-batch at 100 TB."""
    from datalake_backend_spark.operators.distributions import (
        exact_percentiles,
    )

    ev = table(spark, sf_dir, "events")
    ex = exact_percentiles(ev, "value", [(1, 2), (19, 20)], ["event_type"])
    agg = ev.groupBy("event_type").agg(
        F.expr("percentile(value, array(0.45, 0.55, 0.93, 0.97))").alias("_br"),
        F.expr("approx_percentile(value, 0.5, 10000)").alias("_a50"),
        F.expr("approx_percentile(value, 0.95, 10000)").alias("_a95"),
    )
    return agg.join(ex, "event_type").select(
        "event_type",
        F.col("p_1_2").alias("p50"),
        F.col("p_19_20").alias("p95"),
        F.col("_a50").between(F.col("_br")[0], F.col("_br")[1]).alias("p50_ok"),
        F.col("_a95").between(F.col("_br")[2], F.col("_br")[3]).alias("p95_ok"),
    )


R107_SQL = """
WITH g AS (
  SELECT event_type, value AS v, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
),
c AS (
  SELECT event_type, v, cnt,
         SUM(cnt) OVER (PARTITION BY event_type ORDER BY v) AS hi,
         SUM(cnt) OVER (PARTITION BY event_type) AS n
  FROM g
),
px AS (
  SELECT event_type,
    MIN(CASE WHEN (n-1)*1 // 2 + 1 BETWEEN hi-cnt+1 AND hi THEN v END) AS lo50,
    MIN(CASE WHEN (n-1)*1 // 2 + 2 BETWEEN hi-cnt+1 AND hi THEN v END) AS hi50,
    MAX((n-1)*1 % 2) AS rem50,
    MIN(CASE WHEN (n-1)*19 // 20 + 1 BETWEEN hi-cnt+1 AND hi THEN v END) AS lo95,
    MIN(CASE WHEN (n-1)*19 // 20 + 2 BETWEEN hi-cnt+1 AND hi THEN v END) AS hi95,
    MAX((n-1)*19 % 20) AS rem95
  FROM c GROUP BY 1
)
SELECT event_type,
  lo50 + CAST(rem50 AS DOUBLE) / 2.0 * (COALESCE(hi50, lo50) - lo50) AS p50,
  lo95 + CAST(rem95 AS DOUBLE) / 20.0 * (COALESCE(hi95, lo95) - lo95) AS p95,
  TRUE AS p50_ok, TRUE AS p95_ok
FROM px
"""


def r121_quantile_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-discretization driver check (`dbs.operators
    .distributions.bucketize_by_quantiles`): per-event-type quartile
    buckets over value — boundaries are the exact interpolated
    percentiles (bit-identical to DuckDB's quantile_cont, the r107
    probe), assignment counts boundaries strictly below the value
    (ties sink to the lower bucket). Output: per (type, bucket) counts
    and the decimal-exact value sum; a shifted boundary or a flipped
    tie rule moves rows between buckets and breaks the hash."""
    from datalake_backend_spark.operators.distributions import (
        bucketize_by_quantiles,
    )

    ev = table(spark, sf_dir, "events").select("event_type", "value")
    b = bucketize_by_quantiles(ev, "value", n_buckets=4, keys=["event_type"])
    return b.groupBy("event_type", "bucket").agg(
        F.count("*").alias("n"),
        dec_sum("value").alias("sum_value"),
    )


R121_SQL = """
WITH bs AS (
  SELECT event_type, quantile_cont(value, [0.25, 0.5, 0.75]) AS b
  FROM events GROUP BY event_type
),
assigned AS (
  SELECT e.event_type, e.value,
         CAST(len(list_filter(bs.b, x -> e.value > x)) AS INT) AS bucket
  FROM events e JOIN bs ON e.event_type = bs.event_type
)
SELECT event_type, bucket, COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM assigned GROUP BY event_type, bucket
"""


def r122_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift driver check (`dbs.operators.distributions
    .distribution_shift`/`total_variation`): event-type mix of the
    even-id half of the feed vs the odd-id half — per-value exact
    integer drift numerators plus the total-variation scalar, whose
    only float op is the single final division (the Σ runs over exact
    integers, so it is order-independent and engine-exact). The twin
    recomputes both from plain conditional counts."""
    from datalake_backend_spark.operators.distributions import total_variation

    ev = table(spark, sf_dir, "events").select("event_id", "event_type")
    a = ev.where(F.pmod("event_id", F.lit(2)) == 0)
    b = ev.where(F.pmod("event_id", F.lit(2)) == 1)
    return total_variation(a, b, "event_type")


R122_SQL = """
WITH a AS (SELECT event_type, COUNT(*) AS cnt_a FROM events
           WHERE event_id % 2 = 0 GROUP BY event_type),
b AS (SELECT event_type, COUNT(*) AS cnt_b FROM events
      WHERE event_id % 2 = 1 GROUP BY event_type),
n AS (SELECT (SELECT CAST(SUM(cnt_a) AS BIGINT) FROM a) AS n_a,
             (SELECT CAST(SUM(cnt_b) AS BIGINT) FROM b) AS n_b),
j AS (
  SELECT COALESCE(a.event_type, b.event_type) AS value,
         COALESCE(cnt_a, 0) AS cnt_a, COALESCE(cnt_b, 0) AS cnt_b
  FROM a FULL OUTER JOIN b ON a.event_type = b.event_type
)
SELECT n.n_a, n.n_b, COUNT(*) AS n_values,
       CAST(SUM(ABS(cnt_a * n.n_b - cnt_b * n.n_a)) AS BIGINT)
         / (2.0 * n.n_a * n.n_b) AS tv_distance
FROM j, n GROUP BY n.n_a, n.n_b
"""


def r123_exact_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-engine-exact correlation driver check (`dbs.operators
    .distributions.exact_corr`): per-event-type Pearson corr of
    (value, user_id) from integer-accumulated floor-scaled moments —
    native corr() drifts at the last ulp between engines (double
    accumulation order), this formulation cannot. The twin computes
    the identical closed form from the identical integer moments;
    corr compares bit-exactly, no rounding."""
    from datalake_backend_spark.operators.distributions import exact_corr

    ev = table(spark, sf_dir, "events").select("event_type", "value", "user_id")
    return exact_corr(ev, "value", "user_id", keys=["event_type"])


R123_SQL = """
WITH m AS (
  SELECT event_type, COUNT(*) AS n,
    SUM(CAST(FLOOR(value * 10000) AS HUGEINT)) AS sx,
    SUM(CAST(FLOOR(user_id * 10000) AS HUGEINT)) AS sy,
    SUM(CAST(FLOOR(value * user_id * 10000) AS HUGEINT)) AS sxy,
    SUM(CAST(FLOOR(value * value * 10000) AS HUGEINT)) AS sxx,
    SUM(CAST(FLOOR(user_id * user_id * 10000) AS HUGEINT)) AS syy
  FROM events GROUP BY event_type
)
SELECT event_type, n,
       (n * (CAST(sxy AS DOUBLE) / 10000.0)
        - (CAST(sx AS DOUBLE) / 10000.0) * (CAST(sy AS DOUBLE) / 10000.0))
       / SQRT((n * (CAST(sxx AS DOUBLE) / 10000.0)
               - (CAST(sx AS DOUBLE) / 10000.0) * (CAST(sx AS DOUBLE) / 10000.0))
              * (n * (CAST(syy AS DOUBLE) / 10000.0)
                 - (CAST(sy AS DOUBLE) / 10000.0) * (CAST(sy AS DOUBLE) / 10000.0)))
         AS corr
FROM m
"""


def r124_sentence_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence-segmentation driver check (`dbs.datapipe.text
    .sentences`): per-sentence rows (text + token count) from a
    lookbehind-free split rule (``[.!?]+\\s+``), trailing terminal
    punctuation trimmed — deliberately RE2-compatible so the DuckDB
    twin applies the IDENTICAL regexes; a rule divergence or a kept
    empty fragment changes the multiset and breaks the hash."""
    from datalake_backend_spark.datapipe.text import sentences

    docs = table(spark, sf_dir, "documents")
    return sentences(docs)


R124_SQL = r"""
WITH s AS (
  SELECT doc_id,
         trim(regexp_replace(
           unnest(regexp_split_to_array(text, '[.!?]+\s+')),
           '[.!?]+$', '')) AS sentence
  FROM documents
)
SELECT doc_id, sentence,
       CAST(len(regexp_split_to_array(trim(sentence), '\s+')) AS INT)
         AS n_tokens
FROM s WHERE sentence <> ''
"""


def r125_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted-sampling driver check (`dbs.datapipe.sampling
    .weighted_sample`): keep each document with probability equal to
    a quality proxy (tokens/256, clamped to 1) — deterministic
    hash-fraction membership, no rand(). The twin recomputes the SAME
    md5 fraction and weight and must select the identical row set;
    summary = survivor count + exact token sum per source."""
    from datalake_backend_spark.datapipe.sampling import weighted_sample
    from datalake_backend_spark.datapipe.text import token_count

    docs = table(spark, sf_dir, "documents").withColumn(
        "_w", token_count(F.col("text")) / F.lit(256.0)
    )
    kept = weighted_sample(docs, "_w", "doc_id", salt="r125")
    return kept.groupBy("source").agg(
        F.count("*").alias("n"),
        F.sum(token_count(F.col("text")).cast("long")).alias("sum_tokens"),
    )


R125_SQL = r"""
WITH d AS (
  SELECT source,
         len(regexp_split_to_array(trim(text), '\s+')) AS n_tok,
         CAST(('0x' || substr(md5(doc_id || 'r125'), 1, 15)) AS BIGINT)
           / 1152921504606846976.0 AS frac
  FROM documents
)
SELECT source, COUNT(*) AS n,
       CAST(SUM(n_tok) AS BIGINT) AS sum_tokens
FROM d
WHERE frac < LEAST(GREATEST(n_tok / 256.0, 0.0), 1.0)
GROUP BY source
"""


#: r108 target mix — powers of two so every derived fraction is exact
R108_MIX = {"src0": 0.5, "src1": 0.25, "src2": 0.125, "src3": 0.125}


def r108_source_mixing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-mixing driver check (`dbs.datapipe.sampling
    .mix_to_proportions`): downsample four sources to a 4:2:1:1 target
    mix at the largest total that upsamples nothing (T = min n_s/p_s;
    the bottleneck source keeps every row). Membership is the portable
    md5 hash-fraction, so the DuckDB twin recomputes the SAME closed-
    form fractions from its own counts and must select the identical
    row set — count drift, a wrong bottleneck, or a different hash
    threshold all break the per-source totals."""
    from datalake_backend_spark.datapipe.sampling import mix_to_proportions

    docs = table(spark, sf_dir, "documents")
    kept = mix_to_proportions(docs, "source", R108_MIX, "doc_id")
    return kept.groupBy("source").agg(F.count("*").alias("n_kept"))


def _r108_sql() -> str:
    """DuckDB twin generated from the same proportion dict; fractions
    are recomputed IN SQL from the corpus counts with the same float
    ops/order as the Python driver code (n/p min, then (p·T)/n)."""
    srcs = ", ".join(f"'{s}'" for s in R108_MIX)
    pcase = "CASE source " + " ".join(
        f"WHEN '{s}' THEN {p!r}" for s, p in R108_MIX.items()
    ) + " END"
    frac = (
        "(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'mix'), 1, 15))::BIGINT"
        " / 1152921504606846976.0)"
    )
    return f"""
WITH counts AS (
  SELECT source, {pcase} AS p, COUNT(*) AS n
  FROM documents WHERE source IN ({srcs}) GROUP BY source
),
tmax AS (SELECT MIN(n / p) AS t FROM counts),
fr AS (SELECT source, (p * (SELECT t FROM tmax)) / n AS f FROM counts)
SELECT d.source, COUNT(*) AS n_kept
FROM documents d JOIN fr ON d.source = fr.source
WHERE {frac} < fr.f
GROUP BY d.source
"""


# ---------------------------------------------------------------------------
# Registry — two tiers.
#
# PRIMARY (q01–q87, 50 entries): the driver's correctness sweep records
# exactly 50 rows, so the primary tier is curated to put every
# highest-value surface inside that window — all 11 domain pipelines,
# every curation/LLM operator, streaming (batch-replay, stateful,
# watermarked tumbling/sliding windows, stream-stream join, idempotent
# sink), near-dup cluster formation, line dedup, quantization, TF-IDF,
# the custom joins, and the real-codec path. Keys keep their original
# numbers (gaps are intentional).
#
# RESERVE (rNN, 69 entries): queries whose SURVEY §2 operators are
# ALSO exercised by a primary row (e.g. r07 change-count → W1 inside
# q47; r10/r11 sessionize → q48/q52; r20 exact dedup → q73; r24/
# r28/r29 cosine/top-k → q62/q63/q82; r27 simhash → q26/q76; r61 scd2
# → q91+r64/r87/r92/r98). Renamed q→r so they sort after the primary
# tier under BOTH insertion and lexicographic order; they remain fully
# oracle-checked by tools/check_oracle.py and the local test suite.
# Mapping: rNN was qNN in earlier rounds. r87–r119 are round-5
# operators; the broadest surfaces were promoted into the window in
# three round-5 rotations (time travel q91, audio codec q94, streaming
# dedup q95, versioned sink q96, data skipping q109, streaming CDC
# apply q111) — the rest (rNN ≥ r100 and r87–r99) stay reserve:
# lakehouse maintenance, sketches, gap fill, PQ, fuzzy join, profiling,
# matview, source mixing, heavy hitters, vocab coverage, RAG chunking,
# constraints, forward as-of, incremental dedup, negative sampling,
# audio resample, scene detection. NOTE: r1NN names sort BEFORE r2x
# (digit < underscore) — keep insertion order == sorted order (pinned
# by test_entry).
# ---------------------------------------------------------------------------
QUERIES: dict[str, QuerySpec] = {

    "q01_pricing_summary": QuerySpec(q01_pricing_summary, Q01_SQL, "A8,A13,F17,S-scan"),
    "q04_order_rollup": QuerySpec(q04_order_rollup, Q04_SQL, "A1,W6"),
    "q08_time_in_state": QuerySpec(q08_time_in_state, Q08_SQL, "W2"),
    # Round 14 rotation: the six largest remaining never-driver
    # families earn window rows (cdc snapshot-diff, table profile,
    # clustering centroid-assign, business-day calendar, ordered
    # string-agg, Hilbert layout key — per
    # tools/driver_window_audit.py); q53/q54/q55/q95/q131/q166
    # demoted with family cover (pipelines keep q47/q51/q52/q56/q60,
    # streaming keeps q74/q111/q254, multimodal keeps q137/q153,
    # dedup keeps q62/q71).
    "q104_table_profile": QuerySpec(
        r104_table_profile, R104_SQL, "profile-analyze,table-stats"
    ),
    "q109_skipping_read": QuerySpec(
        r109_skipping_read, R109_SQL, "lakehouse-data-skipping,footer-stats"
    ),
    # fourth rotation (round 6): the four widest never-driver-checked
    # reserve surfaces promoted (heavy hitters, constraints,
    # incremental dedup, linear gap fill); q17/q23/q46/q63 demoted —
    # renest rides inside every q47–q60 pipeline, text keeps r14/q69/
    # q70, rollup keeps q01/q04, ANN keeps q62 + r101
    "q110_heavy_hitters": QuerySpec(
        r110_heavy_hitters, R110_SQL, "sketch-heavy-hitters,exact-verify"
    ),
    "q111_streaming_upsert": QuerySpec(
        r111_streaming_upsert, R111_SQL, "streaming-cdc-apply,merge,exactly-once"
    ),
    "q114_constraints": QuerySpec(
        r114_constraints, R114_SQL, "data-quality-constraints,validation"
    ),
    # Round 14 second wave: with the audit's top six promoted, three
    # of the four remaining never-driver families (split, fingerprint,
    # skyline) also earn window rows this round — pipeline is the only
    # family with demotion slack (q51/q52/q60 out, q47/q56 stay
    # in-window); tokenizer (r130) waits for round 15, no family has
    # >=2 spare twins left to free a fourth row.
    "q126_leakage_safe_split": QuerySpec(
        r126_leakage_safe_split, _r126_sql(), "split-by-cluster,decontamination"
    ),
    "q133_table_fingerprint": QuerySpec(
        r133_table_fingerprint, R133_SQL, "fingerprint-checksum,replication-verify"
    ),
    # fifth rotation (round 7): the codec, lakehouse-DV, source-API and
    # graph families earn their first hard driver rows (JPEG decode,
    # deletion vectors, Python DataSource, integer PageRank);
    # q67/q75/q82/q86 demoted — their families stay in-window via
    # q26/q71 (containment→LSH+decontam), q131 (codec),
    # q62+r101 (embedding/ANN), q48/q52 (funnel→sessionized state)
    # Round 10 (eighth) rotation: the real-codec family's second
    # container (GIF/LZW), the graph tier's BFS, the lakehouse deep
    # clone, and the search-serving read side of q134's index earn
    # driver-green rows; q128/q139/q148/q152 move to reserve
    # (families stay covered: decontamination→q71, VARIANT source
    # API→q137, embedding dedup→q26+q62, privacy→r152/r155/r171).
    "q134_inverted_index": QuerySpec(
        r134_inverted_index, R134_SQL, "search-inverted-index,postings"
    ),
    "q137_media_source": QuerySpec(
        r137_media_source, _r137_sql(), "source-python-datasource,media-files"
    ),
    "q145_pagerank": QuerySpec(
        r145_pagerank, R145_SQL, "graph-pagerank,iterative"
    ),
    "q147_bfs_hops": QuerySpec(
        r147_bfs_hops, R147_SQL, "graph-bfs,reachability"
    ),
    # Round 11 (ninth) rotation: four never-driver families earn hard
    # rows — Hampel rolling anomaly (timeseries), OLAP grouping sets,
    # first/last-touch attribution (analytics), and the end-to-end
    # entity-resolution pipeline; q84/q116/q127/q135 move to reserve
    # (families stay covered: streaming→q66/q74/q79/q80/q95/q111,
    # dedup→q26, codec→q131, lakehouse→q91/q150/q109).
    "q149_rolling_anomaly": QuerySpec(
        r149_rolling_anomaly, R149_SQL, "timeseries-hampel,robust-anomaly"
    ),
    "q150_deep_clone": QuerySpec(
        r150_deep_clone, R150_SQL, "lakehouse-deep-clone,dv-carryover"
    ),
    "q153_media_lifecycle": QuerySpec(
        r153_media_lifecycle, R153_SQL, "media-ingest-lifecycle,composite"
    ),
    # Round 12 rotation: the five largest never-driver families earn
    # window rows (stats/geo/window/survival/incremental — per
    # tools/driver_window_audit.py); q15/q26/q79/q81/q91 demoted with
    # family cover (core-W keeps q08/q48, dedup keeps q62/q71/q141/
    # q166, streaming keeps q66/q74/q80/q95/q111, lakehouse keeps
    # q109/q150).
    "q159_group_ols": QuerySpec(
        r159_group_ols, R159_SQL, "stats-ols-regression,exact-moments"
    ),
    "q163_rollup_sets": QuerySpec(
        r163_rollup_sets, R163_SQL, "olap-rollup-grouping-sets"
    ),
    "q167_attribution": QuerySpec(
        r167_attribution, R167_SQL, "analytics-attribution,first-last-touch"
    ),
    "q172_rank_functions": QuerySpec(
        r172_rank_functions, R172_SQL, "window-rank-suite,integer-pctrank"
    ),
    "q173_search_serving": QuerySpec(
        r173_search_serving, R173_SQL, "search-serving-view,bm25-from-index"
    ),
    # Round 13 rotation: the six largest remaining never-driver
    # families earn window rows (association, experiment/CUPED,
    # sequence/Markov, calibration/ECDF, evaluation/lift-gains,
    # allocation/FIFO — per tools/driver_window_audit.py);
    # q57/q58/q59/q66/q80/q141 demoted with family cover
    # (pipelines keep q47/q51-q56/q60, streaming keeps q74/q95/
    # q111/q254, dedup keeps q62/q71/q166).
    "q175_item_cooccurrence": QuerySpec(
        r175_item_cooccurrence, R175_SQL, "association-cooccurrence,apriori-k2"
    ),
    "q178_entity_resolution": QuerySpec(
        r178_entity_resolution, R178_SQL, "er-pipeline,block-verify-cluster"
    ),
    "q179_skyline": QuerySpec(
        r179_skyline, R179_SQL, "skyline-pareto-frontier,dominance"
    ),
    "q181_cuped": QuerySpec(
        r181_cuped, R181_SQL, "experiment-cuped,variance-reduction"
    ),
    "q182_markov_transitions": QuerySpec(
        r182_markov_transitions, R182_SQL, "sequence-markov-matrix,behavior"
    ),
    "q183_ecdf_percentile": QuerySpec(
        r183_ecdf_percentile, R183_SQL, "calibration-ecdf,quantile-transform"
    ),
    "q196_radius_join": QuerySpec(
        r196_radius_join, R196_SQL, "geo-radius-join,grid-blocking"
    ),
    "q212_score_deciles": QuerySpec(
        r212_score_deciles, R212_SQL, "evaluation-lift-gains,decile-capture"
    ),
    "q217_fifo_allocation": QuerySpec(
        r217_fifo_allocation, R217_SQL, "allocation-fifo,interval-overlap"
    ),
    "q224_centroid_assign": QuerySpec(
        r224_centroid_assign, R224_SQL, "clustering-centroid-assign,kmeans-estep"
    ),
    "q231_kaplan_meier": QuerySpec(
        r231_kaplan_meier, R231_SQL, "survival-kaplan-meier,censoring"
    ),
    "q236_business_days": QuerySpec(
        r236_business_days, R236_SQL, "calendar-business-days,F18"
    ),
    "q254_streaming_kmv": QuerySpec(
        r254_streaming_kmv, R254_SQL, "incremental-kmv,streaming-sketch"
    ),
    "q256_ordered_string_agg": QuerySpec(
        r256_ordered_string_agg, R256_SQL, "O-string-agg,deterministic"
    ),
    "q258_hilbert_key": QuerySpec(
        r258_hilbert_key, R258_SQL, "zorder-hilbert,layout-key"
    ),
    "q45_range_join": QuerySpec(q45_range_join, Q45_SQL, "J-range (custom operator)"),
    "q47_vehicle_pipeline": QuerySpec(
        q47_vehicle_pipeline,
        Q47_SQL,
        "pipeline-vehicle,E1,P2,F2,F4,F5,F6,F7,A1,A10,A11,W1,W3,W4,W6",
    ),
    "q48_state_sessions": QuerySpec(q48_state_sessions, Q48_SQL, "W7-state"),
    "q56_safety_pipeline": QuerySpec(
        q56_safety_pipeline, Q56_SQL, "pipeline-safety,A12,A10,W4,F13"
    ),
    "q62_embedding_near_dup": QuerySpec(
        q62_embedding_near_dup, _q62_sql(), "dedup-embedding,similarity-lsh"
    ),
    "q69_repetition_metrics": QuerySpec(
        q69_repetition_metrics, Q69_SQL, "quality-repetition,gopher-filters"
    ),
    "q70_pii_redaction": QuerySpec(
        q70_pii_redaction, Q70_SQL, "pii-redaction,text-scrub"
    ),
    "q71_decontamination": QuerySpec(
        q71_decontamination, Q71_SQL, "dedup-decontamination,eval-overlap"
    ),
    "q72_sequence_packing": QuerySpec(
        q72_sequence_packing, Q72_SQL, "packing-sequences,global-offsets"
    ),
    "q73_curation_pipeline": QuerySpec(
        q73_curation_pipeline, _q73_sql(), "curation-composite,normalize-dedup-sample-pack"
    ),
    "q74_stateful_slot_tracker": QuerySpec(
        q74_stateful_slot_tracker, Q74_SQL, "streaming-stateful,W7-state"
    ),
    # Round 5: q76–q86 rotated INTO the 50-entry driver window; eleven
    # long-stable rows whose operators are redundantly covered by a
    # remaining primary or reserve twin (r05/r13/r20/r22/r24/r28/r30/
    # r38/r39/r65/r68 below) moved to the reserve tier to make room.
    "q78_source_caps": QuerySpec(
        q78_source_caps, Q78_SQL, "sampling-domain-caps,topk-per-group"
    ),
    "q87_snapshot_diff": QuerySpec(r87_snapshot_diff, R87_SQL, "cdc-diff,merge"),
    # ----- reserve tier (rNN was qNN; see the registry comment) -----
    "r02_shipping_priority": QuerySpec(q02_shipping_priority, Q02_SQL, "J1,A1,O1"),
    "r03_local_supplier_volume": QuerySpec(q03_local_supplier_volume, Q03_SQL, "J1,J2"),
    "r05_track_rollup_events": QuerySpec(q05_track_rollup_events, Q05_SQL, "A1,A2,A11,W6"),
    "r06_mode_event_type": QuerySpec(q06_mode_event_type, Q06_SQL, "A10,O4"),
    "r07_change_count": QuerySpec(q07_change_count, Q07_SQL, "W1"),
    "r09_error_duration": QuerySpec(q09_error_duration, Q09_SQL, "W3"),
    # "r100" sorts here lexicographically ('0' < '_'): the dict stays
    # sorted under string order, which the window test asserts
    "r100_gap_fill": QuerySpec(r100_gap_fill, R100_SQL, "W-gap-fill,timeseries"),
    "r101_pq_topk": QuerySpec(
        r101_pq_topk, _r101_sql(), "similarity-pq,ann-compression"
    ),
    "r102_fuzzy_join": QuerySpec(
        r102_fuzzy_join, R102_SQL, "J-fuzzy-levenshtein,entity-resolution"
    ),
    "r103_corpus_frequency": QuerySpec(
        r103_corpus_frequency, R103_SQL, "text-quality,unigram-familiarity"
    ),
    "r105_streaming_matview": QuerySpec(
        r105_streaming_matview, R105_SQL,
        "streaming-materialized-view,incremental-view-maintenance",
    ),
    "r106_video_frame_stats": QuerySpec(
        r106_video_frame_stats, R106_SQL, "multimodal-video-codec,frame-sampling"
    ),
    "r107_percentile_sketch": QuerySpec(
        r107_percentile_sketch, R107_SQL, "sketch-quantile,A13-quantiles"
    ),
    "r108_source_mixing": QuerySpec(
        r108_source_mixing, _r108_sql(), "sampling-source-mix,curation"
    ),
    "r10_sessionize": QuerySpec(q10_sessionize, Q10_SQL, "W7"),
    "r112_vocab_coverage": QuerySpec(
        r112_vocab_coverage, R112_SQL, "text-vocab-coverage,prefix-sum"
    ),
    "r113_doc_chunks": QuerySpec(
        r113_doc_chunks, R113_SQL, "text-chunking,rag-windows"
    ),
    "r115_asof_forward": QuerySpec(
        r115_asof_forward, R115_SQL, "J-asof-forward (custom operator)"
    ),
    # demoted round 11 (dedup family keeps q26 minhash-LSH in-window)
    "r116_incremental_dedup": QuerySpec(
        r116_incremental_dedup, Q26_SQL, "dedup-incremental,lsh-index"
    ),
    "r117_negative_samples": QuerySpec(
        r117_negative_samples, R117_SQL, "sampling-negatives,contrastive"
    ),
    "r118_audio_resample": QuerySpec(
        r118_audio_resample, R118_SQL, "multimodal-audio-resample"
    ),
    "r119_scene_changes": QuerySpec(
        r119_scene_changes, R119_SQL, "multimodal-video-scene-detect"
    ),
    "r11_session_summary": QuerySpec(q11_session_summary, Q11_SQL, "W7,A13"),
    # demoted round 9 (gap-fill family keeps r100 step-fill + r121
    # quantile buckets in-window via the reserve oracle sweep)
    "r120_linear_gap_fill": QuerySpec(
        r120_linear_gap_fill, R120_SQL, "W-gap-fill-linear,timeseries"
    ),
    "r121_quantile_buckets": QuerySpec(
        r121_quantile_buckets, R121_SQL, "A13-quantile-discretize"
    ),
    "r122_distribution_drift": QuerySpec(
        r122_distribution_drift, R122_SQL, "A13-drift,total-variation"
    ),
    "r123_exact_corr": QuerySpec(
        r123_exact_corr, R123_SQL, "A11-correlation,exact-moments"
    ),
    "r124_sentence_stats": QuerySpec(
        r124_sentence_stats, R124_SQL, "text-sentences,segmentation"
    ),
    "r125_weighted_sample": QuerySpec(
        r125_weighted_sample, R125_SQL, "sampling-weighted,quality-keep"
    ),
    # demoted round 11 (codec family keeps q131 GIF/LZW in-window)
    "r127_jpeg_decode_stats": QuerySpec(
        r127_jpeg_decode_stats, R127_SQL, "multimodal-jpeg-codec"
    ),
    "r128_bloom_decontamination": QuerySpec(
        r128_bloom_decontamination, Q71_SQL, "decontamination-bloom,scale-prefilter"
    ),
    "r129_restore": QuerySpec(
        r129_restore, R129_SQL, "lakehouse-restore,rollback"
    ),
    "r12_first_purchase": QuerySpec(q12_first_purchase, Q12_SQL, "W5"),
    "r130_bpe_pair_counts": QuerySpec(
        r130_bpe_pair_counts, R130_SQL, "tokenizer-bpe-train,text"
    ),
    # demoted round 14 (multimodal keeps q137/q153 in-window; the
    # GIF/LZW codec stays oracle-checked here)
    "r131_gif_decode_stats": QuerySpec(
        r131_gif_decode_stats, Q75_SQL, "multimodal-gif-codec,lzw"
    ),
    "r132_image_near_dup": QuerySpec(
        r132_image_near_dup, R132_SQL, "dedup-image-perceptual,phash"
    ),
    # demoted round 11 (lakehouse family keeps q91/q150/q109 in-window;
    # DV read path still driver-checked via r140's reserve twin)
    "r135_dv_delete": QuerySpec(
        r135_dv_delete, R135_SQL, "lakehouse-deletion-vectors,merge-on-read"
    ),
    "r136_audio_near_dup": QuerySpec(
        r136_audio_near_dup, R136_SQL, "dedup-audio-perceptual,fingerprint"
    ),
    "r138_video_near_dup": QuerySpec(
        r138_video_near_dup, R138_SQL, "dedup-video-perceptual,frame-signature"
    ),
    "r139_variant_shred": QuerySpec(
        r139_variant_shred, R139_SQL, "source-variant-json,schema-on-read"
    ),
    "r13_orders_left_join": QuerySpec(q13_orders_left_join, Q13_SQL, "J1,J2,F2"),
    # byte order: '0' < '_', so r140 sorts AFTER r13_* but BEFORE r14_*
    "r140_dv_skipping": QuerySpec(
        r140_dv_skipping, R140_SQL, "lakehouse-dv-skipping-composition"
    ),
    # demoted round 13 (dedup keeps q62/q71/q166 in-window; span
    # rewrite stays oracle-swept as r141)
    "r141_span_dedup": QuerySpec(
        r141_span_dedup, R141_SQL, "dedup-substring-spans,text-rewrite"
    ),
    "r142_ngram_lm_stats": QuerySpec(
        r142_ngram_lm_stats, R142_SQL, "text-lm-counts,kneser-ney"
    ),
    "r143_temperature_mix": QuerySpec(
        r143_temperature_mix, R143_SQL, "sampling-temperature-mix,multilingual"
    ),
    "r144_lm_doc_score": QuerySpec(
        r144_lm_doc_score, R144_SQL, "text-lm-score,ccnet-filter"
    ),
    "r146_tf_cosine_pairs": QuerySpec(
        r146_tf_cosine_pairs, R146_SQL, "dedup-tf-cosine,integer-exact"
    ),
    "r148_semantic_dedup": QuerySpec(
        r148_semantic_dedup, R148_SQL, "dedup-semantic,semdedup"
    ),
    "r14_event_distribution": QuerySpec(q14_event_distribution, Q14_SQL, "A13"),
    "r151_nb_quality_score": QuerySpec(
        r151_nb_quality_score, R151_SQL, "text-quality-classifier,ccnet"
    ),
    "r152_k_anonymize": QuerySpec(
        r152_k_anonymize, R152_SQL, "privacy-k-anonymity,global-recoding"
    ),
    "r154_bm25_topk": QuerySpec(
        r154_bm25_topk, R154_SQL, "search-bm25-ranking,integer-idf"
    ),
    "r155_l_diversity": QuerySpec(
        r155_l_diversity, R155_SQL, "privacy-l-diversity,homogeneity"
    ),
    "r156_cdc_chunks": QuerySpec(
        r156_cdc_chunks, R156_SQL, "dedup-content-defined-chunking,storage"
    ),
    "r157_image_resize": QuerySpec(
        r157_image_resize, R157_SQL, "multimodal-resize,reencode-roundtrip"
    ),
    "r158_stream_static_join": QuerySpec(
        r158_stream_static_join, R158_SQL, "streaming-static-enrichment"
    ),
    # demoted round 12 (core-W keeps q08/q48; window-rank family
    # promoted q172 in the same rotation)
    "r15_top_orders_per_segment": QuerySpec(
        q15_top_orders_per_segment, Q15_SQL, "W8,O4"
    ),
    "r160_chi_square": QuerySpec(
        r160_chi_square, R160_SQL, "stats-chi-square,independence"
    ),
    "r161_partition_evolution": QuerySpec(
        r161_partition_evolution, R161_SQL, "lakehouse-partition-spec-evolution"
    ),
    "r162_bm25_multi": QuerySpec(
        r162_bm25_multi, R162_SQL, "search-bm25-multi-query,serving-batch"
    ),
    "r164_status_pivot": QuerySpec(
        r164_status_pivot, R164_SQL, "olap-pivot,conditional-agg"
    ),
    "r165_twap": QuerySpec(
        r165_twap, R165_SQL, "timeseries-twap,interval-weighted"
    ),
    # demoted round 14 (dedup keeps q62/q71 in-window; the exact
    # Jaccard prefix-filter join stays oracle-checked here)
    "r166_set_similarity_join": QuerySpec(
        r166_set_similarity_join, R166_SQL, "dedup-exact-jaccard,prefix-filter"
    ),
    "r168_retention_cohorts": QuerySpec(
        r168_retention_cohorts, R168_SQL, "analytics-retention-cohorts"
    ),
    "r169_triangle_count": QuerySpec(
        r169_triangle_count, R169_SQL, "graph-triangles,degree-orientation"
    ),
    # byte order: '9' (0x39) < '_' (0x5f) < nothing-relevant, so
    # r16_* sorts AFTER r169_* and BEFORE r170_* (same rule as r13_/r140)
    "r16_distinct_users": QuerySpec(q16_distinct_users, Q16_SQL, "U1,U2,A14"),
    "r170_personalized_pagerank": QuerySpec(
        r170_personalized_pagerank, R170_SQL, "graph-ppr,random-walk-restart"
    ),
    "r171_t_closeness": QuerySpec(
        r171_t_closeness, R171_SQL, "privacy-t-closeness,tvd"
    ),
    "r174_sorted_neighborhood": QuerySpec(
        r174_sorted_neighborhood, R174_SQL, "er-blocking-sorted-neighborhood"
    ),
    "r176_star_join": QuerySpec(
        r176_star_join, R176_SQL, "J-star-snowflake,broadcast-dims"
    ),
    "r177_random_projection": QuerySpec(
        r177_random_projection, R177_SQL, "embedding-jl-projection,dim-reduce"
    ),
    "r17_renest_lineitems": QuerySpec(q17_renest_lineitems, Q17_SQL, "E5,A7,O1"),
    "r180_cusum": QuerySpec(
        r180_cusum, R180_SQL, "timeseries-cusum,change-point"
    ),
    # byte order: '4' < '_', so r184 sorts after r183_* but before r18_*
    "r184_mp4_metadata": QuerySpec(
        r184_mp4_metadata, R184_SQL, "multimodal-mp4-demux,container-metadata"
    ),
    "r185_seasonal_index": QuerySpec(
        r185_seasonal_index, R185_SQL, "timeseries-seasonality,ratio-to-mean"
    ),
    "r186_match_weights": QuerySpec(
        r186_match_weights, R186_SQL, "er-match-weights,fellegi-sunter"
    ),
    "r187_kcore": QuerySpec(
        r187_kcore, R187_SQL, "graph-kcore,iterative-peel"
    ),
    "r188_xml_source": QuerySpec(
        r188_xml_source, R188_SQL, "source-xml-native,write-read-roundtrip"
    ),
    "r189_sequence_pattern": QuerySpec(
        r189_sequence_pattern, R189_SQL, "sequence-pattern-match,journey-regex"
    ),
    "r18_numeric_summary": QuerySpec(q18_numeric_summary, Q18_SQL, "A13,A8"),
    # byte order: r190 > r18_ at index 2 ('9' > '8') but r190_ < r19_
    # at index 3 ('0' < '_'), so r190-r192 sit BETWEEN r18_* and r19_*
    "r190_schema_merge": QuerySpec(
        r190_schema_merge, R190_SQL, "source-schema-evolution,merge-schema"
    ),
    "r191_quality_budget": QuerySpec(
        r191_quality_budget, R191_SQL, "curation-quality-budget,top-p"
    ),
    "r192_bitmap_distinct": QuerySpec(
        r192_bitmap_distinct, R192_SQL, "olap-bitmap-index,exact-distinct"
    ),
    "r193_decayed_trend": QuerySpec(
        r193_decayed_trend, R193_SQL, "timeseries-decay,trending-exact"
    ),
    "r194_ab_ttest": QuerySpec(
        r194_ab_ttest, R194_SQL, "experiment-welch-ttest,exact-moments"
    ),
    "r195_winsorized_mean": QuerySpec(
        r195_winsorized_mean, R195_SQL, "stats-winsorize,robust-mean"
    ),
    "r197_association_lift": QuerySpec(
        r197_association_lift, R197_SQL, "association-lift,affinity-score"
    ),
    "r198_fk_audit": QuerySpec(
        r198_fk_audit, R198_SQL, "data-quality-referential,fk-orphans"
    ),
    "r199_deadline_funnel": QuerySpec(
        r199_deadline_funnel, R199_SQL, "funnel-deadline,conversion-window"
    ),
    "r19_grid_buckets": QuerySpec(q19_grid_buckets, Q19_SQL, "F8,A4"),
    # ----- round-11 additions -----
    "r200_rfm_segments": QuerySpec(
        r200_rfm_segments, R200_SQL, "analytics-rfm,ntile-exact"
    ),
    "r201_cluster_keep_best": QuerySpec(
        r201_cluster_keep_best, R201_SQL, "dedup-canonicalization,curation"
    ),
    "r202_benford_digits": QuerySpec(
        r202_benford_digits, R202_SQL, "data-quality-benford,profile"
    ),
    "r203_running_distinct": QuerySpec(
        r203_running_distinct, R203_SQL, "timeseries-cumulative-reach,bitmap"
    ),
    "r204_moment_profile": QuerySpec(
        r204_moment_profile, R204_SQL, "stats-moments,shape-profile"
    ),
    "r205_tree_paths": QuerySpec(
        r205_tree_paths, R205_SQL, "graph-pointer-jumping,hierarchy-flatten"
    ),
    "r206_bounded_sssp": QuerySpec(
        r206_bounded_sssp, R206_SQL, "graph-weighted-sssp,bounded-paths"
    ),
    "r207_period_over_period": QuerySpec(
        r207_period_over_period, R207_SQL, "olap-period-over-period,mom"
    ),
    "r208_activity_streaks": QuerySpec(
        r208_activity_streaks, R208_SQL, "sequence-streaks,gaps-islands"
    ),
    "r209_cramers_v": QuerySpec(
        r209_cramers_v, R209_SQL, "stats-cramers-v,association-strength"
    ),
    "r20_exact_dedup": QuerySpec(q20_exact_dedup, Q20_SQL, "dedup-exact,U3"),
    "r210_gini_concentration": QuerySpec(
        r210_gini_concentration, R210_SQL, "analytics-gini,concentration"
    ),
    "r211_abc_classification": QuerySpec(
        r211_abc_classification, R211_SQL, "olap-abc,pareto"
    ),
    "r213_range_frame_sum": QuerySpec(
        r213_range_frame_sum, R213_SQL, "window-range-frame,rolling"
    ),
    "r214_subtree_rollup": QuerySpec(
        r214_subtree_rollup, R214_SQL, "graph-subtree-rollup,hierarchy"
    ),
    "r215_weighted_median": QuerySpec(
        r215_weighted_median, R215_SQL, "stats-weighted-median,exact-quantile"
    ),
    "r216_phrase_search": QuerySpec(
        r216_phrase_search, R216_SQL, "search-phrase,positional-index"
    ),
    "r218_pit_enrich": QuerySpec(
        r218_pit_enrich, R218_SQL, "lakehouse-pit-join,scd2-enrich"
    ),
    "r219_sliding_distinct": QuerySpec(
        r219_sliding_distinct, R219_SQL, "timeseries-sliding-distinct,wau"
    ),
    "r21_doc_fingerprint": QuerySpec(q21_doc_fingerprint, Q21_SQL, "text-fingerprint"),
    "r220_maxsim_scoring": QuerySpec(
        r220_maxsim_scoring, R220_SQL, "similarity-maxsim,late-interaction"
    ),
    "r221_concurrency_sweep": QuerySpec(
        r221_concurrency_sweep, R221_SQL, "analytics-concurrency,sweep-line"
    ),
    "r222_topn_with_other": QuerySpec(
        r222_topn_with_other, R222_SQL, "olap-topn-other,dashboard"
    ),
    "r223_share_of_root": QuerySpec(
        r223_share_of_root, R223_SQL, "graph-share-of-root,hierarchy-compose"
    ),
    "r225_confusion_matrix": QuerySpec(
        r225_confusion_matrix, R225_SQL, "evaluation-confusion,threshold-sweep"
    ),
    "r226_bbox_join": QuerySpec(
        r226_bbox_join, R226_SQL, "geo-bbox-containment,grid-join"
    ),
    "r227_streaming_reach": QuerySpec(
        r227_streaming_reach, R227_SQL, "streaming-bitmap-reach,exact-distinct"
    ),
    "r228_bag_set_ops": QuerySpec(
        r228_bag_set_ops, R228_SQL, "U-bag-set-ops,intersect-except-all"
    ),
    "r229_mann_whitney": QuerySpec(
        r229_mann_whitney, R229_SQL, "stats-rank-sum,mann-whitney"
    ),
    "r22_text_quality": QuerySpec(q22_text_quality, Q22_SQL, "text-quality"),
    "r230_spearman_rho": QuerySpec(
        r230_spearman_rho, R230_SQL, "stats-spearman,rank-correlation"
    ),
    "r232_ohlc_bars": QuerySpec(
        r232_ohlc_bars, R232_SQL, "timeseries-ohlc,W6-minby-maxby"
    ),
    "r233_max_drawdown": QuerySpec(
        r233_max_drawdown, R233_SQL, "timeseries-drawdown,W-running-max"
    ),
    "r234_nearest_depot": QuerySpec(
        r234_nearest_depot, R234_SQL, "geo-nearest-neighbor,grid-blocked"
    ),
    "r235_point_in_polygon": QuerySpec(
        r235_point_in_polygon, R235_SQL, "geo-point-in-polygon,F8"
    ),
    "r237_seat_apportionment": QuerySpec(
        r237_seat_apportionment, R237_SQL, "allocation-largest-remainder"
    ),
    "r238_unpivot": QuerySpec(r238_unpivot, R238_SQL, "olap-unpivot,E-melt"),
    "r239_node_jaccard": QuerySpec(
        r239_node_jaccard, R239_SQL, "graph-node-similarity,wedge-join"
    ),
    "r23_lang_distribution": QuerySpec(q23_lang_distribution, Q23_SQL, "text-langid,A13"),
    "r240_kmv_distinct": QuerySpec(
        r240_kmv_distinct, R240_SQL, "sketch-kmv,distinct-estimate"
    ),
    "r241_priority_sample": QuerySpec(
        r241_priority_sample, R241_SQL, "sampling-priority,fixed-k-weighted"
    ),
    "r242_key_skew_profile": QuerySpec(
        r242_key_skew_profile, R242_SQL, "profile-key-skew,shuffle-planning"
    ),
    "r243_roc_auc": QuerySpec(
        r243_roc_auc, R243_SQL, "evaluation-roc-auc,rank-sum"
    ),
    "r244_bigram_lift": QuerySpec(
        r244_bigram_lift, R244_SQL, "text-collocation,bigram-lift"
    ),
    "r245_autocorrelation": QuerySpec(
        r245_autocorrelation, R245_SQL, "timeseries-acf,exact-corr"
    ),
    "r246_asof_nearest": QuerySpec(
        r246_asof_nearest, R246_SQL, "J-asof-nearest,time-blocked"
    ),
    "r247_grid_density_clusters": QuerySpec(
        r247_grid_density_clusters, R247_SQL, "clustering-density,grid-cc"
    ),
    "r248_block_jackknife": QuerySpec(
        r248_block_jackknife, R248_SQL, "stats-jackknife,uncertainty"
    ),
    "r249_diff_in_diff": QuerySpec(
        r249_diff_in_diff, R249_SQL, "experiment-did,causal-contrast"
    ),
    "r24_cosine_threshold": QuerySpec(q24_cosine_threshold, Q24_SQL, "similarity-cosine"),
    "r250_reliability_bins": QuerySpec(
        r250_reliability_bins, R250_SQL, "calibration-reliability,binning"
    ),
    "r251_dhondt": QuerySpec(
        r251_dhondt, R251_SQL, "allocation-dhondt,divisor-method"
    ),
    "r252_categorical_mi": QuerySpec(
        r252_categorical_mi, R252_SQL, "stats-mutual-information,entropy"
    ),
    "r253_cohort_ltv": QuerySpec(
        r253_cohort_ltv, R253_SQL, "analytics-cohort-ltv,W-cumulative"
    ),
    "r255_weighted_quantiles": QuerySpec(
        r255_weighted_quantiles, R255_SQL, "stats-weighted-quantiles,A13"
    ),
    "r257_id_islands": QuerySpec(
        r257_id_islands, R257_SQL, "data-gaps-islands,sequence-audit"
    ),
    # round-12 addition: closes the named "no compressed video" gap
    # (VERDICT r11 missing #2) with MJPEG-in-AVI demux + real JPEG
    # decode — zero external libs
    "r259_mjpeg_frame_stats": QuerySpec(
        r259_mjpeg_frame_stats, R259_SQL, "multimodal-mjpeg-avi,video-codec"
    ),
    "r25_jaccard_pairs": QuerySpec(q25_jaccard_pairs, Q25_SQL, "dedup-ngram-jaccard"),
    # demoted round 12 (dedup keeps q62/q71/q141/q166 in-window)
    "r26_minhash_near_dup": QuerySpec(
        q26_minhash_near_dup, Q26_SQL, "dedup-minhash-lsh"
    ),
    "r27_simhash_near_dup": QuerySpec(q27_simhash_near_dup, Q27_SQL, "dedup-simhash"),
    "r28_ann_topk": QuerySpec(q28_ann_topk, Q28_SQL, "similarity-topk"),
    "r29_lsh_topk": QuerySpec(q29_lsh_topk, Q29_SQL, "similarity-lsh"),
    "r30_json_extract": QuerySpec(q30_json_extract, Q30_SQL, "F9,F19"),
    "r31_pivot": QuerySpec(q31_pivot, Q31_SQL, "A13-pivot"),
    "r32_rollup_totals": QuerySpec(q32_rollup_totals, Q32_SQL, "A8-rollup"),
    "r33_token_explode": QuerySpec(q33_token_explode, Q33_SQL, "E1,E2"),
    # demoted round 9 (as-of family keeps q45 range join + r90
    # interval union + r115 forward as-of)
    "r34_asof_join": QuerySpec(q34_asof_join, Q34_SQL, "J-asof (custom operator)"),
    "r35_semi_join": QuerySpec(q35_semi_join, Q35_SQL, "J-semi"),
    "r36_anti_join": QuerySpec(q36_anti_join, Q36_SQL, "J-anti"),
    "r37_union_distinct": QuerySpec(q37_union_distinct, Q37_SQL, "U-union,U1"),
    "r38_percentiles": QuerySpec(q38_percentiles, Q38_SQL, "A13-quantiles"),
    "r39_timeseries": QuerySpec(q39_timeseries, Q39_SQL, "W8-timeseries,A13"),
    "r40_salted_agg": QuerySpec(q40_salted_agg, Q40_SQL, "A-skew-salting"),
    "r41_small_quantity_revenue": QuerySpec(
        q41_small_quantity_revenue, Q41_SQL, "correlated-subquery,W6"
    ),
    "r42_large_volume_customers": QuerySpec(
        q42_large_volume_customers, Q42_SQL, "A1-having,J1"
    ),
    "r43_cube_totals": QuerySpec(q43_cube_totals, Q43_SQL, "A8-cube"),
    "r44_running_total": QuerySpec(q44_running_total, Q44_SQL, "W-running"),
    "r46_hierarchical_rollup": QuerySpec(
        q46_hierarchical_rollup, Q46_SQL, "hypertable-rollup,A13"
    ),
    "r49_media_dedup": QuerySpec(
        q49_media_dedup, Q49_SQL, "multimodal,dedup-exact"
    ),
    "r50_state_session_summary": QuerySpec(
        q50_state_session_summary, Q50_SQL, "W7-state,A13"
    ),
    # demoted round 14 second wave (pipeline family keeps q47/q56
    # in-window; people/parking/common stay oracle-swept)
    "r51_people_pipeline": QuerySpec(
        q51_people_pipeline, Q51_SQL, "pipeline-people,E2,E3,A10,W5,F16"
    ),
    "r52_parking_pipeline": QuerySpec(
        q52_parking_pipeline, Q52_SQL, "pipeline-parking,F10,F11,J2,W7,A9"
    ),
    # demoted round 14 (pipeline family cover above;
    # school/retail/tracking stay oracle-swept)
    "r53_school_pipeline": QuerySpec(
        q53_school_pipeline, Q53_SQL, "pipeline-school,F13,A10,A11,A14"
    ),
    "r54_retail_pipeline": QuerySpec(
        q54_retail_pipeline, Q54_SQL, "pipeline-retail,F18,A14,U3"
    ),
    "r55_tracking_pipeline": QuerySpec(
        q55_tracking_pipeline, Q55_SQL, "pipeline-tracking,F19,F5,A1"
    ),
    # demoted round 13 (pipeline family keeps q47/q51-q56/q60
    # in-window; pose/animal/geolocation stay oracle-swept)
    "r57_pose_pipeline": QuerySpec(
        q57_pose_pipeline, Q57_SQL, "pipeline-pose,P4,W9,A13"
    ),
    "r58_animal_pipeline": QuerySpec(
        q58_animal_pipeline, Q58_SQL, "pipeline-animal,P8,F7,F8,A4"
    ),
    "r59_geolocation_pipeline": QuerySpec(
        q59_geolocation_pipeline, Q59_SQL, "pipeline-geolocation,P1,P2,P4,A13"
    ),
    # demoted round 14 second wave (pipeline keeps q47/q56 in-window)
    "r60_common_pipeline": QuerySpec(
        q60_common_pipeline, Q60_SQL, "pipeline-common,F8,A4,A1"
    ),
    "r61_scd2_merge": QuerySpec(q61_scd2_merge, Q61_SQL, "merge-scd2"),
    "r63_ivf_ann": QuerySpec(q63_ivf_ann, Q63_SQL, "similarity-ivf,A15"),
    "r64_upsert_merge": QuerySpec(q64_upsert_merge, Q64_SQL, "merge-upsert"),
    "r65_normalized_fingerprint": QuerySpec(
        q65_normalized_fingerprint, Q65_SQL, "text-normalize,text-fingerprint"
    ),
    # demoted round 13 (streaming keeps q74/q95/q111/q254)
    "r66_streaming_sessions": QuerySpec(
        q66_streaming_sessions, Q66_SQL, "streaming-sessions,W7"
    ),
    "r67_chunk_overlap": QuerySpec(
        q67_chunk_overlap, Q67_SQL, "dedup-containment,text-fingerprint"
    ),
    "r68_stratified_split": QuerySpec(
        q68_stratified_split, _q68_sql(), "sampling-stratified,split-deterministic"
    ),
    # ----- round-5 additions (new operators; windowed in a later round) -----
    "r75_image_decode_stats": QuerySpec(
        q75_image_decode_stats, Q75_SQL, "multimodal-decode,image-codec"
    ),
    # demoted round 9 (cluster family keeps q26 minhash-LSH + q116
    # incremental dedup in-window)
    "r76_dedup_clusters": QuerySpec(
        q76_dedup_clusters, Q76_SQL, "dedup-clusters,connected-components"
    ),
    "r77_training_shards": QuerySpec(
        q77_training_shards, Q77_SQL, "sharding-deterministic,export"
    ),
    # demoted round 12 (streaming keeps q66/q74/q80/q95/q111; the
    # watermarked tumbling-window shape stays oracle-checked here)
    "r79_streaming_window_counts": QuerySpec(
        q79_streaming_window_counts, Q79_SQL, "streaming-windows,watermark"
    ),
    # demoted round 13 (streaming keeps q74/q95/q111/q254)
    "r80_streaming_silver_sink": QuerySpec(
        q80_streaming_silver_sink, Q80_SQL, "streaming-sink,exactly-once-epochs"
    ),
    # demoted round 12 (dedup keeps q62/q71/q141/q166 in-window)
    "r81_line_dedup": QuerySpec(
        q81_line_dedup, Q81_SQL, "dedup-lines,paragraph-dedup"
    ),
    "r82_quantized_cosine": QuerySpec(
        q82_quantized_cosine, Q82_SQL, "embedding-quantization,ann-storage"
    ),
    # demoted round 9 (TF-IDF family keeps r103 corpus frequency +
    # r112 vocab coverage + r113 doc chunks)
    "r83_tfidf_terms": QuerySpec(
        q83_tfidf_terms, Q83_SQL, "text-tfidf,keyword-extraction"
    ),
    # demoted round 11 (streaming family keeps q66/q74/q79/q80/q95/
    # q111 in-window; the interval-join shape stays oracle-checked
    # here and via q45's batch range join)
    "r84_stream_stream_join": QuerySpec(
        q84_stream_stream_join, Q84_SQL, "streaming-join,interval-join"
    ),
    "r85_sliding_window_counts": QuerySpec(
        q85_sliding_window_counts, Q85_SQL, "streaming-sliding-windows"
    ),
    "r86_event_funnel": QuerySpec(
        q86_event_funnel, Q86_SQL, "funnel-analysis,conditional-min-cascade"
    ),
    "r88_salted_join": QuerySpec(r88_salted_join, R88_SQL, "J-skew-salted"),
    "r89_zorder_key": QuerySpec(r89_zorder_key, R89_SQL, "zorder-clustering"),
    "r90_interval_union": QuerySpec(
        r90_interval_union, R90_SQL, "W-interval-union,gaps-islands"
    ),
    # demoted round 12 (lakehouse keeps q109/q150 in-window)
    "r91_time_travel": QuerySpec(
        r91_time_travel, R91_SQL, "lakehouse-time-travel,snapshot-isolation"
    ),
    "r92_change_feed": QuerySpec(r92_change_feed, R92_SQL, "lakehouse-cdf,merge"),
    "r93_table_history": QuerySpec(
        r93_table_history, R93_SQL, "lakehouse-commit-log"
    ),
    "r94_audio_decode_stats": QuerySpec(
        r94_audio_decode_stats, R94_SQL, "multimodal-audio-codec"
    ),
    # demoted round 14 (streaming keeps q74/q111/q254 in-window; the
    # watermarked streaming dedup stays oracle-checked here)
    "r95_streaming_dedup": QuerySpec(
        r95_streaming_dedup, R95_SQL, "streaming-dedup-watermark"
    ),
    "r96_versioned_sink": QuerySpec(
        r96_versioned_sink, R96_SQL, "streaming-lakehouse-sink,exactly-once"
    ),
    "r97_incremental_rollup": QuerySpec(
        r97_incremental_rollup, R97_SQL, "incremental-view-maintenance"
    ),
    "r98_cdc_apply": QuerySpec(r98_cdc_apply, R98_SQL, "cdc-apply,merge"),
    # third round-5 rotation: data skipping (q109) and streaming CDC
    # apply (q111) promoted; q27 simhash (near-dup family keeps q26/
    # q76) and q61 scd2 (merge family keeps q91's merge commit + r64/
    # r87/r92/r98) demoted to r27/r61 below
    "r99_approx_distinct": QuerySpec(
        r99_approx_distinct, R99_SQL, "sketch-hll-distinct"
    ),
}

#: exactly the driver's correctness window — asserted in tests
PRIMARY_TIER_SIZE = 50


def spark_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: spec.fn for name, spec in QUERIES.items()}


def oracle_queries() -> dict[str, str]:
    return {
        name: spec.oracle for name, spec in QUERIES.items() if spec.oracle is not None
    }
