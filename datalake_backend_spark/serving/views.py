"""Serving views: the Kibana dashboard aggregations as Spark SQL.

The reference serves analytics from Elasticsearch indices whose mappings
are its de-facto gold schema
(``Send_Data_To_DataLake/Documentations/*_Dev_Tool.txt``), queried by
dashboards (``create_vehicle_dashboard_steps.md`` viz 1-7,
``create_parking_dashboard_steps.md`` viz 1-7): total counts, term
pies/histograms, per-ID max/avg metrics, and date-bucketed time series.

Here the gold tables ARE the index (flat, one row per track/slot), and
each dashboard visualization is a SQL view over them — same numbers,
no per-document HTTP indexing loop (S11 anti-pattern,
``processing_vehicle.py:153-155``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: view name → (source gold view it selects from, SQL)
DASHBOARD_VIEWS: dict[str, str] = {
    # vehicle dashboard (viz 1: total vehicles)
    "serving_vehicle_totals": """
        SELECT COUNT(*) AS total_vehicles,
               AVG(avg_speed) AS fleet_avg_speed,
               SUM(red_light_violation_count) AS total_red_light_violations,
               SUM(line_crossing_count) AS total_line_crossings
        FROM gold_vehicle
    """,
    # viz 2/6: vehicle-type and color distributions (term pies)
    "serving_vehicle_type_dist": """
        SELECT vehicle_type AS term, COUNT(*) AS n
        FROM gold_vehicle GROUP BY vehicle_type
    """,
    "serving_vehicle_color_dist": """
        SELECT vehicle_color AS term, COUNT(*) AS n
        FROM gold_vehicle GROUP BY vehicle_color
    """,
    # viz 3/4: per-vehicle max speed / top speeders (per-ID max metric)
    "serving_vehicle_top_speed": """
        SELECT tracker_id, max_speed, direction, most_common_lane
        FROM gold_vehicle ORDER BY max_speed DESC, tracker_id ASC LIMIT 10
    """,
    # viz 5: lane distribution
    "serving_vehicle_lane_dist": """
        SELECT most_common_lane AS term, COUNT(*) AS n
        FROM gold_vehicle GROUP BY most_common_lane
    """,
    # viz 7: detections time series (date-bucketed)
    "serving_vehicle_timeseries": """
        SELECT date_trunc('minute', first_detection) AS bucket,
               COUNT(*) AS vehicles_entering
        FROM gold_vehicle GROUP BY 1
    """,
    # parking dashboard: occupancy + per-slot metrics
    "serving_parking_totals": """
        SELECT COUNT(*) AS total_slots,
               SUM(CASE WHEN slot_status = 'occupied' THEN 1 ELSE 0 END) AS occupied_now,
               AVG(free_percentage) AS avg_free_percentage,
               SUM(became_occupied) AS total_parking_events
        FROM gold_parking
    """,
    "serving_parking_slot_metrics": """
        SELECT slot_id, slot_status, became_occupied, became_free,
               total_occupied_seconds, total_free_seconds, free_percentage,
               size(parking_sessions) AS n_sessions
        FROM gold_parking
    """,
    # people dashboard equivalents
    "serving_people_totals": """
        SELECT COUNT(*) AS total_people,
               SUM(CASE WHEN entered_restricted_area THEN 1 ELSE 0 END) AS restricted_entries,
               AVG(duration_seconds) AS avg_dwell_seconds
        FROM gold_people
    """,
    "serving_people_gender_dist": """
        SELECT gender AS term, COUNT(*) AS n
        FROM gold_people WHERE gender IS NOT NULL GROUP BY gender
    """,
    # safety dashboard equivalents
    "serving_safety_violations": """
        SELECT SUM(hardhat_violations) AS hardhat,
               SUM(mask_violations) AS mask,
               SUM(safety_vest_violations) AS safety_vest,
               SUM(total_unsafe_frames) AS unsafe_frames
        FROM gold_safety
    """,
    # pose: action distribution + durations
    "serving_pose_actions": """
        SELECT action AS term, frame_count, avg_confidence, duration_seconds
        FROM gold_pose
    """,
    # animal / common: per-object counts by class
    "serving_animal_class_dist": """
        SELECT class_name AS term, COUNT(*) AS n_objects,
               SUM(detection_count) AS n_detections
        FROM gold_animal GROUP BY class_name
    """,
    "serving_common_class_dist": """
        SELECT class_name AS term, COUNT(*) AS n_objects,
               SUM(detection_count) AS n_detections
        FROM gold_common GROUP BY class_name
    """,
    # geolocation: spatial bounding boxes per class
    "serving_geolocation_extents": """
        SELECT class_name, detection_count,
               min_latitude, max_latitude, min_longitude, max_longitude
        FROM gold_geolocation
    """,
    # school: alert rollups
    "serving_school_alerts": """
        SELECT alert_level AS term, COUNT(*) AS n_events,
               SUM(occurrence_count) AS n_detections,
               SUM(CASE WHEN response_required THEN 1 ELSE 0 END) AS responses_required
        FROM gold_school GROUP BY alert_level
    """,
    # retail: category stock/pick metrics
    "serving_retail_categories": """
        SELECT category AS term, COUNT(*) AS n_products,
               AVG(avg_price) AS avg_price,
               SUM(CASE WHEN picked_by_customer THEN 1 ELSE 0 END) AS picked
        FROM gold_retail GROUP BY category
    """,
    # tracking: presence summary
    "serving_tracking_presence": """
        SELECT COUNT(*) AS n_tracks,
               AVG(duration_seconds) AS avg_duration,
               AVG(confidence) AS avg_confidence
        FROM gold_tracking
    """,
}

_DOMAINS = (
    "vehicle", "parking", "people", "safety", "pose", "animal", "common",
    "geolocation", "school", "retail", "tracking",
)

#: which gold view each serving view reads (for registration checks)
VIEW_SOURCES: dict[str, str] = {
    name: next(f"gold_{d}" for d in _DOMAINS if d in name)
    for name in DASHBOARD_VIEWS
}


def register_gold(spark: SparkSession, domain: str, gold_df: DataFrame) -> None:
    """Expose a gold DataFrame as ``gold_<domain>`` for the SQL layer."""
    _VERSIONED_GOLD.pop(domain, None)
    gold_df.createOrReplaceTempView(f"gold_{domain}")


#: domain → VersionedTable handle behind gold_<domain>, when versioned —
#: lets selective serving reads route through footer-stats data skipping
_VERSIONED_GOLD: dict[str, object] = {}


def register_versioned_gold(
    spark: SparkSession, domain: str, tbl, version: int | None = None
) -> None:
    """Register ``gold_<domain>`` over a :class:`VersionedTable`
    snapshot AND remember the handle: the dashboard views read the
    consistent snapshot as before, while selective queries
    (:func:`serve_gold_where`) open only the files whose footer stats /
    partition values can match — at 100 TB the dashboard aggregates
    scan the snapshot once, but every point/range lookup (one tracker,
    one date band) touches a handful of files instead of the table."""
    tbl.read(spark, version).createOrReplaceTempView(f"gold_{domain}")
    _VERSIONED_GOLD[domain] = tbl


def serve_gold_where(
    spark: SparkSession,
    domain: str,
    predicates: list[tuple],
    columns: list[str] | None = None,
) -> DataFrame:
    """Selective serving read over ``gold_<domain>``: ``[(col, op,
    val), ...]`` conjunctive predicates. When the gold is versioned
    (:func:`register_versioned_gold`) the read routes through
    ``VersionedTable.read_where`` — manifest footer stats + hive
    partition values prune files BEFORE the scan, and the exact filter
    still applies to survivors (skipping is never the semantics).
    Unversioned golds fall back to a plain filtered read of the temp
    view, where parquet row-group pruning still applies."""
    from pyspark.sql import functions as F

    from datalake_backend_spark.sources.versioned import PRED_COL_OPS

    tbl = _VERSIONED_GOLD.get(domain)
    if tbl is not None:
        df = tbl.read_where(spark, predicates)
    else:
        df = spark.table(f"gold_{domain}")
        for col, op, val in predicates:
            df = df.where(PRED_COL_OPS[op](F.col(col), F.lit(val)))
    return df.select(*columns) if columns else df


def register_search_index(
    spark: SparkSession,
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df: int | None = None,
) -> None:
    """Build and register the ranked-search serving pair: the
    ``serving_search_index`` inverted-index view (term → df, tf_total,
    serialized postings — the structure the search-index sink ships,
    see serving/export.py) and the ``serving_search_doclens`` document
    length table its scorer needs. The reference serves "top documents
    for this term set" from Elasticsearch; here the pair of views IS
    the index, and :func:`search_top_docs` ranks against it without a
    per-query pass over the raw corpus."""
    from datalake_backend_spark.datapipe.text import doc_lengths, inverted_index

    inverted_index(docs, text_col, id_col, max_df).createOrReplaceTempView(
        "serving_search_index"
    )
    # doc_lengths is a narrow projection (no explode, no shuffle), so
    # the scorer's two uses of this lazy view (corpus scalars + the
    # posting join) each cost one cheap scan instead of re-running a
    # full tokenize→explode→groupBy per use (round-14)
    doc_lengths(docs, text_col, id_col).createOrReplaceTempView(
        "serving_search_doclens"
    )


def search_top_docs(
    spark: SparkSession,
    queries: dict[str, list[str]],
    top_k: int = 10,
) -> DataFrame:
    """Ranked search over the registered index views: BM25 top-k per
    query, scored ENTIRELY from ``serving_search_index`` /
    ``serving_search_doclens`` (register first) — the broadcast query
    join touches only the query terms' postings, never the corpus."""
    from datalake_backend_spark.datapipe.text import bm25_search_from_index

    return bm25_search_from_index(
        spark.table("serving_search_index"),
        spark.table("serving_search_doclens"),
        queries,
        top_k=top_k,
    )


def register_serving_views(spark: SparkSession) -> list[str]:
    """Create every dashboard view whose gold source is registered.
    Returns the view names created.

    Each gold source is probed by name with ``tableExists``: listing
    the whole catalog runs Spark jobs, which a dashboard read would pay
    on every refresh."""
    available = {
        src for src in set(VIEW_SOURCES.values()) if spark.catalog.tableExists(src)
    }
    created = []
    for name, sql in DASHBOARD_VIEWS.items():
        if VIEW_SOURCES[name] in available:
            spark.sql(f"CREATE OR REPLACE TEMP VIEW {name} AS {sql}")
            created.append(name)
    return created
