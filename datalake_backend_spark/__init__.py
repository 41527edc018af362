"""datalake_backend_spark — a PySpark-native analytics engine.

A brand-new, idiomatic Spark implementation of the query and
data-processing capabilities of the reference video-analytics data
lake (``DataLake-FYP-Project/DataLake-Backend``, surveyed in
``SURVEY.md``): medallion ingest of nested per-frame detection JSON,
cleaning/typing transforms, per-tracked-object gold rollups, window
analytics (transition counts, sessionization, trajectories), serving
views — plus LLM-training-data pipeline operators (dedup, similarity
search, text analysis, multimodal columns) designed for 100 TB scale.

Everything is DataFrame/SQL-first: declared schemas, native column
expressions and window functions (zero row-at-a-time Python UDFs in
hot paths), broadcast-able joins, AQE-friendly shuffles.
"""

from datalake_backend_spark.config import get_spark


def __getattr__(name: str):
    # lazy import: `from datalake_backend_spark import Engine` without
    # paying the pipeline-module import cost for pure-operator users
    if name == "Engine":
        from datalake_backend_spark.engine import Engine

        return Engine
    raise AttributeError(name)


__all__ = ["get_spark", "Engine"]
__version__ = "0.1.0"
