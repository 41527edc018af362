"""Declared schemas — the engine's schema registry.

The reference infers schemas permissively at read time and patches
columns afterwards (``Preprocess_Json_Data/connectors/minio_connector.py:36-43``,
``preprocessing/common.py:6-13``); its de-facto registry is the set of
Elasticsearch mappings. Here every domain has a declared StructType:
bronze reads are schema-on-read PERMISSIVE against these types, silver
is enforced.
"""

from datalake_backend_spark.schemas.domains import (
    DOMAIN_SCHEMAS,
    NULL_DEFAULTS,
    RENAMES,
    TIMESTAMP_COLUMNS,
)

__all__ = [
    "DOMAIN_SCHEMAS",
    "NULL_DEFAULTS",
    "RENAMES",
    "TIMESTAMP_COLUMNS",
]
