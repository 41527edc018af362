"""Readers: declared-schema JSON bronze scans and the parquet catalog.

S1/S8 from SURVEY §2.1. The reference reads one JSON object per request
with inferred schema (``connectors/minio_connector.py:36-43``); here the
bronze scan takes the registry schema (no inference job), accepts glob
paths (whole-prefix loads in one job), and keeps corrupt records in a
quarantine column instead of failing the batch — at 100 TB a single bad
producer file must not kill an ingest job.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datalake_backend_spark.config import _ship_package
from datalake_backend_spark.schemas import DOMAIN_SCHEMAS

CORRUPT_COL = "_corrupt_record"

#: Tables the synthetic testdata provides (TESTDATA.md).
TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def read_raw_json(
    spark: SparkSession,
    path: str,
    domain: str | None = None,
    schema: T.StructType | None = None,
) -> DataFrame:
    """Bronze scan: multiline PERMISSIVE JSON with a declared schema.

    Mirrors S1 (``minio_connector.py:36-43``) but schema-first: pass a
    ``domain`` from the registry or an explicit StructType. Malformed
    documents land in ``_corrupt_record`` for quarantine instead of
    poisoning inference.
    """
    if schema is None:
        if domain is None:
            raise ValueError("pass either domain or schema")
        schema = DOMAIN_SCHEMAS[domain]
    if not any(f.name == CORRUPT_COL for f in schema.fields):
        schema = T.StructType(
            [*schema.fields, T.StructField(CORRUPT_COL, T.StringType())]
        )
    return (
        spark.read.schema(schema)
        .option("multiLine", "true")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(path)
    )


def split_corrupt(df: DataFrame) -> tuple[DataFrame, Observation]:
    """(clean, corrupt count) split of a bronze frame, with no job and
    no cache.

    The quarantine count is an ``observe()`` metric ``n`` on the bronze
    frame, reported by whichever action first consumes ``clean`` IN FULL
    (the engine's emptiness probe). A limit-style action would report a
    partial count, and one that prunes the scan down to
    ``_corrupt_record`` alone is rejected by Spark
    (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN). A caller
    that consumes ``clean`` more than once pins ``df`` itself
    (``core.materialize``), as the engine does for its probe and silver
    write.
    """
    corrupt = Observation()
    observed = df.observe(
        corrupt, F.count_if(F.col(CORRUPT_COL).isNotNull()).alias("n")
    )
    clean = observed.where(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    return clean, corrupt


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one synthetic testdata table (columnar parquet scan —
    filter/column pushdown verified in tests via ``explain``).

    ``events.ts`` is written as parquet TIMESTAMP(NANOS), which Spark
    only reads as a nanosecond LongType under
    ``spark.sql.legacy.parquet.nanosAsLong`` (runtime-settable). We
    normalize it to TimestampType at microsecond precision — the same
    truncation DuckDB applies when casting TIMESTAMP_NS to TIMESTAMP,
    so oracle comparisons agree exactly.

    The driver contract passes a plain session, so this also ships the
    package to its Python workers (once per SparkContext), as
    ``get_spark()`` does for the engine's own session.
    """
    _ship_package(spark)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # NTZ-vs-TZ normalization: parquet ms timestamps (isAdjustedToUTC=false)
    # arrive as TIMESTAMP_NTZ in Spark 4; the engine standardizes on
    # session-TZ timestamps pinned to UTC so epoch extraction matches
    # DuckDB's naive-as-UTC semantics exactly.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and isinstance(df.schema["ts"].dataType, T.LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    ntz = [
        f.name for f in df.schema.fields if isinstance(f.dataType, T.TimestampNTZType)
    ]
    if ntz:
        df = df.withColumns({c: F.col(c).cast("timestamp") for c in ntz})
    return df
