"""Order-independent table content fingerprints.

The lakehouse surfaces keep promising "bit-identical" state — CDC
apply reproduces the target (r98), RESTORE re-points at old data
(r129), shallow clones diverge safely, incremental matviews equal the
from-scratch aggregate (r97/r105) — and the cheapest way to HOLD that
promise operationally is a content checksum both sides can compute
independently: ``fingerprint(clone) == fingerprint(source)`` is one
aggregate per table, no row-by-row diff, no sort.

Design: each row maps to a portable 60-bit hash (md5-based
:func:`~datalake_backend_spark.datapipe.dedup.portable_hash60`, so any
engine can recompute it — a DuckDB twin is three lines of SQL), and
the table fingerprint is the SUM of row hashes as DECIMAL(38,0) plus
the row count and min/max hash. Sum is commutative/associative →
partition- and order-independent, mergeable across shards (the 100 TB
shape: per-partition partial sums, one tiny final reduce — a plain
map-side-combine aggregate, no shuffle of content). DECIMAL(38,0)
holds 2^60 · 10^13 rows without overflow.

Collision note: a 60-bit sum is a checksum, not a proof — two tables
differing in a way that cancels exactly in the sum AND preserves
count/min/max are indistinguishable. For drift detection that is the
right trade; for adversarial settings, fingerprint per group
(``group_by=``) to shrink the cancellation surface.

Canonicalization caveat (documented, deliberate): values are cast to
string and joined with a ``\\x01`` separator, NULL encoded as a
``\\x00NULL\\x00`` sentinel. Exact types (integers, strings, decimals,
dates) render identically in every engine; raw DOUBLE columns do NOT
(shortest-repr vs fixed-format) — round or scale floats to exact types
before fingerprinting, as every oracle query in this repo already does.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from datalake_backend_spark.datapipe.dedup import portable_hash60

#: row-string separator / NULL sentinel — mirrored in SQL twins as
#: chr(1) and chr(0)||'NULL'||chr(0)
_SEP = "\x01"
_NULL = "\x00NULL\x00"


def row_hash(cols: list[str]) -> Column:
    """Portable 60-bit hash of the canonical row string over ``cols``
    (in the given order). DuckDB twin:
    ``('0x' || substr(md5(COALESCE(c1::VARCHAR, chr(0)||'NULL'||chr(0))
    || chr(1) || ...), 1, 15))::BIGINT``."""
    parts = [
        F.coalesce(F.col(c).cast("string"), F.lit(_NULL)) for c in cols
    ]
    joined = parts[0]
    for p in parts[1:]:
        joined = F.concat(joined, F.lit(_SEP), p)
    return portable_hash60(joined)


def table_fingerprint(
    df: DataFrame, cols: list[str], group_by: list[str] | None = None
) -> DataFrame:
    """Content fingerprint of ``df`` over ``cols``: one row per group
    (or one row total, ``group_by=None``) with ``row_count``,
    ``content_sum`` (DECIMAL(38,0) sum of row hashes), ``hash_min``,
    ``hash_max``. Order- and partition-independent; equal fingerprints
    on both sides of a replication/restore/migration mean the content
    matches up to the checksum's strength."""
    h = row_hash(cols).alias("_h")
    aggs = [
        F.count("*").alias("row_count"),
        F.sum(F.col("_h").cast("decimal(38,0)")).alias("content_sum"),
        F.min("_h").alias("hash_min"),
        F.max("_h").alias("hash_max"),
    ]
    hashed = df.select(*(group_by or []), h)
    if group_by:
        return hashed.groupBy(*group_by).agg(*aggs)
    return hashed.agg(*aggs)
