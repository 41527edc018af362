"""JSON-object-as-map restructuring (SURVEY §2.3 F9/F19).

The reference meets "JSON object keyed by dynamic ids" twice and solves
it twice, badly: parking coerces struct→map with a to_json/from_json
round-trip (``basic_preprocessing_parkingLot.py:32-39``), and
tracking_data HARDCODES the key list to build array<struct>
(``preprocessing/tracking_data.py:45-57`` — silently drops unknown ids).
Here the declared bronze schemas read both objects as MapType
(``schemas/domains.py``), so ``pipelines/parking.py`` and
``pipelines/tracking.py`` explode them with no key list (q52, q55).
This module parses JSON text columns into the same map shape.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T


def parse_json_map(
    col: Column, value_type: T.DataType = T.StringType()
) -> Column:
    """Parse a JSON-text column into map<string, V> (events.props shape)."""
    return F.from_json(col, T.MapType(T.StringType(), value_type))
