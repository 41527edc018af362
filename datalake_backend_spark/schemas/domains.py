"""Per-domain declared StructTypes for the raw (bronze) detection JSON.

Shapes distilled from the reference's producing services and
basic-preprocessor expectations (see ``FIXTURES.md`` and SURVEY §1.4);
the reference never declares these (it infers + patches —
``preprocessing/common.py:6-13``), which is exactly the fragility a
schema registry removes. Field-level citations below name the producer
that emits each shape.

Conventions: timestamps arrive as strings ``yyyy-MM-dd HH:mm:ss``
(sometimes suffixed ``+05:30`` / `` UTC``) and are parsed in the
cleaning kernel, so raw schemas keep them as StringType; ``bbox`` is
``array<double>`` ``[x1, y1, x2, y2]``.
"""

from __future__ import annotations

from pyspark.sql import types as T


def _bbox() -> T.ArrayType:
    return T.ArrayType(T.DoubleType())


# ---------------------------------------------------------------------------
# vehicle — Create_Json_Data/vehicle_service/main.py:630-673
# ---------------------------------------------------------------------------
VEHICLE_DETECTION = T.StructType(
    [
        T.StructField("tracker_id", T.IntegerType()),
        T.StructField("confidence", T.DoubleType()),
        T.StructField("bbox", _bbox()),
        T.StructField("class_id", T.IntegerType()),
        T.StructField("vehicle_type", T.StringType()),
        T.StructField("vehicle_direction", T.StringType()),
        T.StructField("vehicle_lane", T.StringType()),
        T.StructField("vehicle_color", T.StringType()),
        T.StructField("stopped", T.BooleanType()),
        T.StructField("vehicle_speed", T.DoubleType()),
        T.StructField("red_light_violation", T.BooleanType()),
        T.StructField("red_light_violation_time", T.StringType()),
        T.StructField("line_crossing", T.BooleanType()),
        T.StructField("line_crossing_violation_time", T.StringType()),
        T.StructField("vehicle_entry_time", T.StringType()),
        T.StructField("vehicle_exit_time", T.StringType()),
    ]
)

VEHICLE_RAW = T.StructType(
    [
        T.StructField("frame_number", T.IntegerType(), False),
        T.StructField("congestion_level", T.IntegerType()),
        T.StructField("traffic_light", T.StringType()),
        T.StructField("detections", T.ArrayType(VEHICLE_DETECTION), False),
    ]
)

# ---------------------------------------------------------------------------
# people — Create_Json_Data/people_service/main.py:207-212,283-302,343-356
# ---------------------------------------------------------------------------
PEOPLE_DETECTION = T.StructType(
    [
        T.StructField("tracker_id", T.IntegerType()),
        T.StructField("class_id", T.IntegerType()),
        T.StructField("class_name", T.StringType()),
        T.StructField("confidence", T.DoubleType()),
        T.StructField("bbox", _bbox()),
        T.StructField("in_area1", T.BooleanType()),
        T.StructField("in_area2", T.BooleanType()),
        T.StructField("in_restricted_area", T.BooleanType()),
        T.StructField("gender", T.StringType()),
        T.StructField("age", T.StringType()),
        T.StructField("carrying", T.StringType()),
        T.StructField("entry_time", T.StringType()),
        T.StructField("exit_time", T.StringType()),
        T.StructField("first_seen_frame", T.IntegerType()),
        T.StructField("last_seen_frame", T.IntegerType()),
        T.StructField("entered_restricted", T.BooleanType()),
    ]
)

PEOPLE_RAW = T.StructType(
    [
        T.StructField(
            "video_metadata",
            T.StructType(
                [
                    T.StructField("filename", T.StringType()),
                    T.StructField("duration_seconds", T.DoubleType()),
                    T.StructField("fps", T.DoubleType()),
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                ]
            ),
        ),
        T.StructField("processing_time", T.StringType()),
        T.StructField(
            "summary",
            T.StructType(
                [
                    T.StructField("total_people", T.IntegerType()),
                    T.StructField("total_entering", T.IntegerType()),
                    T.StructField("total_exiting", T.IntegerType()),
                    T.StructField("restricted_area_entries", T.IntegerType()),
                    T.StructField("restricted_people_ids", T.ArrayType(T.IntegerType())),
                    T.StructField("fps", T.DoubleType()),
                    T.StructField("duration_seconds", T.DoubleType()),
                ]
            ),
        ),
        T.StructField(
            "frame_detections",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("frame_number", T.IntegerType()),
                        T.StructField("timestamp", T.StringType()),
                        T.StructField("detections", T.ArrayType(PEOPLE_DETECTION)),
                    ]
                )
            ),
            False,
        ),
    ]
)

# ---------------------------------------------------------------------------
# safety — Create_Json_Data/safety_service/main.py:154-172
# ---------------------------------------------------------------------------
SAFETY_PERSON = T.StructType(
    [
        T.StructField("hardhat", T.BooleanType()),
        T.StructField("mask", T.BooleanType()),
        T.StructField("safety_vest", T.BooleanType()),
        T.StructField("tracker_id", T.IntegerType()),
        T.StructField("safety_status", T.StringType()),
        T.StructField("missing_items", T.ArrayType(T.StringType())),
        T.StructField("bbox", _bbox()),
    ]
)

SAFETY_RAW = T.StructType(
    [
        T.StructField("frame_number", T.IntegerType(), False),
        T.StructField("people", T.ArrayType(SAFETY_PERSON), False),
    ]
)

# ---------------------------------------------------------------------------
# pose — Create_Json_Data/pose_service/main.py:108-135
# ---------------------------------------------------------------------------
POSE_KEYPOINT = T.StructType(
    [
        T.StructField("landmark_id", T.DoubleType()),
        T.StructField("x", T.DoubleType()),
        T.StructField("y", T.DoubleType()),
        T.StructField("z", T.DoubleType()),
        T.StructField("visibility", T.DoubleType()),
    ]
)

POSE_RAW = T.StructType(
    [
        T.StructField("frame_number", T.IntegerType()),
        T.StructField("frame", T.IntegerType()),  # producer alias, renamed in silver
        T.StructField(
            "pose_data",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("keypoints", T.ArrayType(POSE_KEYPOINT)),
                        T.StructField("action", T.StringType()),
                        T.StructField("confidence", T.DoubleType()),
                    ]
                )
            ),
        ),
    ]
)

# ---------------------------------------------------------------------------
# animal — Create_Json_Data/animal_service/main.py:98-117
# ---------------------------------------------------------------------------
ANIMAL_DETECTION = T.StructType(
    [
        T.StructField("class_id", T.IntegerType()),
        T.StructField("class_name", T.StringType()),
        T.StructField("confidence", T.DoubleType()),
        T.StructField("bbox", _bbox()),
        T.StructField(
            "center",
            T.StructType(
                [T.StructField("x", T.DoubleType()), T.StructField("y", T.DoubleType())]
            ),
        ),
        T.StructField("area", T.IntegerType()),
        T.StructField("frame_number", T.IntegerType()),
        T.StructField("timestamp", T.DoubleType()),
    ]
)

ANIMAL_RAW = T.StructType(
    [
        T.StructField("frame_number", T.IntegerType(), False),
        T.StructField("timestamp", T.DoubleType()),  # video seconds, NOT a string
        T.StructField("detections", T.ArrayType(ANIMAL_DETECTION), False),
    ]
)

# ---------------------------------------------------------------------------
# parking — Create_Json_Data/parking_service/main.py:99-120,169-198
# slots is a JSON object keyed by slot id → MapType here (the reference
# coerces struct→map with a to_json/from_json round-trip,
# basic_preprocessing_parkingLot.py:32-39; declaring MapType up front
# removes that).
# ---------------------------------------------------------------------------
PARKING_SLOT = T.StructType(
    [
        T.StructField("occupied", T.BooleanType()),
        T.StructField("bbox", _bbox()),
        T.StructField("pixel_count", T.IntegerType()),
    ]
)

PARKING_RAW = T.StructType(
    [
        T.StructField("processing_date", T.StringType()),
        T.StructField("video_source", T.StringType()),
        T.StructField(
            "video_info",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                    T.StructField("fps", T.DoubleType()),
                    T.StructField("total_frames", T.IntegerType()),
                ]
            ),
        ),
        T.StructField(
            "parking_config",
            T.StructType(
                [
                    T.StructField("total_slots", T.IntegerType()),
                    T.StructField(
                        "slot_coordinates",
                        T.MapType(T.StringType(), T.ArrayType(T.ArrayType(T.IntegerType()))),
                    ),
                    T.StructField("detection_method", T.StringType()),
                ]
            ),
        ),
        T.StructField(
            "frame_detections",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("frame_number", T.IntegerType()),
                        T.StructField("timestamp_sec", T.DoubleType()),
                        T.StructField("slots", T.MapType(T.StringType(), PARKING_SLOT)),
                        T.StructField("free_slots", T.IntegerType()),
                    ]
                )
            ),
            False,
        ),
    ]
)

# ---------------------------------------------------------------------------
# geolocation — Create_Json_Data/vehicle_service/main.py:336-342
# ---------------------------------------------------------------------------
GEOLOCATION_RAW = T.StructType(
    [
        T.StructField("frame", T.IntegerType()),
        T.StructField("class", T.StringType()),
        T.StructField("confidence", T.DoubleType()),
        T.StructField("bbox", _bbox()),
        T.StructField(
            "geolocation",
            T.StructType(
                [
                    T.StructField("latitude", T.DoubleType()),
                    T.StructField("longitude", T.DoubleType()),
                ]
            ),
        ),
    ]
)

# ---------------------------------------------------------------------------
# common — Create_Json_Data/common_service/main.py:59-66
# ---------------------------------------------------------------------------
COMMON_RAW = T.StructType(
    [
        T.StructField("frame_number", T.IntegerType()),
        T.StructField("tracker_id", T.IntegerType()),
        T.StructField("class_id", T.IntegerType()),
        T.StructField("class_name", T.StringType()),
        T.StructField("confidence", T.DoubleType()),
        T.StructField("bbox", _bbox()),
    ]
)

# ---------------------------------------------------------------------------
# school (v2) — New_System_ToUpload_Json/process_scripts/school/
# basic_preprocessing_school.py:13-31
# ---------------------------------------------------------------------------
SCHOOL_EVENT = T.StructType(
    [
        T.StructField("event_id", T.StringType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("timestamp", T.StringType()),
        T.StructField("location", T.StringType()),
        T.StructField("confidence", T.DoubleType()),
        T.StructField("involved_person_id", T.StringType()),
        T.StructField("duration_seconds", T.DoubleType()),
        T.StructField("notes", T.StringType()),
        T.StructField("alert_level", T.StringType()),
        T.StructField("response_required", T.BooleanType()),
        T.StructField("multiple_persons_involved", T.BooleanType()),
        T.StructField("person_roles", T.ArrayType(T.StringType())),
    ]
)

SCHOOL_RAW = T.StructType(
    [
        T.StructField("frame_number", T.IntegerType(), False),
        T.StructField("timestamp", T.StringType(), False),
        T.StructField("detections", T.ArrayType(SCHOOL_EVENT), False),
    ]
)

# ---------------------------------------------------------------------------
# retail (v2) — process_scripts/retail/basic_preprocessing_retail.py:13-26
# ---------------------------------------------------------------------------
RETAIL_PRODUCT = T.StructType(
    [
        T.StructField("product_id", T.StringType()),
        T.StructField("product_name", T.StringType()),
        T.StructField("category", T.StringType()),
        T.StructField("location", T.StringType()),
        T.StructField("stock_level", T.IntegerType()),
        T.StructField("price", T.DoubleType()),
        T.StructField("picked_by_customer", T.BooleanType()),
        T.StructField("expiry_date", T.StringType()),
    ]
)

RETAIL_RAW = T.StructType(
    [
        T.StructField("frame_number", T.IntegerType(), False),
        T.StructField("timestamp", T.StringType(), False),
        T.StructField("detections", T.ArrayType(RETAIL_PRODUCT), False),
    ]
)

# ---------------------------------------------------------------------------
# tracking — Preprocess_Json_Data/preprocessing/tracking_data.py:8-21.
# The producer emits `detections` as a JSON object keyed by tracker id;
# the reference hardcodes the key list (tracking_data.py:50, silently
# dropping unknown ids). Declaring MapType makes every id a data value.
# ---------------------------------------------------------------------------
TRACKING_DETAIL = T.StructType(
    [
        T.StructField("gender", T.StringType()),
        T.StructField("age", T.IntegerType()),
        T.StructField("carrying", T.StringType()),
        T.StructField("confidence", T.DoubleType()),
        T.StructField("entry_time", T.StringType()),
        T.StructField("exit_time", T.StringType()),
        T.StructField("entry_frame", T.IntegerType()),
        T.StructField("exit_frame", T.IntegerType()),
    ]
)

TRACKING_RAW = T.StructType(
    [
        T.StructField("video_metadata", T.StringType()),
        T.StructField("processing_time", T.StringType()),
        T.StructField("summary", T.StringType()),
        T.StructField(
            "detections", T.MapType(T.StringType(), TRACKING_DETAIL), False
        ),
    ]
)

#: domain → raw (bronze) schema
DOMAIN_SCHEMAS: dict[str, T.StructType] = {
    "vehicle": VEHICLE_RAW,
    "people": PEOPLE_RAW,
    "safety": SAFETY_RAW,
    "pose": POSE_RAW,
    "animal": ANIMAL_RAW,
    "parking": PARKING_RAW,
    "geolocation": GEOLOCATION_RAW,
    "common": COMMON_RAW,
    "school": SCHOOL_RAW,
    "retail": RETAIL_RAW,
    "tracking": TRACKING_RAW,
}

#: Null-default dictionaries applied on the exploded (one row per
#: detection) silver tables. Mirrors the per-domain defaults in the
#: reference's basic preprocessors (vehicle:
#: basic_preprocessing_vehicle.py:17-40; people:
#: basic_preprocessing_people.py:12-28; etc.).
NULL_DEFAULTS: dict[str, dict[str, object]] = {
    "vehicle": {
        "tracker_id": -1,
        "confidence": 0.5,
        "class_id": -1,
        "class_name": "unknown",
        "direction": "unknown",
        "lane": "unknown",
        "vehicle_color": "unknown",
        "stopped": False,
        "speed": 0.0,
        "red_light_violation": False,
        "line_crossing": False,
    },
    "people": {
        "tracker_id": -1,
        "class_id": 0,
        "class_name": "person",
        "confidence": 0.5,
        "in_area1": False,
        "in_area2": False,
        "in_restricted_area": False,
        "gender": "Unknown",
        "age": "Unknown",
        "carrying": "Unknown",
        # sentinel default the reference uses for missing entry/exit
        # times (basic_preprocessing_people.py:23-24)
        "entry_time": "2101-01-29 17:53:46",
        "exit_time": "2101-01-29 17:53:46",
        "entered_restricted": False,
    },
    "safety": {
        "tracker_id": -1,
        "safety_status": "Unknown",
    },
    "pose": {
        "action": "unknown",
        "confidence": 0.0,
    },
    "animal": {
        "class_name": "unknown",
        "confidence": 0.0,
    },
    "geolocation": {
        "class_name": "unknown",
        "confidence": 0.0,
    },
    "common": {
        "tracker_id": -1,
        "class_id": -1,
        "class_name": "unknown",
        "confidence": 0.0,
    },
    "school": {
        "event_type": "unknown",
        "location": "unknown",
        "confidence": 0.0,
        "alert_level": "low",
        "response_required": False,
        "multiple_persons_involved": False,
    },
    "retail": {
        "product_name": "unknown",
        "category": "unknown",
        "location": "unknown",
        "stock_level": 0,
        "price": 0.0,
        "picked_by_customer": False,
    },
    "parking": {},
    # tracking_data.py:29-34
    "tracking": {
        "age": -1,
        "confidence": 0.5,
        "gender": "Unknown",
        "carrying": "Unknown",
    },
}

#: Producer column name → engine canonical name, applied in silver.
#: Mirrors basic_preprocessing_vehicle.py:62-73,
#: basic_preprocessing_geolocation.py:15-16, basic_preprocessing_pose.py:16-17.
RENAMES: dict[str, dict[str, str]] = {
    "vehicle": {
        "vehicle_type": "class_name",
        "vehicle_direction": "direction",
        "vehicle_lane": "lane",
        "vehicle_speed": "speed",
        "vehicle_entry_time": "entry_time",
        "vehicle_exit_time": "exit_time",
    },
    "geolocation": {"frame": "frame_number", "class": "class_name"},
    "pose": {"frame": "frame_number"},
}

#: String-timestamp columns to parse with the cleaning kernel
#: (preprocessing/common.py:37-45 lists these per domain).
TIMESTAMP_COLUMNS: dict[str, list[str]] = {
    "vehicle": [
        "entry_time",
        "exit_time",
        "red_light_violation_time",
        "line_crossing_violation_time",
    ],
    "people": ["timestamp", "entry_time", "exit_time"],
    "school": ["timestamp", "event_timestamp"],
    "retail": ["timestamp"],
    "parking": ["processing_date"],
}
