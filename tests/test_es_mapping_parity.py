"""ES-mapping parity: ``es_export_frame``'s projection has the field
names/types of the reference's de-facto schema registry, one fixture per
domain. This holds for that projection only: the engine's upload
``export_index`` writes gold unprojected, so its bulk export does not
carry these names.

Each ``REFERENCE_MAPPINGS`` entry transcribes the ``PUT /datalake-*``
body from ``Send_Data_To_DataLake/Documentations/{Domain}_Dev_Tool.txt``
(the reference's hand-written Elasticsearch mappings — the schema its
dashboards are built on). The test builds every domain's silver/gold
from the shared fixtures, applies
:func:`~datalake_backend_spark.serving.export.es_export_frame`, derives
the index mapping with
:func:`~datalake_backend_spark.serving.export.index_mapping`, and
asserts:

1. every reference field resolves to an exported field (directly, or
   as a sub-field of a declared nested container) with a compatible
   type family — unless it is ingest-stamped metadata
   (:data:`ES_INGEST_METADATA`) or listed in ``ALLOWED_MISSING`` with
   a reference citation;
2. the export carries NO field the reference mapping doesn't know —
   so a gold/silver column drifting into the export fails loudly;
3. declared type deviations are explicit (``ALLOWED_TYPE_DEVIATIONS``),
   never silent.
"""

from __future__ import annotations

import pytest

from datalake_backend_spark.pipelines import get_pipeline
from datalake_backend_spark.serving.export import (
    ES_EXPORT_TIER,
    ES_INDEX_NAMES,
    ES_INGEST_METADATA,
    es_export_frame,
    index_mapping,
)
from datalake_backend_spark.sources.readers import read_raw_json
from tests.fixtures import write_fixture

# --- fixtures: Documentations/*_Dev_Tool.txt mapping bodies -----------

REFERENCE_MAPPINGS: dict[str, dict[str, str]] = {
    # Vehicle_Dev_Tool.txt:5-44
    "vehicle": {
        "@timestamp": "date",
        "source_file": "keyword",
        "processing_date": "date",
        "processing_version": "keyword",
        "vehicle_count": "integer",
        "vehicle_id": "integer",
        "vehicle_type": "keyword",
        "vehicle_color": "keyword",
        "confidence_avg": "float",
        "entry_time": "date",
        "exit_time": "date",
        "duration_seconds": "float",
        "stopped": "boolean",
        "frame_count": "integer",
        "avg_speed": "float",
        "max_speed": "float",
        "min_speed": "float",
        "speed_variation": "float",
        "lane_changes": "integer",
        "initial_lane": "keyword",
        "final_lane": "keyword",
        "most_common_lane": "keyword",
        "lane_change_frequency": "float",
        "line_crossing_violation": "boolean",
        "direction": "keyword",
        "direction_changes": "integer",
        "time_spent_per_direction_Unknown": "float",
        "time_spent_per_direction_Down": "float",
        "time_spent_per_direction_Up": "float",
        "red_light_violation": "boolean",
        "total_distance": "float",
        "movement_angles": "float",
        "avg_movement_angle": "float",
    },
    # People_Dev_Tool.txt:5-24
    "people": {
        "@timestamp": "date",
        "people_id": "integer",
        "age": "keyword",
        "gender": "keyword",
        "carrying": "keyword",
        "confidence_avg": "float",
        "entered_restricted_area": "boolean",
        "restricted_area_entry_time": "date",
        "entry_time": "date",
        "exit_time": "date",
        "duration_seconds": "double",
        "frame_count": "integer",
    },
    # Parking_Dev_Tool.txt:5-20 — entry_time/exit_time/duration are the
    # parking_sessions struct fields the uploader nests
    # (processing_parkingLot.py:63, advanced_preprocessing_parkingLot
    # .py:73-77); the mapping author wrote them flat
    "parking": {
        "@timestamp": "date",
        "slot_id": "integer",
        "slot_status": "keyword",
        "total_occupied_seconds": "float",
        "total_free_seconds": "float",
        "free_percentage": "float",
        "became_free": "integer",
        "became_occupied": "integer",
        "entry_time": "float",
        "exit_time": "float",
        "duration": "float",
    },
    # Safety_Dev_Tool.txt:5-22
    "safety": {
        "@timestamp": "date",
        "source_file": "keyword",
        "processing_date": "date",
        "processing_version": "keyword",
        "frame_number": "integer",
        "tracker_id": "integer",
        "wearing_hardhat": "boolean",
        "wearing_mask": "boolean",
        "wearing_safety_vest": "boolean",
        "safety_status": "keyword",
        "missing_items": "keyword",
        "bbox": "float",
    },
    # Pose_Dev_Tool.txt:5-40 (keypoints nested)
    "pose": {
        "@timestamp": "date",
        "source_file": "keyword",
        "processing_date": "date",
        "processing_version": "keyword",
        "frame_number": "integer",
        "action": "keyword",
        "confidence": "float",
        "keypoints.landmark_id": "integer",
        "keypoints.x": "float",
        "keypoints.y": "float",
        "keypoints.z": "float",
        "keypoints.visibility": "float",
    },
    # Animal_Dev_Tool.txt:5-15
    "animal": {
        "@timestamp": "date",
        "animal_type": "keyword",
        "confidence": "float",
        "area": "integer",
        "frame_number": "integer",
        "video_timestamp": "float",
    },
    # Geolocation_Dev_Tool.txt:5-24
    "geolocation": {
        "@timestamp": "date",
        "source_file": "keyword",
        "processing_date": "date",
        "processing_version": "keyword",
        "frame_number": "integer",
        "timestamp": "date",
        "class": "keyword",
        "class_id": "integer",
        "confidence": "float",
        "bbox": "float",
        "bbox_x1": "float",
        "bbox_y1": "float",
        "bbox_x2": "float",
        "bbox_y2": "float",
        "geolocation_latitude": "float",
        "geolocation_longitude": "float",
    },
    # Common_Dev_Tool.txt:5-22 (bbox object of integer corners)
    "common": {
        "@timestamp": "date",
        "frame_number": "integer",
        "tracker_id": "integer",
        "class_id": "integer",
        "class_name": "keyword",
        "confidence": "float",
        "bbox.x1": "integer",
        "bbox.y1": "integer",
        "bbox.x2": "integer",
        "bbox.y2": "integer",
    },
}

#: reference-mapping fields legitimately absent from the export, with
#: the citation for WHY — anything else missing is a failure
ALLOWED_MISSING: dict[str, dict[str, str]] = {
    "vehicle": {
        "vehicle_count": "file-level summary stamped by the uploader "
        "(advanced_preprocessing.py:152: len(enriched_data)), not a "
        "per-vehicle column",
    },
    "geolocation": {
        "class_id": "declared in the mapping but the producer never "
        "emits it (Create_Json_Data/vehicle_service/main.py:336-342)",
        "timestamp": "declared in the mapping but the producer never "
        "emits it (same producer loop)",
    },
}

#: declared type deviations (mapping type vs exported type family)
ALLOWED_TYPE_DEVIATIONS: dict[str, dict[str, str]] = {
    "parking": {
        "slot_id": "mapping says integer but the reference itself "
        "casts slot_id to STRING "
        "(advanced_preprocessing_parkingLot.py:42); ES coerces "
        "numeric strings on index",
    },
}

#: exported container fields whose SUB-fields satisfy flat mapping
#: names (the uploader nests what the mapping author wrote flat)
NESTED_CONTAINERS: dict[str, str] = {"parking": "parking_sessions"}

_TYPE_FAMILY = {
    "date": "date",
    "keyword": "str",
    "text": "str",
    "boolean": "bool",
    "float": "float",
    "double": "float",
    "integer": "int",
    "long": "int",
    "short": "int",
    "byte": "int",
}


def _flatten(props: dict, prefix: str = "") -> dict[str, str]:
    out: dict[str, str] = {}
    for name, body in props.items():
        key = f"{prefix}{name}"
        if "properties" in body:
            out.update(_flatten(body["properties"], prefix=f"{key}."))
        else:
            out[key] = body["type"]
    return out


@pytest.fixture(scope="module")
def exported_mappings(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("es_parity")
    out = {}
    for domain in REFERENCE_MAPPINGS:
        path = write_fixture(tmp, domain)
        raw = read_raw_json(spark, path, domain=domain)
        pipe = get_pipeline(domain)
        tier = ES_EXPORT_TIER[domain]
        df = pipe.silver(raw)
        if tier == "gold":
            df = pipe.gold(df)
        frame = es_export_frame(domain, df)
        out[domain] = _flatten(
            index_mapping(frame, text_cols=())["mappings"]["properties"]
        )
    return out


@pytest.mark.parametrize("domain", sorted(REFERENCE_MAPPINGS))
def test_every_reference_field_is_exported(domain, exported_mappings):
    exported = exported_mappings[domain]
    container = NESTED_CONTAINERS.get(domain)
    missing, drifted = [], []
    for field, es_type in REFERENCE_MAPPINGS[domain].items():
        if field in ES_INGEST_METADATA:
            continue
        if field in ALLOWED_MISSING.get(domain, {}):
            continue
        got = exported.get(field)
        if got is None and container:
            got = exported.get(f"{container}.{field}")
        if got is None:
            missing.append(field)
            continue
        if field in ALLOWED_TYPE_DEVIATIONS.get(domain, {}):
            continue
        if _TYPE_FAMILY[got] != _TYPE_FAMILY[es_type]:
            drifted.append((field, es_type, got))
    assert not missing, f"{domain}: reference fields not exported: {missing}"
    assert not drifted, f"{domain}: type drift vs reference mapping: {drifted}"


@pytest.mark.parametrize("domain", sorted(REFERENCE_MAPPINGS))
def test_no_unknown_field_is_exported(domain, exported_mappings):
    ref = REFERENCE_MAPPINGS[domain]
    container = NESTED_CONTAINERS.get(domain)
    extras = []
    for field in exported_mappings[domain]:
        name = field
        if container and field.startswith(f"{container}."):
            name = field[len(container) + 1 :]
        if name not in ref:
            extras.append(field)
    assert not extras, (
        f"{domain}: exported fields the reference mapping doesn't "
        f"know: {extras} — either rename to the reference field or "
        "drop from es_export_frame"
    )


def test_index_names_cover_every_mapped_domain():
    assert set(ES_INDEX_NAMES) == set(REFERENCE_MAPPINGS)
    assert set(ES_EXPORT_TIER) == set(REFERENCE_MAPPINGS)


def test_bulk_export_round_trip(spark, tmp_path):
    """The projected frame feeds bulk_index_lines unchanged: action
    line carries the reference index name, source line carries ONLY
    reference-known fields."""
    import json

    from datalake_backend_spark.serving.export import bulk_index_lines

    path = write_fixture(tmp_path, "animal")
    raw = read_raw_json(spark, path, domain="animal")
    pipe = get_pipeline("animal")
    frame = es_export_frame("animal", pipe.silver(raw))
    lines = bulk_index_lines(
        frame, ES_INDEX_NAMES["animal"], timestamp=True
    ).collect()
    assert lines
    action, source = lines[0].value.split("\n")
    assert json.loads(action)["index"]["_index"] == "datalake-animal-data"
    doc = json.loads(source)
    known = set(REFERENCE_MAPPINGS["animal"]) | ES_INGEST_METADATA
    assert set(doc) <= known, set(doc) - known
