"""Domain-pipeline E2E goldens: raw JSON fixture → bronze → silver → gold.

Replaces the reference's manual Streamlit check (SURVEY §5.1) with
asserted golden values per domain.
"""

from __future__ import annotations

import datetime

import pytest

from datalake_backend_spark.pipelines import PIPELINES, get_pipeline
from datalake_backend_spark.sources.readers import read_raw_json
from tests.fixtures import DOCS, write_fixture


def _run(spark, tmp_path, domain):
    path = write_fixture(tmp_path, domain)
    raw = read_raw_json(spark, path, domain=domain)
    pipe = get_pipeline(domain)
    silver = pipe.silver(raw)
    gold = pipe.gold(silver)
    return silver, gold


def test_vehicle_gold(spark, tmp_path):
    silver, gold = _run(spark, tmp_path, "vehicle")
    # invalid tracker (-1) kept in silver, dropped in gold
    assert silver.count() == 4
    rows = gold.collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.tracker_id == 1
    assert r.vehicle_type == "car"
    assert r.frame_count == 3
    assert r.avg_speed == 20.0 and r.max_speed == 30.0 and r.min_speed == 10.0
    assert abs(r.speed_variation - 10.0) < 1e-9
    assert r.lane_changes == 1  # Left → Right (→ Right)
    assert r.initial_lane == "Left Lane" and r.final_lane == "Right Lane"
    assert r.most_common_lane == "Right Lane"
    assert r.direction_changes == 1  # Up → Up → Down
    assert r.direction == "Up"
    assert r.red_light_violation_count == 1
    assert r.line_crossing_count == 1
    # tz suffixes stripped: 12:00:00 / :05 / :10 → duration 10s
    assert r.duration_seconds == 10.0
    # stopped at frame 2 (prev of frame-3 interval) → 5s
    assert r.stopped_duration == 5.0
    assert r.time_spent_per_direction == {"Up": 10.0}
    assert r.total_distance == 0.0  # bbox never moves


def test_people_gold_and_empty_frames(spark, tmp_path):
    silver, gold = _run(spark, tmp_path, "people")
    # empty frame 3 survives as a null-detection row (explode_outer)
    assert silver.where("frame_number = 3").count() == 1
    rows = {r.tracker_id: r for r in gold.collect()}
    assert set(rows) == {7, 9}
    p7 = rows[7]
    assert p7.gender == "male" and p7.age == "20-30"  # Unknown excluded from mode
    assert p7.entered_restricted_area is True
    assert p7.restricted_area_entry_time == datetime.datetime(2024, 5, 1, 12, 0, 1)
    assert p7.frame_count == 2
    assert rows[9].entered_restricted_area is False


def test_safety_gold(spark, tmp_path):
    _, gold = _run(spark, tmp_path, "safety")
    rows = {r.tracker_id: r for r in gold.collect()}
    t1 = rows[1]
    assert t1.frame_count == 3
    # hardhat: True,True,False → 1 violation; mask: None,False,True → 2
    assert t1.hardhat_violations == 1
    assert t1.mask_violations == 2
    assert t1.safety_vest_violations == 0
    assert t1.had_hardhat is True and t1.had_mask is True
    assert t1.total_unsafe_frames == 3
    assert t1.most_common_missing_item == "mask"
    assert rows[2].total_unsafe_frames == 0


def test_parking_sessionization(spark, tmp_path):
    silver, gold = _run(spark, tmp_path, "parking")
    assert silver.count() == 12  # 4 frames × 3 slots
    rows = {r.slot_id: r for r in gold.collect()}
    a, b, c = rows["A"], rows["B"], rows["C"]
    # A: occupied (10→30], one closed session of 20s
    assert a.became_occupied == 1 and a.became_free == 1
    assert a.total_occupied_seconds == 20.0
    assert a.total_free_seconds == 10.0
    assert a.slot_status == "free"
    assert [(s.entry_time, s.exit_time, s.duration) for s in a.parking_sessions] == [
        (10.0, 30.0, 20.0)
    ]
    # B: tail-open session from t=20, still occupied
    assert b.slot_status == "occupied"
    assert b.became_occupied == 1 and b.became_free == 0
    assert [(s.entry_time, s.duration) for s in b.parking_sessions] == [(20.0, 10.0)]
    # C: never occupied
    assert c.parking_sessions == [] and c.slot_status == "free"
    assert c.total_free_seconds == 30.0


def test_parking_free_slots(spark, tmp_path):
    from datalake_backend_spark.pipelines.parking import free_slots_per_frame

    path = write_fixture(tmp_path, "parking")
    raw = read_raw_json(spark, path, domain="parking")
    silver = get_pipeline("parking").silver(raw)
    free = {
        r.frame_number: r.free_slots for r in free_slots_per_frame(silver).collect()
    }
    assert free == {1: 3, 2: 2, 3: 1, 4: 2}


def test_pose_gold(spark, tmp_path):
    silver, gold = _run(spark, tmp_path, "pose")
    # confidence 0.05 filtered; frame alias resolved
    assert silver.count() == 2
    assert silver.where("frame_number = 2").count() == 1
    r = {x.action: x for x in gold.collect()}["walk"]
    assert r.frame_count == 2
    assert abs(r.avg_visibility - 0.9) < 1e-9


def test_animal_grid_grouping(spark, tmp_path):
    silver, gold = _run(spark, tmp_path, "animal")
    assert silver.count() == 4  # null row dropped
    rows = {r.object_id: r for r in gold.collect()}
    # dogs at (15,15),(16,14),(15.5,15.5) share grid cell dog_1_1
    assert rows["dog_1_1"].detection_count == 3
    assert rows["cat_9_9"].detection_count == 1


def test_geolocation_gold(spark, tmp_path):
    silver, gold = _run(spark, tmp_path, "geolocation")
    assert silver.count() == 2  # low-confidence row filtered
    rows = {r.class_name: r for r in gold.collect()}
    assert rows["car"].detection_count == 1
    assert abs(rows["car"].avg_latitude - 6.9) < 1e-9


def test_common_gold(spark, tmp_path):
    _, gold = _run(spark, tmp_path, "common")
    rows = {r.object_id: r for r in gold.collect()}
    assert rows["5"].detection_count == 2  # tracked
    assert rows["table_2_2"].detection_count == 1  # grid fallback


def test_school_gold(spark, tmp_path):
    _, gold = _run(spark, tmp_path, "school")
    rows = {r.event_id: r for r in gold.collect()}
    e1 = rows["e1"]
    assert e1.occurrence_count == 2
    assert e1.persons_involved == ["p1", "p2"]
    assert e1.person_roles == ["aggressor", "victim"]
    assert e1.alert_level == "high"
    assert e1.span_seconds == 1.0
    assert abs(e1.avg_duration - 6.0) < 1e-9
    assert abs(e1.duration_stddev - 2.0**0.5) < 1e-9
    assert rows["e2"].occurrence_count == 1


def test_retail_gold(spark, tmp_path):
    _, gold = _run(spark, tmp_path, "retail")
    rows = {r.product_id: r for r in gold.collect()}
    m = rows["m1"]
    assert m.product_name == "milk"
    assert abs(m.avg_price - 3.0) < 1e-9
    assert m.picked_by_customer is True
    assert [str(d) for d in m.expiry_dates] == ["2024-06-01", "2024-06-02"]
    assert rows["y1"].expiry_dates == []


def test_tracking_dynamic_ids(spark, tmp_path):
    """Tracker ids are data, not code: id '99' (absent from the
    reference's hardcoded list, tracking_data.py:50) must survive."""
    silver, gold = _run(spark, tmp_path, "tracking")
    rows = {r.tracker_id: r for r in gold.collect()}
    assert set(rows) == {"2", "99"}
    t2 = rows["2"]
    assert t2.gender == "male" and t2.duration_seconds == 10.0
    assert t2.frame_span == 299
    t99 = rows["99"]
    assert t99.gender == "female"
    assert t99.age == -1  # null default applied
    assert t99.duration_seconds is None  # open track
    # " UTC" suffix stripped and parsed
    assert str(rows["99"].entry_time) == "2024-05-01 12:00:05"


@pytest.mark.parametrize("domain", sorted(DOCS))
def test_all_pipelines_run(spark, tmp_path, domain):
    """Every registered pipeline executes end-to-end on its fixture."""
    silver, gold = _run(spark, tmp_path, domain)
    assert gold.count() > 0
    assert domain in PIPELINES
