"""Seeded raw detection documents for the lake workloads, with their
expected lifecycle outputs computed in plain Python.

Every domain generator mirrors the document shapes in ``tests/fixtures.py``
and keeps their quirks: null fields that the silver null-defaults fill,
timestamps suffixed ``+05:30`` or `` UTC``, empty detection arrays,
``tracker_id = -1`` rows that gold drops, padded strings that silver trims.
``frames`` and ``objects`` set the size; ``quirk`` is the share of
frames or detections that carry a quirk.

For each document the generator also returns an :class:`Expect`: the
upload status, the silver and gold row counts, and the rows the domain's
totals view (``serving/views.py``) shows over that gold table, derived
from the same Python values that were serialized, never from Spark.
"""

from __future__ import annotations

import json
import math
import random
from collections import defaultdict
from dataclasses import dataclass, field

DOMAINS = (
    "vehicle", "people", "safety", "parking", "pose", "animal",
    "geolocation", "common", "school", "retail", "tracking",
)

#: domain → (totals view checked after every upload, gold lookup column)
TOTALS_VIEW = {
    "vehicle": ("serving_vehicle_totals", "tracker_id"),
    "people": ("serving_people_totals", "tracker_id"),
    "safety": ("serving_safety_violations", "tracker_id"),
    "parking": ("serving_parking_totals", "slot_id"),
    "pose": ("serving_pose_actions", "action"),
    "animal": ("serving_animal_class_dist", "object_id"),
    "geolocation": ("serving_geolocation_extents", "class_name"),
    "common": ("serving_common_class_dist", "object_id"),
    "school": ("serving_school_alerts", "event_id"),
    "retail": ("serving_retail_categories", "product_id"),
    "tracking": ("serving_tracking_presence", "tracker_id"),
}

BASE_SECOND = 12 * 3600  # documents start at 2024-05-01 12:00:00


@dataclass
class Expect:
    status: int
    silver_rows: int = 0
    gold_rows: int = 0
    #: rows of the domain's totals view, in the view's column order
    totals: list[tuple] = field(default_factory=list)
    #: a gold key that a point lookup must find exactly once
    lookup: object = None


@dataclass
class Doc:
    domain: str
    text: str
    expect: Expect
    kind: str = "ok"  # ok | empty | malformed


def _ts(sec: int) -> str:
    s = BASE_SECOND + sec
    return f"2024-05-01 {s // 3600:02d}:{s // 60 % 60:02d}:{s % 60:02d}"


def _suffixed(r: random.Random, sec: int, quirk: float) -> str:
    """Producer timestamp, now and then with the tz suffix silver strips."""
    if r.random() < quirk:
        return _ts(sec) + r.choice(["+05:30", " UTC"])
    return _ts(sec)


def _padded(r: random.Random, s: str, quirk: float) -> str:
    return f" {s} " if r.random() < quirk else s


def _bbox(cx: float, cy: float, half: float = 5.0) -> list[float]:
    return [cx - half, cy - half, cx + half, cy + half]


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs)


def _present(r: random.Random, p: float = 0.7) -> bool:
    return r.random() < p


# ---------------------------------------------------------------------------
# tracked-object domains
# ---------------------------------------------------------------------------
def vehicle(r, frames, objects, quirk):
    lanes = ["Left Lane", "Right Lane", "Middle Lane"]
    kinds = {t: r.choice(["car", "truck", "bus", "motorcycle"]) for t in range(1, objects + 1)}
    speeds, rlv, lc = defaultdict(list), defaultdict(int), defaultdict(int)
    doc, rows = [], 0

    def det(tid, sec, speed, red, cross):
        return {
            "tracker_id": tid, "confidence": round(r.uniform(0.3, 1.0), 3),
            "bbox": _bbox(r.uniform(20, 600), r.uniform(20, 400)),
            "class_id": 2, "vehicle_type": kinds.get(tid, "car"),
            "vehicle_direction": r.choice(["Up", "Down"]),
            "vehicle_lane": r.choice(lanes),
            "vehicle_color": None if r.random() < quirk else r.choice(["red", "white", "black"]),
            "stopped": r.random() < 0.1, "vehicle_speed": speed,
            "red_light_violation": red, "red_light_violation_time": None,
            "line_crossing": cross, "line_crossing_violation_time": None,
            "vehicle_entry_time": _suffixed(r, sec, quirk),
            "vehicle_exit_time": None,
        }

    for f in range(1, frames + 1):
        dets = []
        if f == 1 or r.random() >= quirk:
            for t in kinds:
                if not _present(r):
                    continue
                speed = None if r.random() < quirk else round(r.uniform(0, 90), 1)
                red, cross = r.random() < 0.05, r.random() < 0.1
                dets.append(det(t, f, speed, red, cross))
                speeds[t].append(speed or 0.0)
                rlv[t] += red
                lc[t] += cross
            if r.random() < quirk:
                dets.append(det(-1, f, 0.0, False, False))
        rows += len(dets)
        doc.append({"frame_number": f, "congestion_level": r.randint(0, 3),
                    "traffic_light": r.choice(["red", "green"]), "detections": dets})
    totals = [(len(speeds), _mean(_mean(v) for v in speeds.values()),
               sum(rlv.values()), sum(lc.values()))]
    return doc, Expect(1, rows, len(speeds), totals, r.choice(sorted(speeds)))


def people(r, frames, objects, quirk):
    seen, restricted = defaultdict(list), defaultdict(bool)
    frame_docs, rows = [], 0
    for f in range(1, frames + 1):
        dets = []
        if f == 1 or r.random() >= quirk:
            for t in range(1, objects + 1):
                if not _present(r):
                    continue
                inside = None if r.random() < quirk else r.random() < 0.1
                entry = _ts(f) + "+05:30" if r.random() < quirk else None
                dets.append({
                    "tracker_id": t, "class_id": 0, "class_name": "person",
                    "confidence": round(r.uniform(0.3, 1.0), 3),
                    "bbox": _bbox(r.uniform(20, 600), r.uniform(20, 400)),
                    "in_area1": False, "in_area2": r.random() < 0.2,
                    "in_restricted_area": inside,
                    "gender": r.choice(["male", "female", "Unknown"]),
                    "age": r.choice(["20-30", "30-40", "Unknown"]),
                    "carrying": r.choice(["bag", "Unknown"]),
                    "entry_time": entry, "exit_time": None,
                    "first_seen_frame": 1, "last_seen_frame": frames,
                    "entered_restricted": bool(inside),
                })
                seen[t].append(f)
                restricted[t] |= bool(inside)
            if r.random() < quirk:
                dets.append(dict(dets[-1] if dets else {}, tracker_id=-1))
        rows += max(1, len(dets))  # explode_outer keeps empty frames
        frame_docs.append({"frame_number": f, "timestamp": _suffixed(r, f, quirk),
                           "detections": dets})
    doc = {
        "video_metadata": {"filename": "v.mp4", "duration_seconds": float(frames),
                           "fps": 30.0, "width": 640, "height": 480},
        "processing_time": _ts(0),
        "summary": {"total_people": len(seen), "total_entering": len(seen),
                    "total_exiting": 0, "restricted_area_entries": 0,
                    "restricted_people_ids": [], "fps": 30.0,
                    "duration_seconds": float(frames)},
        "frame_detections": frame_docs,
    }
    totals = [(len(seen), sum(restricted[t] for t in seen),
               _mean(float(max(v) - min(v)) for v in seen.values()))]
    return doc, Expect(1, rows, len(seen), totals, r.choice(sorted(seen)))


def safety(r, frames, objects, quirk):
    gear = ("hardhat", "mask", "safety_vest")
    trackers, violations, unsafe = set(), [0, 0, 0], 0
    doc, rows = [], 0
    for f in range(1, frames + 1):
        people_ = []
        if f == 1 or r.random() >= quirk:
            for t in range(1, objects + 1):
                if not _present(r):
                    continue
                worn = [None if r.random() < quirk else r.random() < 0.8 for _ in gear]
                status = "Safe" if all(worn) else "Unsafe"
                if r.random() < quirk:
                    status = None
                people_.append({
                    **dict(zip(gear, worn)), "tracker_id": t,
                    "safety_status": status and _padded(r, status, quirk),
                    "missing_items": [g for g, w in zip(gear, worn) if not w],
                    "bbox": _bbox(r.uniform(20, 600), r.uniform(20, 400)),
                })
                trackers.add(t)
                for i, w in enumerate(worn):
                    violations[i] += w is not True
                unsafe += status == "Unsafe"
            if r.random() < quirk:
                people_.append({"hardhat": False, "mask": False, "safety_vest": False,
                                "tracker_id": -1, "safety_status": "Unsafe",
                                "missing_items": list(gear), "bbox": _bbox(50, 50)})
        rows += len(people_)
        doc.append({"frame_number": f, "people": people_})
    totals = [(*violations, unsafe)]
    return doc, Expect(1, rows, len(trackers), totals, r.choice(sorted(trackers)))


def parking(r, frames, objects, quirk):
    slots = [f"S{i:02d}" for i in range(1, objects + 1)]
    state = {s: r.random() < 0.3 for s in slots}
    samples = defaultdict(list)  # slot → [(t, occupied)]
    frame_docs, rows = [], 0
    for f in range(1, frames + 1):
        t = 5.0 * f
        present = {}
        if f == 1 or r.random() >= quirk:
            for s in slots:
                if r.random() < 0.15:
                    state[s] = not state[s]
                present[s] = {"occupied": state[s], "bbox": _bbox(10.0, 10.0),
                              "pixel_count": r.randint(5, 50)}
                samples[s].append((t, state[s]))
        rows += len(present)
        frame_docs.append({"frame_number": f, "timestamp_sec": t, "slots": present,
                           "free_slots": sum(not v["occupied"] for v in present.values())})
    doc = {
        "processing_date": _ts(0), "video_source": "lot.mp4",
        "video_info": {"width": 640, "height": 480, "fps": 30.0, "total_frames": frames},
        "parking_config": {"total_slots": len(slots),
                           "slot_coordinates": {slots[0]: [[0, 0], [1, 0], [1, 1], [0, 1]]},
                           "detection_method": "bbox"},
        "frame_detections": frame_docs,
    }
    occupied_now, free_pct, became = 0, [], 0
    for seq in samples.values():
        act = inact = 0.0
        for (t0, a0), (t1, a1) in zip(seq, seq[1:]):
            if a0:
                act += t1 - t0
            else:
                inact += t1 - t0
            became += a1 and not a0
        occupied_now += seq[-1][1]
        free_pct.append(inact / (act + inact) * 100.0 if act + inact > 0 else 0.0)
    totals = [(len(samples), occupied_now, _mean(free_pct), became)]
    return doc, Expect(1, rows, len(samples), totals, r.choice(sorted(samples)))


# ---------------------------------------------------------------------------
# untracked and event domains
# ---------------------------------------------------------------------------
def pose(r, frames, objects, quirk):
    actions = ["walk", "run", "sit", "stand", "wave"]
    kept = defaultdict(list)  # action → [(frame, confidence)]
    doc, rows = [], 0
    for f in range(1, frames + 1):
        poses = []
        for _ in range(r.randint(1, max(1, objects))):
            conf = round(r.uniform(0.2, 1.0), 3)
            if r.random() < quirk:
                conf = r.choice([None, 0.05])  # filtered in silver
            action = r.choice(actions)
            kps = [{"landmark_id": float(i), "x": round(r.random(), 3),
                    "y": round(r.random(), 3), "z": 0.0, "visibility": 0.9}
                   for i in range(33)]
            poses.append({"keypoints": kps, "action": action, "confidence": conf})
            if conf is not None and conf > 0.1:
                kept[action].append((f, conf))
                rows += 1
        # the producer sometimes names the frame column "frame"
        key = "frame" if r.random() < quirk else "frame_number"
        doc.append({key: f, "pose_data": poses})
    totals = []
    step = 1.0 / 30.0
    for action, hits in kept.items():
        fs = sorted(f for f, _ in hits)
        dur = step + sum(step if b - a > 1 else (b - a) * step for a, b in zip(fs, fs[1:]))
        totals.append((action, len(hits), _mean(c for _, c in hits), dur))
    return doc, Expect(1, rows, len(kept), totals, r.choice(sorted(kept)))


def _grid(cls: str, x: float, y: float) -> str:
    return f"{cls}_{math.floor(x / 10.0)}_{math.floor(y / 10.0)}"


def animal(r, frames, objects, quirk):
    objs = defaultdict(int)  # grid key → detections
    doc, rows = [], 0
    for f in range(1, frames + 1):
        dets = []
        if f == 1 or r.random() >= quirk:
            for _ in range(r.randint(1, max(1, objects))):
                cls = r.choice(["dog", "cat", "bird", "deer"])
                x, y = round(r.uniform(0, 100), 1), round(r.uniform(0, 100), 1)
                box = _bbox(x, y)
                center = {"x": x, "y": y}
                if r.random() < quirk:  # no center: silver falls back to the bbox
                    center = None
                    x, y = (box[0] + box[2]) / 2.0, (box[1] + box[3]) / 2.0
                dets.append({"class_id": 1, "class_name": _padded(r, cls, quirk),
                             "confidence": round(r.uniform(0.3, 1.0), 3), "bbox": box,
                             "center": center, "area": r.randint(50, 500),
                             "frame_number": f, "timestamp": f * 0.5})
                objs[_grid(cls, x, y)] += 1
                rows += 1
            if r.random() < quirk:  # all-null detection: dropped in silver
                dets.append({"class_id": None, "class_name": None, "confidence": None,
                             "bbox": None, "center": None, "area": None,
                             "frame_number": f, "timestamp": f * 0.5})
        doc.append({"frame_number": f, "timestamp": f * 0.5, "detections": dets})
    return doc, Expect(1, rows, len(objs), _class_dist(objs), r.choice(sorted(objs)))


def _class_dist(objs: dict[str, int]) -> list[tuple]:
    by_cls = defaultdict(lambda: [0, 0])
    for key, n in objs.items():
        cls = key.split("_")[0]
        by_cls[cls][0] += 1
        by_cls[cls][1] += n
    return [(c, a, b) for c, (a, b) in by_cls.items()]


def geolocation(r, frames, objects, quirk):
    stats = {}  # class → [count, min_lat, max_lat, min_lon, max_lon]
    doc = []
    for f in range(1, frames + 1):
        for _ in range(r.randint(1, max(1, objects))):
            cls = r.choice(["car", "bus", "truck", "bike"])
            lat, lon = round(6.9 + r.random() / 10, 5), round(79.8 + r.random() / 10, 5)
            conf = round(r.uniform(0.2, 1.0), 3)
            if r.random() < quirk:
                conf = r.choice([None, 0.05])  # filtered in silver
            name = cls
            if r.random() < quirk:
                name = None  # null class: silver defaults it
                cls = "unknown"
            doc.append({"frame": f, "class": name and _padded(r, name, quirk),
                        "confidence": conf, "bbox": _bbox(50, 50),
                        "geolocation": {"latitude": lat, "longitude": lon}})
            if conf is not None and conf > 0.1:
                s = stats.setdefault(cls, [0, lat, lat, lon, lon])
                s[0] += 1
                s[1], s[2] = min(s[1], lat), max(s[2], lat)
                s[3], s[4] = min(s[3], lon), max(s[4], lon)
    rows = sum(s[0] for s in stats.values())
    totals = [(c, *s) for c, s in stats.items()]
    return doc, Expect(1, rows, len(stats), totals, r.choice(sorted(stats)))


def common(r, frames, objects, quirk):
    kinds = {t: r.choice(["chair", "table", "lamp"]) for t in range(1, objects + 1)}
    objs = defaultdict(int)
    doc = []
    for f in range(1, frames + 1):
        for t, cls in kinds.items():
            if not _present(r):
                continue
            x, y = round(r.uniform(0, 200), 1), round(r.uniform(0, 200), 1)
            box = _bbox(x, y)
            tid = t
            if r.random() < quirk:  # untracked: gold keys it by grid cell
                tid = r.choice([-1, None])
                key = _grid(cls, (box[0] + box[2]) / 2.0, (box[1] + box[3]) / 2.0)
            else:
                key = str(t)
            doc.append({"frame_number": f, "tracker_id": tid, "class_id": 0,
                        "class_name": _padded(r, cls, quirk),
                        "confidence": None if r.random() < quirk else round(r.uniform(0.3, 1.0), 3),
                        "bbox": box})
            objs[key] += 1
    by_cls = defaultdict(lambda: [0, 0])
    for key, n in objs.items():
        cls = kinds[int(key)] if key.isdigit() else key.split("_")[0]
        by_cls[cls][0] += 1
        by_cls[cls][1] += n
    totals = [(c, a, b) for c, (a, b) in by_cls.items()]
    return doc, Expect(1, len(doc), len(objs), totals, r.choice(sorted(objs)))


def school(r, frames, objects, quirk):
    levels = {f"e{i}": r.choice(["low", "medium", "high"]) for i in range(1, objects + 1)}
    hits = defaultdict(int)
    doc, rows = [], 0
    for f in range(1, frames + 1):
        dets = []
        if f == 1 or r.random() >= quirk:
            for eid, level in levels.items():
                if r.random() >= 0.5 and not (f == 1 and eid == "e1"):
                    continue
                roles = r.sample(["aggressor", "victim", "runner", "witness"], r.randint(1, 2))
                dets.append({
                    "event_id": eid, "event_type": r.choice(["fight", "running", "fall"]),
                    "timestamp": _suffixed(r, f, quirk),
                    "location": None if r.random() < quirk else "yard",
                    "confidence": round(r.uniform(0.3, 1.0), 3),
                    "involved_person_id": f"p{r.randint(1, 20)}",
                    "duration_seconds": round(r.uniform(1, 30), 1),
                    "notes": None if r.random() < quirk else "",
                    "alert_level": level, "response_required": level == "high",
                    "multiple_persons_involved": len(roles) > 1, "person_roles": roles,
                })
                hits[eid] += 1
        rows += len(dets)
        doc.append({"frame_number": f, "timestamp": _suffixed(r, f, quirk), "detections": dets})
    by_level = defaultdict(lambda: [0, 0, 0])
    for eid, n in hits.items():
        lv = by_level[levels[eid]]
        lv[0] += 1
        lv[1] += n
        lv[2] += levels[eid] == "high"
    totals = [(lv, *v) for lv, v in by_level.items()]
    return doc, Expect(1, rows, len(hits), totals, r.choice(sorted(hits)))


def retail(r, frames, objects, quirk):
    cats = {f"p{i}": r.choice(["dairy", "bakery", "produce"]) for i in range(1, objects + 1)}
    prices, picked = defaultdict(list), defaultdict(bool)
    doc, rows = [], 0
    for f in range(1, frames + 1):
        dets = []
        if f == 1 or r.random() >= quirk:
            for pid, cat in cats.items():
                if r.random() >= 0.5 and not (f == 1 and pid == "p1"):
                    continue
                price = None if r.random() < quirk else round(r.uniform(0.5, 20), 2)
                pick = None if r.random() < quirk else r.random() < 0.2
                dets.append({
                    "product_id": pid, "product_name": f"item-{pid}",
                    "category": _padded(r, cat, quirk), "location": "aisle1",
                    "stock_level": r.randint(0, 50), "price": price,
                    "picked_by_customer": pick,
                    "expiry_date": None if r.random() < quirk else f"2024-06-{r.randint(1, 28):02d}",
                })
                prices[pid].append(price or 0.0)
                picked[pid] |= bool(pick)
        rows += len(dets)
        doc.append({"frame_number": f, "timestamp": _suffixed(r, f, quirk), "detections": dets})
    by_cat = defaultdict(list)
    for pid in prices:
        by_cat[cats[pid]].append(pid)
    totals = [(c, len(ps), _mean(_mean(prices[p]) for p in ps), sum(picked[p] for p in ps))
              for c, ps in by_cat.items()]
    return doc, Expect(1, rows, len(prices), totals, r.choice(sorted(prices)))


def tracking(r, frames, objects, quirk):
    dets, spans, confs = {}, [], []
    for t in range(1, max(2, objects * 2) + 1):
        entry = r.randint(0, frames)
        exit_ = entry + r.randint(1, 120)
        if t > 1 and r.random() < quirk:
            exit_ = None  # still in view: no duration
        conf = None if r.random() < quirk else round(r.uniform(0.3, 1.0), 3)
        dets[str(t * 7)] = {
            "gender": r.choice(["male", "female", "Unknown"]),
            "age": None if r.random() < quirk else r.randint(5, 80),
            "carrying": "Unknown", "confidence": conf,
            "entry_time": _suffixed(r, entry, quirk),
            "exit_time": None if exit_ is None else _suffixed(r, exit_, quirk),
            "entry_frame": entry * 30, "exit_frame": None if exit_ is None else exit_ * 30,
        }
        if exit_ is not None:
            spans.append(float(exit_ - entry))
        confs.append(0.5 if conf is None else conf)
    doc = {"video_metadata": "v.mp4", "processing_time": _ts(0) + " UTC",
           "summary": f"{len(dets)} tracks", "detections": dets}
    totals = [(len(dets), _mean(spans), _mean(confs))]
    return doc, Expect(1, len(dets), len(dets), totals, r.choice(sorted(dets)))


GENERATORS = {
    "vehicle": vehicle, "people": people, "safety": safety, "parking": parking,
    "pose": pose, "animal": animal, "geolocation": geolocation, "common": common,
    "school": school, "retail": retail, "tracking": tracking,
}

#: documents that land no silver row, so the expected status is -1
EMPTY_DOCS = {
    "vehicle": [{"frame_number": 1, "congestion_level": 0, "traffic_light": "red",
                 "detections": []}],
    "people": {"video_metadata": None, "processing_time": _ts(0), "summary": None,
               "frame_detections": []},
    "safety": [{"frame_number": 1, "people": []}],
    "parking": {"processing_date": _ts(0), "video_source": "lot.mp4",
                "frame_detections": []},
    "pose": [{"frame_number": 1, "pose_data": []}],
    "animal": [{"frame_number": 1, "timestamp": 0.5, "detections": []}],
    "geolocation": [],
    "common": [],
    "school": [{"frame_number": 1, "timestamp": _ts(1), "detections": []}],
    "retail": [{"frame_number": 1, "timestamp": _ts(1), "detections": []}],
    "tracking": {"video_metadata": "v.mp4", "processing_time": _ts(0),
                 "summary": "0 tracks", "detections": {}},
}


def make_doc(r: random.Random, domain: str, frames: int, objects: int,
             quirk: float, kind: str = "ok") -> Doc:
    """One upload. ``kind`` is ``ok``, ``empty`` (parses, lands no row) or
    ``malformed`` (truncated JSON, quarantined as one corrupt record)."""
    if kind == "empty":
        return Doc(domain, json.dumps(EMPTY_DOCS[domain]), Expect(-1), kind)
    doc, expect = GENERATORS[domain](r, frames, objects, quirk)
    text = json.dumps(doc)
    if kind == "malformed":
        return Doc(domain, text[: int(len(text) * r.uniform(0.3, 0.9))], Expect(-1), kind)
    return Doc(domain, text, expect, kind)


def rows_match(got: list[tuple], want: list[tuple], rel: float = 1e-9) -> bool:
    """Order-insensitive row comparison; floats within ``rel``."""
    if len(got) != len(want):
        return False

    def key(row):
        return tuple(str(v) if isinstance(v, str) else 0 for v in row)

    for a, b in zip(sorted(got, key=key), sorted(want, key=key)):
        if len(a) != len(b):
            return False
        for x, y in zip(a, b):
            if isinstance(y, float) or isinstance(x, float):
                if x is None or y is None or not math.isclose(x, y, rel_tol=rel, abs_tol=rel):
                    return False
            elif x != y:
                return False
    return True
