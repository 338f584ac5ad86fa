"""Reference-rate parking traffic, its archive layout, and expected outputs.

``datagen.parking.generate`` draws a 0.5-120 s gap between sessions (about
120 events per event-hour). The reference generator instead emits one ENTRY
every ``1000 / EVENTS_PER_SECOND`` ms (10 entries/s by default, BASELINE.md)
plus the matching EXIT ``duration`` ms later, about 72k events per hour.
This module produces that traffic with the same laws as ``datagen.parking``
(sessionful, no double booking, active-plate uniqueness, plate pattern,
lot/slot/handicap/duration ranges) and its junk, orphan-exit and
user-coverage rates, and computes in pure Python what every job and stream
must output for it.
"""

from __future__ import annotations

import gzip
import json
import os
import random
from collections import defaultdict
from datetime import datetime, timedelta, timezone
from decimal import ROUND_HALF_UP, Decimal

from inde1_spark.datagen.parking import (
    COLORS,
    DURATION_MS,
    EVENT_ENTRY,
    EVENT_EXIT,
    LOTS,
    VEHICLE_TYPES,
    _plate,
)

ENTRIES_PER_SECOND = 10  # reference default, EnvConfig.scala:8
ORPHAN_EXIT_RATE = 0.05
JUNK_RATE = 0.02
USER_COVERAGE = 0.8
HANDICAPPED_USER_RATE = 0.08
RATE_PER_HOUR = 2.0  # operators.parking.RATE_PER_HOUR
FLUSH_SIZE = 100_000  # S3 sink flush.size (s3-sink-connector.yml)
N_PLATES = 4000
# the jobs round to 4 places; the twins below round the same values independently
TOLERANCE = 1e-6


def generate_events(seed: int, start: datetime, minutes: float):
    """Events for ``minutes`` of traffic from ``start``; returns (events, users).

    Events are flat dicts (``schemas.PARKING_EVENT_FLAT`` field names) sorted by
    (ts, plate, type). Spots free strictly after their EXIT, so no slot ever
    holds an EXIT and an ENTRY at the same millisecond.
    """
    rng = random.Random(seed)
    plates = sorted({_plate(rng) for _ in range(N_PLATES)})
    lots = sorted(LOTS)
    occupied: set[tuple[str, str]] = set()
    active: set[str] = set()
    releases: list[tuple[datetime, tuple[str, str], str]] = []
    events: list[dict] = []
    step = timedelta(milliseconds=1000 // ENTRIES_PER_SECOND)
    n_entries = int(minutes * 60 * ENTRIES_PER_SECOND)
    for i in range(n_entries):
        now = start + i * step
        keep = []
        for due, spot_key, plate in releases:
            if due < now:
                occupied.discard(spot_key)
                active.discard(plate)
            else:
                keep.append((due, spot_key, plate))
        releases = keep
        while True:  # the reference retries until a free spot and idle plate
            lot = rng.choice(lots)
            slots, handicap = LOTS[lot]
            spot = str(rng.choice(slots))
            plate = rng.choice(plates)
            if (lot, spot) not in occupied and plate not in active:
                break
        duration = rng.randint(*DURATION_MS)
        common = {
            "license_plate": plate,
            "vehicle_type": rng.choice(VEHICLE_TYPES),
            "color": rng.choice(COLORS),
            "parking_lot_id": lot,
            "parking_spot_id": spot,
            "is_slot_handicapped": int(spot) in handicap,
        }
        exit_ts = now + timedelta(milliseconds=duration)
        if rng.random() >= ORPHAN_EXIT_RATE:
            events.append({"event_type": EVENT_ENTRY, "ts": now, "duration_ms": None, **common})
        events.append({"event_type": EVENT_EXIT, "ts": exit_ts, "duration_ms": duration, **common})
        if rng.random() < JUNK_RATE:
            junk = rng.choice(["HEARTBEAT", "LOT_MAINTENANCE"])
            events.append({"event_type": junk, "ts": now, "duration_ms": None, **common})
        occupied.add((lot, spot))
        active.add(plate)
        releases.append((exit_ts, (lot, spot), plate))
    events.sort(key=lambda e: (e["ts"], e["license_plate"], e["event_type"]))
    users = []
    for i, plate in enumerate(plates):
        if rng.random() > USER_COVERAGE:
            continue
        users.append({
            "parking_plate": plate,
            "username": f"user{i:05d}",
            "email": f"user{i:05d}@example.com",
            "first_name": f"first{i}",
            "last_name": f"last{i}",
            "created_at": 1_640_995_200_000 + i * 86_400_000,
            "handicapped": rng.random() < HANDICAPPED_USER_RATE,
        })
    return events, users


def to_wire(e: dict) -> dict:
    """Flat event -> the nested JSON the reference producer sends."""
    wire = {
        "eventType": e["event_type"],
        "timestamp": e["ts"].strftime("%Y-%m-%dT%H:%M:%S.%f")[:-3] + "Z",
        "vehicle": {"licensePlate": e["license_plate"],
                    "vehicleType": e["vehicle_type"], "color": e["color"]},
        "parking": {"parkingLotId": e["parking_lot_id"],
                    "parkingSpotId": e["parking_spot_id"],
                    "isSlotHandicapped": e["is_slot_handicapped"]},
    }
    if e["duration_ms"] is not None:
        wire["duration"] = e["duration_ms"]
    return wire


def write_archive(events: list[dict], root: str) -> list[str]:
    """Kafka-Connect S3 layout: ``yyyy/MM/dd/HH/mm`` directories with an hourly
    partition duration (so ``mm`` is ``00``), gzip JSON lines, a new object
    every ``FLUSH_SIZE`` records. Returns the written paths."""
    by_hour: dict[datetime, list[dict]] = defaultdict(list)
    for e in events:
        by_hour[e["ts"].replace(minute=0, second=0, microsecond=0)].append(e)
    paths = []
    for hour, chunk in sorted(by_hour.items()):
        d = os.path.join(root, hour.strftime("%Y/%m/%d/%H/%M"))
        os.makedirs(d, exist_ok=True)
        for k in range(0, len(chunk), FLUSH_SIZE):
            p = os.path.join(d, f"parking-event-topic+0+{k:010d}.json.gz")
            with gzip.open(p, "wt", compresslevel=6) as f:
                for e in chunk[k:k + FLUSH_SIZE]:
                    f.write(json.dumps(to_wire(e)))
                    f.write("\n")
            paths.append(p)
    return paths


def archive_glob(root: str) -> str:
    return os.path.join(root, "*", "*", "*", "*", "*", "*.json.gz")


# --- expected outputs (pure Python twins of the jobs and sinks) ------------

def _valid(events):
    return [e for e in events if e["event_type"] in (EVENT_ENTRY, EVENT_EXIT)]


def _ms(ts: datetime) -> int:
    return int(ts.replace(tzinfo=timezone.utc).timestamp() * 1000)


def hourly_docs(events: list[dict]) -> dict[str, dict]:
    """``RedisJsonSink`` contents after ``run_hourly_job`` over ``events``."""
    lots: dict[tuple, dict[str, list[int]]] = defaultdict(dict)
    vtypes: dict[tuple, dict[str, int]] = defaultdict(dict)
    for e in _valid(events):
        key = (e["ts"].strftime("%Y-%m-%d"), e["ts"].hour)
        c = lots[key].setdefault(e["parking_lot_id"], [0, 0])
        c[0 if e["event_type"] == EVENT_ENTRY else 1] += 1
        vt = vtypes[key]
        vt[e["vehicle_type"]] = vt.get(e["vehicle_type"], 0) + 1
    docs = {}
    for (date, hour), per_lot in lots.items():
        occupancy = {lot: max(0, en - ex) for lot, (en, ex) in sorted(per_lot.items())}
        docs[f"parking-stats:hourly:{date}:{hour}"] = {
            "date": date,
            "hour": hour,
            "nbr_entries": sum(en for en, _ in per_lot.values()),
            "nbr_exit": sum(ex for _, ex in per_lot.values()),
            "occupancy": occupancy,
            "revenue_simulation": round(sum(occupancy.values()) * RATE_PER_HOUR, 2),
            "vehicle_types": dict(sorted(vtypes[(date, hour)].items())),
        }
    return docs


def daily_series(events: list[dict], date: str) -> dict[str, dict[int, float]]:
    """``RedisTimeSeriesSink.series`` entries written by ``run_daily_job``."""
    per_hour: dict[datetime, list[int]] = defaultdict(lambda: [0, 0])
    for e in _valid(events):
        if e["ts"].strftime("%Y-%m-%d") == date:
            h = e["ts"].replace(minute=0, second=0, microsecond=0)
            per_hour[h][0 if e["event_type"] == EVENT_ENTRY else 1] += 1
    out: dict[str, dict[int, float]] = {}
    en = ex = 0
    for h in sorted(per_hour):
        en += per_hour[h][0]
        ex += per_hour[h][1]
        for attr, v in (("entries", en), ("exits", ex), ("revenue_simulation", en * 2.0)):
            out.setdefault(f"parking-events:daily:{date}:timeseries:{attr}", {})[_ms(h)] = float(v)
    return out


def sessions(events: list[dict]) -> list[tuple[dict, dict]]:
    """(entry, exit) pairs: an EXIT closes the immediately preceding valid
    event of its (plate, lot, spot) when that event is an ENTRY."""
    by_key: dict[tuple, list[dict]] = defaultdict(list)
    for e in _valid(events):
        by_key[(e["license_plate"], e["parking_lot_id"], e["parking_spot_id"])].append(e)
    pairs = []
    for evs in by_key.values():
        evs.sort(key=lambda e: e["ts"])
        for prev, cur in zip(evs, evs[1:]):
            if cur["event_type"] == EVENT_EXIT and prev["event_type"] == EVENT_ENTRY:
                pairs.append((prev, cur))
    return pairs


def _dec(x: float, places: int) -> Decimal:
    return Decimal(repr(x)).quantize(Decimal(1).scaleb(-places), rounding=ROUND_HALF_UP)


def weekly_outputs(events: list[dict], week: str):
    """(series, revenue-by-type doc) written by ``run_weekly_job`` over ``events``."""
    day_counts: dict[datetime, list[float]] = defaultdict(lambda: [0.0, 0.0])
    for e in _valid(events):
        d = e["ts"].replace(hour=0, minute=0, second=0, microsecond=0)
        day_counts[d][0 if e["event_type"] == EVENT_ENTRY else 1] += 1
    mins: dict[datetime, Decimal] = defaultdict(Decimal)
    per_type: dict[tuple, list] = defaultdict(lambda: [Decimal(0), 0])
    spend: dict[tuple, Decimal] = defaultdict(Decimal)
    for entry, exit_ in sessions(events):
        d = entry["ts"].replace(hour=0, minute=0, second=0, microsecond=0)
        minutes = (_ms(exit_["ts"]) - _ms(entry["ts"])) / 60_000.0
        m6 = _dec(minutes, 6)
        mins[d] += m6
        acc = per_type[(d, entry["vehicle_type"])]
        acc[0] += m6
        acc[1] += 1
        spend[(d, entry["vehicle_type"])] += _dec(minutes * RATE_PER_HOUR / 60.0, 8)
    scale = RATE_PER_HOUR / 60.0
    series: dict[str, dict[int, float]] = defaultdict(dict)
    for d, (en, ex) in day_counts.items():
        series[f"parking-stats:weekly:{week}:entries"][_ms(d)] = en
        series[f"parking-stats:weekly:{week}:exits"][_ms(d)] = ex
        series[f"parking-stats:weekly:{week}:revenue"][_ms(d)] = round(float(mins.get(d, 0)) * scale, 4)
    for (d, vt), (total, n) in per_type.items():
        series[f"parking-stats:weekly:{week}:avgspent:{vt}"][_ms(d)] = round(float(total) / n * scale, 4)
    by_type: dict[str, float] = defaultdict(float)
    for (_, vt), s in spend.items():
        by_type[vt] += round(float(s), 4)
    doc = {vt: round(v, 4) for vt, v in sorted(by_type.items())}
    return dict(series), doc


def alerts(events: list[dict], users: list[dict]) -> list[tuple]:
    """``detect_violations`` rows as (plate, spot, lot, violation_type, ts)."""
    handicapped = {u["parking_plate"]: u["handicapped"] for u in users}
    out = []
    for e in events:
        if e["event_type"] != EVENT_ENTRY or not e["is_slot_handicapped"]:
            continue
        plate = e["license_plate"]
        if plate not in handicapped:
            kind = "unknown_user"
        elif not handicapped[plate]:
            kind = "unauthorized_user"
        else:
            continue
        out.append((plate, e["parking_spot_id"], e["parking_lot_id"], kind, e["ts"]))
    return sorted(out)


def slot_map(events: list[dict]) -> dict[str, dict]:
    """``slot_state``: the last valid event per (lot, spot), by (ts, plate)."""
    last: dict[tuple, dict] = {}
    for e in _valid(events):
        k = (e["parking_lot_id"], e["parking_spot_id"])
        cur = last.get(k)
        if cur is None or (e["ts"], e["license_plate"]) > (cur["ts"], cur["license_plate"]):
            last[k] = e
    return {
        f"{lot}-{spot}": {
            "occupied": e["event_type"] == EVENT_ENTRY,
            "lot": lot,
            "plate": e["license_plate"] if e["event_type"] == EVENT_ENTRY else None,
            "updated_at": e["ts"],
        }
        for (lot, spot), e in last.items()
    }


def same(a, b) -> bool:
    """Structural equality, floats within ``TOLERANCE``."""
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(same(a[k], b[k]) for k in a)
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(same(x, y) for x, y in zip(a, b))
    if isinstance(a, float) or isinstance(b, float):
        return isinstance(a, (int, float)) and isinstance(b, (int, float)) and abs(a - b) <= TOLERANCE
    return a == b
