"""The reference-rate generator keeps datagen.parking's laws."""

import gzip
import json
import os
import re
from collections import Counter, defaultdict
from datetime import datetime, timedelta

import gen
from inde1_spark.datagen.parking import DURATION_MS, EVENT_ENTRY, EVENT_EXIT, LOTS

START = datetime(2025, 6, 1, 23, 55)
EVENTS, USERS = gen.generate_events(7, START, 10)


def _sessions():
    """Every session as (plate, lot, spot, start, end), orphans included."""
    out = []
    for e in EVENTS:
        if e["event_type"] == EVENT_EXIT:
            end = e["ts"]
            out.append((e["license_plate"], e["parking_lot_id"], e["parking_spot_id"],
                        end - timedelta(milliseconds=e["duration_ms"]), end))
    return out


def test_same_seed_same_events():
    assert gen.generate_events(7, START, 10) == (EVENTS, USERS)
    assert gen.generate_events(8, START, 10)[0] != EVENTS


def test_reference_rate_and_rates():
    sessions = _sessions()
    assert len(sessions) == 10 * 60 * gen.ENTRIES_PER_SECOND
    per_second = Counter(s[3].replace(microsecond=0) for s in sessions)
    assert set(per_second.values()) == {gen.ENTRIES_PER_SECOND}
    entries = sum(e["event_type"] == EVENT_ENTRY for e in EVENTS)
    junk = sum(e["event_type"] not in (EVENT_ENTRY, EVENT_EXIT) for e in EVENTS)
    assert 0.03 < 1 - entries / len(sessions) < 0.07  # orphan exits
    assert 0.01 < junk / len(sessions) < 0.03
    plates = {s[0] for s in sessions}
    covered = {u["parking_plate"] for u in USERS}
    assert 0.7 < len(covered) / gen.N_PLATES < 0.9
    assert plates - covered  # some plates have no user: unknown_user alerts


def test_sessionful_entry_then_exit():
    open_at = {}
    for e in EVENTS:
        key = (e["license_plate"], e["parking_lot_id"], e["parking_spot_id"])
        if e["event_type"] == EVENT_ENTRY:
            open_at[key] = e["ts"]
        elif e["event_type"] == EVENT_EXIT and key in open_at:
            start = open_at.pop(key)
            assert e["ts"] - start == timedelta(milliseconds=e["duration_ms"])
    assert not open_at  # every ENTRY got its EXIT


def test_no_double_booking_and_unique_active_plates():
    for idx in (slice(1, 3), slice(0, 1)):  # by (lot, spot), then by plate
        by_key = defaultdict(list)
        for s in _sessions():
            by_key[s[idx]].append((s[3], s[4]))
        for spans in by_key.values():
            spans.sort()
            for (_, end), (start, _) in zip(spans, spans[1:]):
                assert start > end


def test_value_ranges():
    plate = re.compile(r"^[A-Z]{2}-[0-9]{3}-[A-Z]{2}$")
    for e in EVENTS:
        slots, handicap = LOTS[e["parking_lot_id"]]
        assert int(e["parking_spot_id"]) in slots
        assert e["is_slot_handicapped"] == (int(e["parking_spot_id"]) in handicap)
        assert plate.match(e["license_plate"])
        if e["event_type"] == EVENT_EXIT:
            assert DURATION_MS[0] <= e["duration_ms"] <= DURATION_MS[1]


def test_archive_layout(tmp_path):
    paths = gen.write_archive(EVENTS, str(tmp_path))
    layout = re.compile(r"^\d{4}/\d{2}/\d{2}/\d{2}/00/[^/]+\.json\.gz$")
    assert all(layout.match(os.path.relpath(p, tmp_path)) for p in paths)
    assert len(paths) == 2  # the window crosses midnight
    lines = [json.loads(x) for p in paths for x in gzip.open(p, "rt")]
    assert lines == [gen.to_wire(e) for e in EVENTS]


def test_expected_outputs_agree_with_each_other():
    docs = gen.hourly_docs(EVENTS)
    assert sum(d["nbr_entries"] for d in docs.values()) == sum(
        e["event_type"] == EVENT_ENTRY for e in EVENTS)
    daily = gen.daily_series(EVENTS, "2025-06-01")
    entries = daily["parking-events:daily:2025-06-01:timeseries:entries"]
    assert max(entries.values()) == sum(
        d["nbr_entries"] for d in docs.values() if d["date"] == "2025-06-01")
    slots = gen.slot_map(EVENTS)
    assert all(v["occupied"] == (v["plate"] is not None) for v in slots.values())
    kinds = Counter(a[3] for a in gen.alerts(EVENTS, USERS))
    assert kinds["unknown_user"] and kinds["unauthorized_user"]
    assert gen.same({"a": 1.0000001}, {"a": 1.0}) and not gen.same({"a": 1.1}, {"a": 1.0})
