"""``stream_live``: the reference's three consumers on one live event feed.

Open loop. A generator thread renames one chunk file into a watched
directory every ``PERIOD_S`` seconds, whatever the streams are doing; 2% of
each chunk's events arrive one chunk late, as they do from Kafka. Three
queries read the directory through the file source, as the reference runs
three consumers on one topic:

- ``alerts``: ``with_severity(alert_stream(...))`` into a collecting sink;
- ``slots``: ``SlotStateSink.writer``;
- ``hourly_docs``: ``RedisJsonSink.writer``.

Each chunk is timed from when it was due to when the last of the three
queries' ``foreachBatch`` returned for the batch that read it. Which batch
read which chunk comes from each query's file-source log.
"""

from __future__ import annotations

import json
import os
import random
import threading
import time
from datetime import datetime, timezone

import gen
from common import p50, tail

# One file per chunk, and the file source makes a task per small file, so
# the chunk period sets most of the per-batch load: at 0.125 s the batches
# ran near capacity and their latency swung 40% between runs.
PERIOD_S = 0.25  # one chunk every quarter second ...
CHUNK_EVENTS = 500  # ... of 500 events: 2000 events/s offered
LATE_SHARE = 0.02
WARMUP_CHUNKS = 48  # 12 s, through most of the JIT ramp of the per-batch path
DRAIN_TIMEOUT_S = 90
START = datetime(2025, 6, 1, 7, 50)
QUERIES = ("alerts", "slots", "hourly_docs")
SINK_SPAN = {"alerts": "sinks.alerts.process_batch",
             "slots": "sinks.SlotStateSink.process_batch",
             "hourly_docs": "sinks.RedisJsonSink.process_batch"}
PHASES = ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")


def chunk_events(events: list[dict], n_chunks: int, size: int, seed: int) -> list[list[dict]]:
    """Consecutive slices of ``size`` events; ``LATE_SHARE`` of each slice's
    events move to the next one (the last slice keeps its own)."""
    rng = random.Random(seed)
    chunks = [events[i * size:(i + 1) * size] for i in range(n_chunks)]
    out: list[list[dict]] = [[] for _ in range(n_chunks)]
    for i, chunk in enumerate(chunks):
        for e in chunk:
            late = i + 1 < n_chunks and rng.random() < LATE_SHARE
            out[i + 1 if late else i].append(e)
    return out


def prepare(ctx) -> dict:
    n_measured = int(ctx.seconds / PERIOD_S)
    n_chunks = WARMUP_CHUNKS + n_measured
    minutes = n_chunks * CHUNK_EVENTS / (2 * gen.ENTRIES_PER_SECOND) / 60.0 * 1.05
    events, users = gen.generate_events(ctx.seed, START, minutes)
    events = events[:n_chunks * CHUNK_EVENTS]
    chunks = chunk_events(events, n_chunks, CHUNK_EVENTS, ctx.seed)
    staging = os.path.join(ctx.workdir, "staging")
    os.makedirs(staging)
    names = []
    for i, chunk in enumerate(chunks):
        name = f"chunk-{i:05d}.json"
        with open(os.path.join(staging, name), "w") as f:
            for e in chunk:
                f.write(json.dumps(gen.to_wire(e)))
                f.write("\n")
        names.append(name)
    return {
        "staging": staging,
        "names": names,
        "sizes": [len(c) for c in chunks],
        "users": users,
        "hourly": gen.hourly_docs(events),
        "alerts": gen.alerts(events, users),
        "slots": gen.slot_map(events),
    }


def file_batches(checkpoint: str) -> dict[str, int]:
    """File name -> batch id, from a file source's log ``sources/0``.

    Every ``compactInterval`` batches the log writes ``<id>.compact``, which
    repeats all earlier entries; each entry carries its own ``batchId``, so a
    file is counted once, under the batch that first read it.
    """
    log = os.path.join(checkpoint, "sources", "0")
    out: dict[str, int] = {}
    if not os.path.isdir(log):
        return out
    for fname in os.listdir(log):
        if fname.startswith("."):
            continue
        with open(os.path.join(log, fname)) as f:
            lines = f.read().splitlines()
        for line in lines[1:]:  # line 0 is the log version, "v1"
            if not line.strip():
                continue
            entry = json.loads(line)
            base = os.path.basename(entry["path"])
            out[base] = min(entry["batchId"], out.get(base, entry["batchId"]))
    return out


def chunk_done_times(checkpoints: dict[str, str], finished: dict[str, dict[int, float]],
                     names: list[str]) -> dict[str, dict[str, float]]:
    """Per query: chunk name -> time its batch's ``foreachBatch`` returned."""
    out: dict[str, dict[str, float]] = {}
    for q, ck in checkpoints.items():
        fb = file_batches(ck)
        done = finished[q]
        out[q] = {n: done[fb[n]] for n in names if n in fb and fb[n] in done}
    return out


def backlog_max(intervals: list[tuple[float, float]]) -> int:
    """Most chunks released but not yet through all queries at one time."""
    points = sorted([(a, 1) for a, _ in intervals] + [(b, -1) for _, b in intervals],
                    key=lambda p: (p[0], p[1]))
    cur = best = 0
    for _, d in points:
        cur += d
        best = max(best, cur)
    return best


def run(ctx, spark, exp: dict) -> dict:
    from inde1_spark.schemas import PARKING_EVENT_WIRE, USER
    from inde1_spark.sources.readers import flatten_parking_events
    from inde1_spark.streaming.pipelines import (
        RedisJsonSink,
        SlotStateSink,
        alert_stream,
        with_severity,
    )

    tracer = ctx.tracer
    tracer.enabled = False
    watch = os.path.join(ctx.workdir, "watch")
    os.makedirs(watch)
    users = spark.createDataFrame([tuple(u[f.name] for f in USER.fields) for u in exp["users"]],
                                  USER)
    stream = flatten_parking_events(spark.readStream.schema(PARKING_EVENT_WIRE).json(watch))
    finished: dict[str, dict[int, float]] = {q: {} for q in QUERIES}
    errors: list[str] = []
    calls = {q: 0 for q in QUERIES}
    alerts: dict[int, list] = {}

    def timed(q, fn):
        def cb(df, batch_id):
            calls[q] += 1
            try:
                with tracer.span(SINK_SPAN[q], own_group=False, batch=batch_id):
                    fn(df, batch_id)
            except Exception as exc:
                errors.append(f"{q}[{batch_id}]: {exc!r}")
                raise
            finished[q][batch_id] = time.time()
        return cb

    slot_sink, json_sink = SlotStateSink(), RedisJsonSink()
    slot_sink.process_batch = timed("slots", slot_sink.process_batch)
    json_sink.process_batch = timed("hourly_docs", json_sink.process_batch)
    collect = timed("alerts", lambda df, bid: alerts.__setitem__(bid, df.collect()))
    writers = {
        "alerts": with_severity(alert_stream(stream, users)).writeStream.foreachBatch(collect),
        "slots": slot_sink.writer(stream),
        "hourly_docs": json_sink.writer(stream),
    }
    checkpoints = {q: os.path.join(ctx.workdir, f"ck_{q}") for q in QUERIES}
    queries = {q: w.queryName(q).option("checkpointLocation", checkpoints[q]).start()
               for q, w in writers.items()}
    names = exp["names"]
    released: dict[str, float] = {}
    due: dict[str, float] = {}

    def release(i: int, at: float) -> None:
        while True:
            wait = at - time.time()
            if wait <= 0:
                break
            time.sleep(wait)
        os.rename(os.path.join(exp["staging"], names[i]), os.path.join(watch, names[i]))
        released[names[i]], due[names[i]] = time.time(), at

    def wait_done(wanted: list[str], timeout: float) -> bool:
        deadline = time.time() + timeout
        while time.time() < deadline:
            if any(not q.isActive for q in queries.values()):
                return False
            done = chunk_done_times(checkpoints, finished, wanted)
            if all(len(done[q]) == len(wanted) for q in QUERIES):
                return True
            time.sleep(0.05)
        return False

    try:
        t = time.time()
        for i in range(WARMUP_CHUNKS):  # untimed warm-up on the same schedule
            release(i, t + i * PERIOD_S)
        warm_ok = wait_done(names[:WARMUP_CHUNKS], DRAIN_TIMEOUT_S)
        ctx.setup_done()
        measured = names[WARMUP_CHUNKS:]
        t0 = time.time() + PERIOD_S
        half = t0 + len(measured) * PERIOD_S / 2

        def generator():
            for k in range(len(measured)):
                release(WARMUP_CHUNKS + k, t0 + k * PERIOD_S)
                tracer.enabled = ctx.trace and time.time() >= half

        gen_thread = threading.Thread(target=generator, name="chunk-generator")
        gen_thread.start()
        gen_thread.join()
        drained = warm_ok and wait_done(names, DRAIN_TIMEOUT_S)
    finally:
        for q in queries.values():
            q.stop()
    tracer.enabled = ctx.trace
    for name, q in queries.items():
        if q.exception() is not None:
            errors.append(f"{name}: {q.exception()}")

    done = chunk_done_times(checkpoints, finished, names)
    lat, alert_lat, lat_traced = [], [], []
    intervals = []
    complete = 0
    n_events = 0
    for n in measured:
        if not all(n in done[q] for q in QUERIES):
            continue
        complete += 1
        end = max(done[q][n] for q in QUERIES)
        ms = (end - due[n]) * 1000.0
        if ctx.trace and due[n] >= half:
            lat_traced.append(ms)
            continue
        lat.append(ms)
        alert_lat.append((done["alerts"][n] - due[n]) * 1000.0)
        intervals.append((released[n], end))
        n_events += exp["sizes"][names.index(n)]
    missing = len(measured) - complete
    first_due = min(due[n] for n in measured)
    last_end = max(b for _, b in intervals) if intervals else first_due + 1.0

    got_alerts = sorted((r["vehicle_plate"], r["spot_id"], r["lot_id"], r["violation_type"],
                         r["ts"]) for rows in alerts.values() for r in rows)
    got_docs = {k: json.loads(v) for k, v in json_sink.store.items()}
    checks = {
        "hourly_docs": gen.same(got_docs, exp["hourly"]),
        "alerts": got_alerts == exp["alerts"],
        "slots": slot_sink.snapshot() == exp["slots"],
    }
    for k, ok in checks.items():
        if not ok:
            print(f"perfbench: stream output check failed: {k}", flush=True)
    for e in errors:
        print(f"perfbench: {e}", flush=True)

    value, pct = tail(lat)
    e2e = {
        "latency_p50_ms": p50(lat),
        "latency_tail_ms": value,
        # open loop: this is the offered rate until the streams saturate
        "throughput_per_s": n_events / max(1e-9, last_end - first_due),
    }
    lag_ms = max((released[n] - due[n]) * 1000.0 for n in measured)
    info = {
        "chunks": len(measured), "chunks_complete": complete, "drained": drained,
        "tail_percentile": pct, "latency_samples": len(lat),
        "latency_ms": [round(x) for x in lat],
        "offered_events_per_s": CHUNK_EVENTS / PERIOD_S,
        "alert_latency_p50_ms": p50(alert_lat), "alert_latency_tail_ms": tail(alert_lat)[0],
        "generator_lag_ms_max": lag_ms, "checks": checks,
        # BASELINE.md targets; the latency one is judged at this workload's
        # offered rate, 100 times the reference's 20 evt/s, not at the reference's
        "baseline_500ms_p50_at_evt_s_per_core": CHUNK_EVENTS / PERIOD_S / ctx.cpus,
        "baseline_500ms_p50": p50(lat) <= 500.0,
        "baseline_20_evt_s_per_core": e2e["throughput_per_s"] / ctx.cpus >= 20,
    }
    layers = {}
    if ctx.trace:
        layers = layer_metrics(tracer, queries, alert_lat, intervals, lag_ms, t0)
        if lat and lat_traced:
            layers["trace.overhead_pct"] = 100.0 * (p50(lat_traced) - p50(lat)) / p50(lat)
    attempted = sum(calls.values()) + len(measured)
    failed = len(errors) + missing
    return {"attempted": attempted, "failed": failed, "correct": all(checks.values()),
            "e2e": e2e, "layers": layers, "info": info}


def layer_metrics(tracer, queries, alert_lat, intervals, lag_ms, t0) -> dict:
    out = {"alert.latency_p50_ms": p50(alert_lat), "alert.latency_tail_ms": tail(alert_lat)[0],
           "stream.backlog_chunks_max": backlog_max(intervals), "generator.lag_ms_max": lag_ms}
    for q, name in SINK_SPAN.items():
        recs = [s for s in tracer.spans if s["name"] == name]
        out[f"{name}.wall_ms_p50"] = p50([1000.0 * (s["end"] - s["start"]) for s in recs])
        out[f"{name}.jobs_per_batch"] = p50([s.get("jobs", 0) for s in recs])
    for q, query in queries.items():
        progress = [p for p in query.recentProgress
                    if p.numInputRows > 0 and _epoch(p.timestamp) >= t0]
        for phase in PHASES:
            out[f"stream.{q}.{phase}_ms_p50"] = p50([p.durationMs.get(phase, 0) for p in progress])
        out[f"stream.{q}.rows_per_batch"] = p50([p.numInputRows for p in progress])
        sinks = {s["batch"]: s for s in tracer.spans if s["name"] == SINK_SPAN[q]}
        for p in progress:  # the micro-batch engine's triggers as spans
            start = _epoch(p.timestamp)
            sid = tracer.add(f"stream.{q}.triggerExecution", start,
                             start + p.durationMs.get("triggerExecution", 0) / 1000.0,
                             batch=p.batchId)
            if p.batchId in sinks:
                sinks[p.batchId]["parent"] = sid
    return out


def _epoch(ts: str) -> float:
    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc).timestamp()
