"""``batch_backfill``: the paper's scheduled jobs over a gzip JSONL archive.

Closed loop. Each pass scans the archive through ``sources`` and runs
``run_hourly_job`` over the window, ``run_daily_job`` for each day and
``run_weekly_job`` once, into fresh ``RedisJsonSink`` and
``RedisTimeSeriesSink`` stores, then checks every sink against the pure
Python twins in ``gen``.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from datetime import datetime

import gen
from common import p50, tail

START = datetime(2025, 6, 1, 23, 40)  # the window crosses midnight: two days
# 24k entries at 10/s, about 47k events: large enough that the jobs' Spark
# stages, not their driver-side overhead, take most of their time
MINUTES = 40
DAYS = ("2025-06-01", "2025-06-02")
WEEK, WEEK_START, WEEK_END = "2025-22", "2025-06-01 00:00:00", "2025-06-08 00:00:00"
JOB_NAMES = ("run_hourly_job", "run_daily_job", "run_weekly_job")
ACCOUNTED = ("wall_s", "driver_s", "jobs", "tasks", "exec_run_s", "shuffle_bytes", "task_max_s")
WARMUP_PASSES = 1
SINK_SPANS = ("sinks.RedisJsonSink.write_stats", "sinks.RedisTimeSeriesSink.write_weekly")


def prepare(ctx) -> dict:
    events, _ = gen.generate_events(ctx.seed, START, MINUTES)
    root = os.path.join(ctx.workdir, "topics", "parking-event-topic")
    gen.write_archive(events, root)
    window = [e for e in events if WEEK_START <= e["ts"].strftime("%Y-%m-%d %H:%M:%S") < WEEK_END]
    series, doc = gen.weekly_outputs(window, WEEK)
    return {
        "n_events": len(events),
        "glob": gen.archive_glob(root),
        "hourly": gen.hourly_docs(events),
        "daily": {d: gen.daily_series(events, d) for d in DAYS},
        "weekly": (series, doc),
    }


def _traced_sinks(tracer):
    from inde1_spark.streaming.pipelines import RedisJsonSink, RedisTimeSeriesSink

    js, ts = RedisJsonSink(), RedisTimeSeriesSink()
    if tracer.enabled:  # instance-level wrappers: the classes stay untouched
        for obj, meth, name in ((js, "write_stats", SINK_SPANS[0]),
                                (ts, "write_weekly", SINK_SPANS[1])):
            inner = getattr(obj, meth)

            def wrapped(*a, _inner=inner, _name=name, **kw):
                with tracer.span(_name):
                    return _inner(*a, **kw)

            setattr(obj, meth, wrapped)
    return js, ts


def one_pass(spark, exp: dict, tracer) -> tuple[float, int, int]:
    """Run every job once; returns (seconds, jobs attempted, jobs failed)."""
    from inde1_spark.jobs import run_daily_job, run_hourly_job, run_weekly_job
    from inde1_spark.sources.readers import read_parking_events_json

    js, ts = _traced_sinks(tracer)
    ok = {}
    t0 = time.perf_counter()
    with tracer.span("sources.read_parking_events_json"):
        events = read_parking_events_json(spark, exp["glob"])
    calls = [("run_hourly_job", "hourly",
              lambda: run_hourly_job(events, f"{DAYS[0]} 00:00:00", WEEK_END, js))]
    calls += [("run_daily_job", d, lambda d=d: run_daily_job(events, d, ts)) for d in DAYS]
    calls.append(("run_weekly_job", "weekly",
                  lambda: run_weekly_job(events, WEEK, WEEK_START, WEEK_END, ts, js)))
    for job, key, call in calls:
        try:
            with tracer.span(f"jobs.{job}", day=key):
                call()
            ok[key] = True
        except Exception as exc:  # a failed job is counted, the pass goes on
            print(f"perfbench: {job}({key}) failed: {exc!r}", flush=True)
            ok[key] = False
    elapsed = time.perf_counter() - t0
    hourly = {k: json.loads(v) for k, v in js.store.items() if ":hourly:" in k}
    ok["hourly"] = ok["hourly"] and gen.same(hourly, exp["hourly"])
    for d in DAYS:
        got = {k: v for k, v in ts.series.items() if f":daily:{d}:" in k}
        ok[d] = ok[d] and gen.same(got, exp["daily"][d])
    weekly = {k: v for k, v in ts.series.items() if ":weekly:" in k}
    doc = js.store.get(f"parking-stats:weekly:{WEEK}:revenue-by-type")
    ok["weekly"] = (ok["weekly"] and gen.same(weekly, exp["weekly"][0])
                    and doc is not None and gen.same(json.loads(doc), exp["weekly"][1]))
    return elapsed, len(ok), sum(not v for v in ok.values())


def run(ctx, spark, exp: dict) -> dict:
    tracer = ctx.tracer
    tracer.enabled = False
    attempted = failed = 0
    for _ in range(WARMUP_PASSES):  # untimed and checked; the first runs JIT-cold
        _, a, f = one_pass(spark, exp, tracer)
        attempted += a
        failed += f
    ctx.setup_done()
    passes: list[float] = []
    traced: list[float] = []
    t_end = time.perf_counter() + ctx.seconds
    t_half = time.perf_counter() + ctx.seconds / 2
    while time.perf_counter() < t_end or (ctx.trace and not traced):
        tracer.enabled = ctx.trace and time.perf_counter() >= t_half
        t, a, f = one_pass(spark, exp, tracer)
        (traced if tracer.enabled else passes).append(t)
        attempted += a
        failed += f
    tracer.enabled = ctx.trace
    measured = passes or traced
    pass_ms = [t * 1000.0 for t in measured]
    e2e = {
        "latency_p50_ms": p50(pass_ms),
        "latency_tail_ms": tail(pass_ms)[0],
        "throughput_per_s": exp["n_events"] / statistics.median(measured),
    }
    info = {"passes": len(measured), "pass_s": measured, "batch_events_per_s": e2e["throughput_per_s"],
            "events": exp["n_events"],
            "baseline_20_evt_s_per_core": e2e["throughput_per_s"] / ctx.cpus >= 20}
    layers = layer_metrics(tracer.spans) if ctx.trace else {}
    if ctx.trace and passes:
        layers["trace.overhead_pct"] = 100.0 * (p50(traced) - p50(passes)) / p50(passes)
    return {"attempted": attempted, "failed": failed, "e2e": e2e, "layers": layers,
            "info": info}


def layer_metrics(spans: list[dict]) -> dict:
    out = {}
    by_name: dict[str, list[dict]] = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)
    top = [s for s in spans if s["parent"] is None and s["name"].startswith("jobs.")]
    n_pass = max(1, len(by_name.get("sources.read_parking_events_json", [])))
    out["sources.archive_scans"] = sum(s.get("scans", 0) for s in top) / n_pass
    out["sources.scan_bytes"] = sum(s.get("scan_bytes", 0) for s in top) / n_pass
    out["sources.scan_rows"] = sum(s.get("scan_rows", 0) for s in top) / n_pass
    out["batch.spill_bytes"] = sum(s.get("spill_bytes", 0) for s in top) / n_pass
    for job in JOB_NAMES:
        recs = by_name.get(f"jobs.{job}", [])
        for k in ACCOUNTED:
            out[f"jobs.{job}.{k}"] = p50([r.get(k, 0) for r in recs])
    for name in SINK_SPANS:
        recs = by_name.get(name, [])
        out[f"{name}.wall_s"] = p50([r.get("wall_s", 0) for r in recs])
        out[f"{name}.jobs"] = p50([r.get("jobs", 0) for r in recs])
    return out
