"""Spans around calls into the program, with Spark's accounting per span.

A span is (name, start, end, parent, run id). Each top-level span runs
under its own job group, and on exit the span reads its jobs from
``statusTracker`` and their stages from the status store (both work with
``spark.ui.enabled=false``):

- ``jobs``, ``tasks``;
- ``exec_run_s``: summed executor run time of its tasks;
- ``shuffle_bytes`` (written), ``spill_bytes`` (memory + disk);
- ``scan_bytes``, ``scan_rows`` and ``scans`` (stages that read input);
- ``task_max_s``: the slowest task;
- ``driver_s``: span wall time during which none of its jobs ran.

Spans are kept in memory and written out once, by ``dump``.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager

ACCOUNT_KEYS = ("jobs", "tasks", "exec_run_s", "shuffle_bytes", "spill_bytes",
                "scan_bytes", "scan_rows", "scans", "task_max_s")


class Tracer:
    """Collects spans; ``enabled=False`` makes every call a no-op."""

    def __init__(self, sc, enabled: bool, run_id: str) -> None:
        self.enabled = enabled
        self.sc = sc
        self.run_id = run_id
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, own_group: bool = True, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        sid = next(self._ids)
        rec = {"id": sid, "name": name, "parent": stack[-1] if stack else None,
               "run": self.run_id, **attrs}
        # only top-level spans own a job group: nested spans, and spans on
        # threads whose group belongs to someone else (a streaming query's),
        # count the jobs their thread's group gained while they were open
        group = f"perfbench-{self.run_id}-{sid}" if own_group and not stack else None
        if group is not None:
            self.sc.setJobGroup(group, name)
        before = self._job_ids() if group is None else set()
        stack.append(sid)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            if group is not None:
                self.sc.setJobGroup("perfbench-idle", "idle")
                jobs = self.sc.statusTracker().getJobIdsForGroup(group)
            else:
                jobs = sorted(self._job_ids() - before)
            rec.update(spark_accounting(self.sc, jobs, rec["end"] - rec["start"]))
            with self._lock:
                self.spans.append(rec)

    def _job_ids(self) -> set[int]:
        group = self.sc.getLocalProperty("spark.jobGroup.id")
        return set(self.sc.statusTracker().getJobIdsForGroup(group)) if group else set()

    def add(self, name: str, start: float, end: float, **attrs) -> int:
        """Record a top-level span measured elsewhere (for example a micro-batch trigger)."""
        sid = next(self._ids)
        with self._lock:
            self.spans.append({"id": sid, "name": name, "parent": None,
                               "run": self.run_id, "start": start, "end": end, **attrs})
        return sid

    def dump(self, path: str, summary: dict) -> None:
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "summary": summary, "spans": self.spans}, f,
                      default=str)


def spark_accounting(sc, job_ids, wall_s: float) -> dict:
    """Totals for ``job_ids`` from the status store (see module docstring)."""
    store = sc._jsc.sc().statusStore()
    out = dict.fromkeys(ACCOUNT_KEYS, 0)
    out["jobs"] = len(job_ids)
    intervals = []
    quantile = sc._gateway.new_array(sc._jvm.double, 1)
    quantile[0] = 1.0
    seen: set[int] = set()
    for jid in job_ids:
        try:
            job = store.job(jid)
        except Exception:  # evicted from the store: count the job, skip details
            continue
        if job.submissionTime().isDefined() and job.completionTime().isDefined():
            intervals.append((job.submissionTime().get().getTime() / 1000.0,
                              job.completionTime().get().getTime() / 1000.0))
        stages = job.stageIds()
        for i in range(stages.size()):
            sid = stages.apply(i)
            if sid in seen:
                continue
            seen.add(sid)
            try:
                st = store.lastStageAttempt(sid)
            except Exception:
                continue
            if st.status().toString() == "SKIPPED":
                continue
            out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
            out["exec_run_s"] += st.executorRunTime() / 1000.0
            out["shuffle_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            if st.inputBytes() > 0 or st.inputRecords() > 0:
                out["scans"] += 1
                out["scan_bytes"] += st.inputBytes()
                out["scan_rows"] += st.inputRecords()
            summary = store.taskSummary(sid, st.attemptId(), quantile)
            if summary.isDefined():
                out["task_max_s"] = max(out["task_max_s"],
                                        summary.get().duration().apply(0) / 1000.0)
    busy = 0.0
    last = float("-inf")
    for s, e in sorted(intervals):
        s = max(s, last)
        if e > s:
            busy += e - s
            last = e
    out["driver_s"] = max(0.0, wall_s - busy)
    out["wall_s"] = wall_s
    return out


def self_times(spans: list[dict], module_of) -> dict[str, float]:
    """Self time (span minus the union of its children) summed per module."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s.get("parent") is not None:
            children.setdefault(s["parent"], []).append(s)
    totals: dict[str, float] = {}
    for s in spans:
        covered = 0.0
        last = s["start"]
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
            a, b = max(c["start"], last), min(c["end"], s["end"])
            if b > a:
                covered += b - a
                last = b
        mod = module_of(s)
        totals[mod] = totals.get(mod, 0.0) + max(0.0, s["end"] - s["start"] - covered)
    return totals
