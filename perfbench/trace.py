"""In-memory tracing for the benchmark's traced runs.

Spans are recorded by the benchmark's own wrappers around the calls it makes
into each layer of the program (name, start, end, parent, request id) and
written out when the run ends. Spark execution counts come from the status
tracker (jobs and tasks per job group) and from the event log (task run
time, shuffle bytes, spill), which a traced run switches on through
``get_spark(extra_confs=...)``.

With tracing off every wrapper is absent and ``Tracer.span`` records nothing.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import threading
import time
from collections import defaultdict


class Tracer:
    """Span and counter store. ``enabled=False`` makes every call a no-op."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counters: dict[str, list[float]] = defaultdict(list)
        self._local = threading.local()
        # per-request accumulators of the request being served
        self.acc: dict[str, float] = defaultdict(float)
        self.cost_s = 0.0
        self._lock = threading.Lock()

    # -- spans ------------------------------------------------------------

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @property
    def rid(self) -> str | None:
        return getattr(self._local, "rid", None)

    @rid.setter
    def rid(self, value: str | None) -> None:
        self._local.rid = value

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        with self.bookkeeping():
            stack = self._stack()
            rec = {"name": name, "start": time.perf_counter(), "end": None,
                   "parent": stack[-1] if stack else None, "rid": self.rid}
            with self._lock:
                idx = len(self.spans)
                self.spans.append(rec)
            stack.append(idx)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()

    def add(self, name: str, value: float) -> None:
        """One sample of a per-layer counter (a count or a duration)."""
        if self.enabled:
            with self._lock:
                self.counters[name].append(float(value))

    @contextlib.contextmanager
    def paused(self):
        """Record nothing inside (work done before the timed phase)."""
        enabled, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = enabled

    @contextlib.contextmanager
    def bookkeeping(self):
        """Time spent recording, summed: the tracing overhead a traced run
        measures on itself (the event log writes off the request path)."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            with self._lock:
                self.cost_s += time.perf_counter() - t0

    # -- derived ----------------------------------------------------------

    def self_times(self) -> list[dict]:
        """Each span with ``total`` and ``self`` seconds; self time is the
        span's duration minus the time its child spans cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out = []
        for i, s in enumerate(self.spans):
            if s["end"] is None:
                continue
            total = s["end"] - s["start"]
            out.append({**s, "total": total, "self": max(0.0, total - child[i])})
        return out

    def summary(self) -> dict:
        """Per span name: count, median total and median self (ms)."""
        by: dict[str, list[dict]] = defaultdict(list)
        for s in self.self_times():
            by[s["name"]].append(s)
        return {name: {"n": len(v),
                       "total_ms": statistics.median(x["total"] for x in v) * 1e3,
                       "self_ms": statistics.median(x["self"] for x in v) * 1e3,
                       "self_sum_ms": sum(x["self"] for x in v) * 1e3}
                for name, v in sorted(by.items())}

    def median_ms(self, name: str, kind: str = "self") -> float:
        """Median ``self`` or ``total`` ms of the spans called ``name``."""
        vals = [s[kind] for s in self.self_times() if s["name"] == name]
        return statistics.median(vals) * 1e3 if vals else 0.0

    def counter_median(self, name: str) -> float:
        vals = self.counters.get(name)
        return statistics.median(vals) if vals else 0.0

    def counter_sum(self, name: str) -> float:
        return sum(self.counters.get(name, []))

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        base = self.spans[0]["start"] if self.spans else 0.0
        spans = [{"name": s["name"], "start_ms": (s["start"] - base) * 1e3,
                  "end_ms": (s["end"] - base) * 1e3, "parent": s["parent"],
                  "rid": s["rid"], "self_ms": s["self"] * 1e3}
                 for s in self.self_times()]
        with open(path, "w", encoding="utf-8") as f:
            json.dump({"summary": self.summary(),
                       "counters": {k: v for k, v in sorted(self.counters.items())},
                       "spans": spans, **extra}, f, indent=1)


# -- Spark execution counters -------------------------------------------------

def jobs_and_tasks(sc, group: str) -> tuple[int, int]:
    """Jobs run under a job group and the tasks of their stages, from the
    status tracker."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    tasks = 0
    for jid in jobs:
        info = st.getJobInfo(jid)
        for sid in (info.stageIds if info else []):
            stage = st.getStageInfo(sid)
            if stage is not None:
                tasks += stage.numCompletedTasks
    return len(jobs), tasks


def event_log_by_group(log_dir: str) -> dict[str, dict]:
    """Per job group: task run ms, shuffle bytes written and spill bytes,
    from the event log the session wrote (read after the session stops)."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = defaultdict(lambda: {"run_ms": 0.0, "shuffle_bytes": 0,
                                                 "spill_bytes": 0})
    # rolling logs: <dir>/eventlog_v2_<app>/events_<n>_<app>
    paths = sorted(
        p for p in glob.glob(os.path.join(log_dir, "**"), recursive=True)
        if os.path.isfile(p) and not os.path.basename(p).startswith("appstatus"))
    for path in paths:
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        for sid in ev.get("Stage IDs", []):
                            stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics") or {}
                    if group is None or not m:
                        continue
                    rec = out[group]
                    rec["run_ms"] += m.get("Executor Run Time", 0)
                    rec["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}) \
                        .get("Shuffle Bytes Written", 0)
                    rec["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                           + m.get("Disk Bytes Spilled", 0))
    return dict(out)


def plan_ms(df) -> float:
    """Analysis + optimization + planning ms of a frame that has executed,
    from its query-execution phase tracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    it = phases.iterator()
    total = 0.0
    while it.hasNext():
        kv = it.next()
        total += kv._2().durationMs()
    return total


def peak_rss_mb(jvm_pid: int | None) -> tuple[float, float]:
    """High-water RSS of this process and of the JVM, in MB."""
    def hwm(pid) -> float:
        with open(f"/proc/{pid}/status", encoding="ascii") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        return 0.0
    return hwm("self"), (hwm(jvm_pid) if jvm_pid else 0.0)
