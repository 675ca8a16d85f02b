"""Spans kept in memory, and Spark's own counters read back from its event log.

Spans are recorded by the benchmark around calls into the engine's public
functions; nothing inside the engine is instrumented. Counters come from
the uncompressed, non-rolling event log that Spark writes for the traced
session only. Jobs are attributed to an op and phase through the job group
the benchmark sets before each phase (``<pass>:<op>:<phase>``).
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}

# SQL metric accumulables that the Python-worker operators publish per task.
# pyworker.init_s is the time to start new workers. Spark's "time to
# initialize Python workers" is not used: for a reused worker it counts from
# the worker's start, so a 0.3 s task can report 5 s of it.
PYWORKER_ACCUMS = {
    "time to start Python workers": "pyworker.init_s",
    "time to run Python workers": "pyworker.run_s",
    "data sent to Python workers": "pyworker.sent_bytes",
    "data returned from Python workers": "pyworker.returned_bytes",
}


class Tracer:
    """Span recorder; with ``enabled=False`` every call is a no-op."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "op": op, "parent": parent, "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def with_self_times(self) -> list[dict]:
        """Spans with ``self_s``: duration minus the time its children cover."""
        kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]].append((s["start"], s["end"]))
        out = []
        for i, s in enumerate(self.spans):
            dur = s["end"] - s["start"]
            out.append({**s, "id": i, "dur_s": dur, "self_s": dur - union_length(kids[i])})
        return out


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def read_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: job intervals (epoch s), stage and task counts and the
    summed task counters. Reads the one finished log file in ``log_dir``."""
    files = [f for f in os.listdir(log_dir) if not f.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {files}")
    groups: dict[str, dict] = defaultdict(
        lambda: {"jobs": {}, "stages": set(), "tasks": 0, "counters": defaultdict(float)}
    )
    job_group: dict[int, str] = {}
    stage_group: dict[int, str] = {}
    with open(os.path.join(log_dir, files[0])) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                gid = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if gid is None:
                    continue
                job_group[ev["Job ID"]] = gid
                groups[gid]["jobs"][ev["Job ID"]] = [ev["Submission Time"] / 1e3, None]
            elif kind == "SparkListenerJobEnd":
                gid = job_group.get(ev["Job ID"])
                if gid is not None:
                    groups[gid]["jobs"][ev["Job ID"]][1] = ev["Completion Time"] / 1e3
            elif kind == "SparkListenerStageSubmitted":
                gid = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if gid is not None:
                    stage_group[ev["Stage Info"]["Stage ID"]] = gid
                    groups[gid]["stages"].add(ev["Stage Info"]["Stage ID"])
            elif kind == "SparkListenerTaskEnd":
                gid = stage_group.get(ev["Stage ID"])
                if gid is None:
                    continue
                g = groups[gid]
                g["tasks"] += 1
                _add_task_counters(g["counters"], ev)
    return groups


def _add_task_counters(c: dict, ev: dict) -> None:
    tm = ev.get("Task Metrics") or {}
    c["exec.run_s"] += tm.get("Executor Run Time", 0) / 1e3
    c["exec.cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
    c["exec.gc_s"] += tm.get("JVM GC Time", 0) / 1e3
    c["spill.bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
    sw = tm.get("Shuffle Write Metrics") or {}
    c["shuffle.write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    sr = tm.get("Shuffle Read Metrics") or {}
    c["shuffle.read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
        key = PYWORKER_ACCUMS.get(acc.get("Name"))
        if key is None:
            continue
        val = float(acc.get("Update") or 0)
        # the two worker timers are millisecond SQL metrics
        c[key] += val / 1e3 if key.endswith("_s") else val
