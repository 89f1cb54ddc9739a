"""Spans kept in memory and a per-job-group ledger from the Spark event log.

Spans are recorded from the benchmark's own files around each call into
an engine module: name, start, end, parent span and request id. A
disabled tracer hands out one shared no-op span, so untraced runs pay
one attribute lookup per call site.

The ledger reads the uncompressed, non-rolling event log that a traced
session writes and sums task metrics per job group. Job groups are named
``<workload>:<key|request>:<build|exec>``.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from collections import defaultdict


class _NoSpan:
    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False


_NO_SPAN = _NoSpan()


class Tracer:
    def __init__(self, enabled: bool, spark=None, workload: str = ""):
        self.enabled = enabled
        self.spark = spark
        self.workload = workload
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def span(self, name: str, request: str | None = None):
        """Context manager recording one span (no-op when disabled)."""
        if not self.enabled:
            return _NO_SPAN
        return self._span(name, request)

    @contextlib.contextmanager
    def _span(self, name: str, request: str | None):
        parent = self._stack[-1] if self._stack else None
        if request is None and parent is not None:
            request = self.spans[parent]["request"]
        idx = len(self.spans)
        rec = {"id": idx, "name": name, "parent": parent, "request": request,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def group(self, key: str, phase: str):
        """Span plus Spark job group ``<workload>:<key>:<phase>``."""
        if not self.enabled:
            return _NO_SPAN
        return self._group(key, phase)

    @contextlib.contextmanager
    def _group(self, key: str, phase: str):
        sc = self.spark.sparkContext
        gid = f"{self.workload}:{key}:{phase}"
        sc.setJobGroup(gid, gid)
        try:
            with self._span(gid, None) as rec:
                yield rec
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    def self_time(self) -> dict[str, float]:
        """Seconds per span name not covered by child spans."""
        child: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += s["end"] - s["start"] - child[s["id"]]
        return dict(out)


def event_log_spark_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def _group_row() -> dict:
    return {"jobs": 0, "tasks": 0, "task_s": 0.0, "gc_s": 0.0,
            "shuffle_mb": 0.0, "spill_mb": 0.0, "intervals": []}


def ledger(log_dir: str) -> dict[str, dict]:
    """Per job group: jobs, tasks, executor run and GC seconds, shuffle
    read+write MB, disk spill MB, and the [start, end] seconds of each
    job. Reads every event log file under ``log_dir``."""
    groups: dict[str, dict] = defaultdict(_group_row)
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    gid = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if gid is None:
                        continue
                    jid = ev["Job ID"]
                    job_group[jid] = gid
                    job_start[jid] = ev["Submission Time"] / 1000.0
                    groups[gid]["jobs"] += 1
                    for sid in ev.get("Stage IDs", ()):
                        stage_group.setdefault(sid, gid)
                elif kind == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    if jid in job_group:
                        groups[job_group[jid]]["intervals"].append(
                            (job_start[jid], ev["Completion Time"] / 1000.0))
                elif kind == "SparkListenerTaskEnd":
                    gid = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if gid is None or not m:
                        continue
                    g = groups[gid]
                    g["tasks"] += 1
                    g["task_s"] += m.get("Executor Run Time", 0) / 1000.0
                    g["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    rd = m.get("Shuffle Read Metrics") or {}
                    wr = m.get("Shuffle Write Metrics") or {}
                    g["shuffle_mb"] += (rd.get("Remote Bytes Read", 0)
                                        + rd.get("Local Bytes Read", 0)
                                        + wr.get("Shuffle Bytes Written", 0)) / 2**20
                    g["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 2**20
    return dict(groups)


def covered_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur_end), min(b, hi)
        if b > a:
            total += b - a
            cur_end = b
    return total
