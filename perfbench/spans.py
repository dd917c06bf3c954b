"""Spans, Spark job-group counters and the event-log fold.

The benchmark times each layer from outside the engine: a span wraps
each call the benchmark makes into a layer's public function. Spans
live in memory and are written once, when the run ends. A layer's self
time is its span's duration minus the time its child spans cover.

With tracing on, each operation also runs under its own Spark job
group. ``statusTracker`` then gives the group's job, task and
failed-task counts, and the uncompressed event log gives its
``TaskEnd`` metrics (CPU, GC, shuffle, spill).
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time
from collections import defaultdict


class Tracer:
    """Span recorder. ``enabled=False`` keeps the same interface but
    records nothing, so the untraced run pays only a context switch."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.group_counts: dict[str, dict] = {}
        self.rid = ""  # the operation the next spans belong to

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append({"name": name, "rid": self.rid, "parent": parent,
                           "start": time.perf_counter(), "end": None})
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = time.perf_counter()

    @contextlib.contextmanager
    def job_group(self, group: str):
        """Run the body under Spark job group ``group``; on exit, record
        the group's job/task counts from ``statusTracker``."""
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        prev = sc.getLocalProperty("spark.jobGroup.id")
        sc.setJobGroup(group, group)
        try:
            yield
        finally:
            if prev is None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            else:
                sc.setJobGroup(prev, prev)
            self.group_counts[group] = _group_counts(sc, group)

    def self_times(self) -> dict[str, list[float]]:
        """Self seconds per span name, one entry per span."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, list[float]] = defaultdict(list)
        for i, s in enumerate(self.spans):
            out[s["name"]].append(s["end"] - s["start"] - child[i])
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def _group_counts(sc, group: str) -> dict:
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    tasks = failed = 0
    for jid in jobs:
        info = st.getJobInfo(jid)
        for sid in info.stageIds if info else ():
            stage = st.getStageInfo(sid)
            if stage is not None:
                tasks += stage.numTasks
                failed += stage.numFailedTasks
    return {"jobs": len(jobs), "tasks": tasks, "failed_tasks": failed}


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + log_dir,
        # zstd (the default codec) has no reader in this environment
        "spark.eventLog.compress": "false",
        # Spark 4 otherwise writes an eventlog_v2_* directory
        "spark.eventLog.rolling.enabled": "false",
    }


def fold_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: summed TaskEnd metrics, from the (stopped)
    session's uncompressed event log."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = defaultdict(lambda: {
        "executor_cpu_s": 0.0, "gc_s": 0.0, "shuffle_write_bytes": 0,
        "spill_bytes": 0, "failed_tasks": 0,
    })
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group is None:
                        continue
                    for sid in ev["Stage IDs"]:
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev["Stage ID"])
                    if group is None:
                        continue
                    rec = out[group]
                    if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                        rec["failed_tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    rec["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    rec["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    rec["spill_bytes"] += (
                        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    )
                    rec["shuffle_write_bytes"] += (
                        m.get("Shuffle Write Metrics") or {}
                    ).get("Shuffle Bytes Written", 0)
    return dict(out)


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0
