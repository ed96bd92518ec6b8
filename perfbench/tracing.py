"""Per-layer tracing for the benchmark's traced run.

Each layer call runs under its own Spark job group, named
``<layer>#<op>``. Wall time is measured around the call, and every layer
boundary is materialized (``localCheckpoint(eager=True)`` or a sink), so
the time and the jobs of one layer never leak into the next. Job counts
come from the status tracker right after the call. Executor time,
shuffle, spill and GC come from Spark's event log, written uncompressed
and parsed with ``json`` once the session has stopped.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

MB = 1e6


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Session settings that make Spark write a plain-JSON event log."""
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        # the default codec (zstd) has no reader here; plain JSON lines do
        "spark.eventLog.compress": "false",
    }


class Span:
    __slots__ = ("layer", "op", "wall_s", "jobs")

    def __init__(self, layer: str, op: int):
        self.layer, self.op, self.wall_s, self.jobs = layer, op, 0.0, 0

    @property
    def group(self) -> str:
        return f"{self.layer}#{self.op}"


class Tracer:
    """Records one span per layer call; spans stay in memory until the end."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []

    @contextmanager
    def span(self, layer: str, op: int):
        s = Span(layer, op)
        self.sc.setJobGroup(s.group, s.group)
        t = time.perf_counter()
        try:
            yield s
        finally:
            s.wall_s = time.perf_counter() - t
            self.sc.setJobGroup("untraced", "untraced")
            s.jobs = len(self.sc.statusTracker().getJobIdsForGroup(s.group))
            self.spans.append(s)

    def by_layer(self, layer: str) -> list[Span]:
        return [s for s in self.spans if s.layer == layer]


def read_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Per job group: executed stages, executor seconds, shuffle MB
    (written), spill MB (memory + disk) and JVM GC seconds."""
    stage_group: dict[int, str] = {}
    sums: dict[str, dict[str, float]] = defaultdict(
        lambda: dict(stages=0, executor_s=0.0, shuffle_mb=0.0, spill_mb=0.0, gc_s=0.0)
    )
    for path in _log_files(log_dir):
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    for sid in ev.get("Stage IDs", []):
                        # a stage runs in the first job that lists it; later
                        # jobs only list it as skipped
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerStageCompleted":
                    group = stage_group.get(ev["Stage Info"]["Stage ID"])
                    if group:
                        sums[group]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if not group or not m:
                        continue
                    g = sums[group]
                    g["executor_s"] += m.get("Executor Run Time", 0) / 1e3
                    g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    g["spill_mb"] += (
                        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    ) / MB
                    g["shuffle_mb"] += (
                        m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / MB
                    )
    return dict(sums)


def _log_files(log_dir: str) -> list[str]:
    """Event-log files in write order. Spark 4 rolls the log into a
    directory of ``events_<n>_<app>`` files."""
    found = []
    for root, _, names in os.walk(log_dir):
        for n in names:
            if n.startswith("events_"):
                found.append((int(n.split("_")[1]), os.path.join(root, n)))
            elif not n.startswith(("appstatus_", ".")):
                found.append((0, os.path.join(root, n)))
    return [p for _, p in sorted(found)]


def layer_stat(
    tracer: Tracer, log: dict[str, dict[str, float]], layer: str, key: str
) -> float:
    """Median over ops of one layer's per-op figure; 0 if the layer never ran."""
    spans = tracer.by_layer(layer)
    if not spans:
        return 0.0
    if key == "wall_s":
        vals = [s.wall_s for s in spans]
    elif key == "jobs":
        vals = [s.jobs for s in spans]
    else:
        vals = [log.get(s.group, {}).get(key, 0.0) for s in spans]
    return float(statistics.median(vals))
