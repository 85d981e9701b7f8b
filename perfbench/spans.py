"""Spans around calls into the engine, rolled up from Spark's event log.

A span sets one Spark job group for the calls it wraps; every job, stage
and task Spark runs inside it carries that group in the event log. After
the session stops, ``rollup`` reads the log and sums the per-task metrics
per span. With tracing off a span only times its block.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

GROUP_KEY = "spark.jobGroup.id"


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Session conf for a traced run (zstandard is not installed, so the
    log is written uncompressed)."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


@dataclass
class Span:
    name: str
    group: str
    start: float  # epoch seconds
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans; sets job groups only when given a SparkContext."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[str] = []

    @property
    def enabled(self) -> bool:
        return self.sc is not None

    def _set_group(self, group: str | None) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty(GROUP_KEY, group)

    @contextmanager
    def span(self, name: str, **attrs):
        s = Span(name, f"{name}#{len(self.spans)}", time.time(), attrs=attrs)
        self.spans.append(s)
        self._stack.append(s.group)
        self._set_group(s.group)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    input_bytes: int = 0
    output_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    python_s: float = 0.0
    python_start_s: float = 0.0
    #: executor run time of stages that write / read a shuffle
    map_run_s: float = 0.0
    reduce_run_s: float = 0.0
    #: stages running a Python UDF (an exact search decodes postings in
    #: one; the hot-term cache path runs none)
    python_stages: int = 0
    stage_intervals: list = field(default_factory=list)  # (start, end) epoch s


def _event_files(log_dir: str) -> list[str]:
    out = []
    for root, _dirs, files in os.walk(log_dir):
        for f in sorted(files):
            if not f.startswith((".", "appstatus")):
                out.append(os.path.join(root, f))
    return out


def _acc(task_info: dict, name: str) -> float:
    return sum(
        float(a.get("Update") or 0)
        for a in task_info.get("Accumulables", [])
        if a.get("Name") == name
    )


def rollup(log_dir: str) -> dict[str, GroupStats]:
    """Per job group: the summed task metrics of every stage it ran."""
    stage_group: dict[int, str] = {}
    stats: dict[str, GroupStats] = defaultdict(GroupStats)
    stage_shuffle: dict[int, list[float]] = defaultdict(lambda: [0.0, 0.0, 0.0])
    for path in _event_files(log_dir):
        with open(path) as fh:
            for line in fh:
                e = json.loads(line)
                ev = e.get("Event")
                if ev == "SparkListenerJobStart":
                    g = (e.get("Properties") or {}).get(GROUP_KEY)
                    if g:
                        stats[g].jobs += 1
                elif ev == "SparkListenerStageSubmitted":
                    g = (e.get("Properties") or {}).get(GROUP_KEY)
                    if g:
                        stage_group[e["Stage Info"]["Stage ID"]] = g
                elif ev == "SparkListenerTaskEnd":
                    g = stage_group.get(e["Stage ID"])
                    m = e.get("Task Metrics")
                    if g is None or not m:
                        continue
                    s = stats[g]
                    info = e["Task Info"]
                    s.tasks += 1
                    run = m["Executor Run Time"] / 1e3
                    s.run_s += run
                    s.cpu_s += m["Executor CPU Time"] / 1e9
                    s.gc_s += m["JVM GC Time"] / 1e3
                    s.input_bytes += m["Input Metrics"]["Bytes Read"]
                    s.output_bytes += m["Output Metrics"]["Bytes Written"]
                    rd = m["Shuffle Read Metrics"]
                    sr = rd["Remote Bytes Read"] + rd["Local Bytes Read"]
                    sw = m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                    s.shuffle_read_bytes += sr
                    s.shuffle_write_bytes += sw
                    s.spill_bytes += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
                    s.python_s += _acc(info, "time to run Python workers") / 1e3
                    s.python_start_s += _acc(info, "time to start Python workers") / 1e3
                    acc = stage_shuffle[e["Stage ID"]]
                    acc[0] += sw
                    acc[1] += sr
                    acc[2] += run
                elif ev == "SparkListenerStageCompleted":
                    si = e["Stage Info"]
                    g = stage_group.get(si["Stage ID"])
                    if g is None or "Submission Time" not in si:
                        continue
                    s = stats[g]
                    s.stages += 1
                    s.stage_intervals.append(
                        (si["Submission Time"] / 1e3, si["Completion Time"] / 1e3)
                    )
                    scopes = " ".join(r.get("Scope") or "" for r in si.get("RDD Info", []))
                    s.python_stages += int("Pandas" in scopes or "Python" in scopes)
                    sw, sr, run = stage_shuffle.get(si["Stage ID"], (0, 0, 0.0))
                    if sw:
                        s.map_run_s += run
                    elif sr:
                        s.reduce_run_s += run
    return dict(stats)


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Seconds of [lo, hi] covered by the union of the intervals."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def merged(stats: dict[str, GroupStats], spans: list[Span]) -> GroupStats:
    """One GroupStats summed over several spans."""
    out = GroupStats()
    for sp in spans:
        g = stats.get(sp.group)
        if g is None:
            continue
        for f in out.__dataclass_fields__:
            if f == "stage_intervals":
                out.stage_intervals += g.stage_intervals
            else:
                setattr(out, f, getattr(out, f) + getattr(g, f))
    return out


def unstaged(stats: dict[str, GroupStats], span: Span) -> float:
    """Wall time of a span not covered by any of its stages: driver-side
    planning, scheduling gaps and result collection."""
    g = stats.get(span.group)
    inside = covered(g.stage_intervals, span.start, span.end) if g else 0.0
    return max(0.0, span.wall - inside)
