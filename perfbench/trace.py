"""Spans recorded from outside the program, and Spark event-log totals.

A span is (id, name, start, end, parent). Spans are kept in memory and
written out once at the end of a traced run. A layer's self time is its
span's duration minus the part of it that its child spans cover.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        s = Span(sid, name, time.time(), 0.0, parent)
        self.spans.append(s)
        self._stack.append(sid)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.time()

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def self_time(self, span: Span) -> float:
        covered, last_end = 0.0, span.start
        for c in sorted(self.children(span), key=lambda c: c.start):
            lo, hi = max(c.start, last_end), min(c.end, span.end)
            if hi > lo:
                covered += hi - lo
                last_end = hi
        return span.dur - covered

    def dump(self, path: str, **extra) -> None:
        with open(path, "w") as f:
            json.dump({"spans": [asdict(s) for s in self.spans], **extra}, f, indent=0)


def event_log_totals(log_dir: str) -> dict[str, dict[str, float]]:
    """Per job group: jobs, task CPU seconds, GC seconds, shuffle bytes
    written and output bytes written, summed over the tasks of every
    stage of every job of the group. Reads the JSON event log that Spark
    writes when `spark.eventLog.enabled` is set."""
    totals: dict[str, dict[str, float]] = {}

    def group(name: str) -> dict[str, float]:
        return totals.setdefault(
            name,
            {"jobs": 0, "task_cpu_s": 0.0, "gc_s": 0.0,
             "shuffle_write_bytes": 0.0, "bytes_written": 0.0},
        )

    for path in glob.glob(os.path.join(log_dir, "*")):
        stage_group: dict[int, str] = {}  # stage ids restart in every application
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    name = props.get("spark.jobGroup.id") or "(none)"
                    group(name)["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = name
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics")
                    name = stage_group.get(ev.get("Stage ID"))
                    if not m or name is None:
                        continue
                    g = group(name)
                    g["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    g["shuffle_write_bytes"] += (
                        m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    )
                    g["bytes_written"] += (
                        m.get("Output Metrics", {}).get("Bytes Written", 0)
                    )
    return totals
