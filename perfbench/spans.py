"""Spans recorded around the benchmark's calls into each layer, and the
reducer that turns Spark's own event log into per-span job counters.

A span has a name, start, end and parent; all spans of one run share the
run id. Spans are kept in memory and written out once, when the run ends.
Spark jobs started inside a span opened with ``spark_group=True`` carry the
span name as their job group, which is how the event-log reducer attributes
jobs, shuffle bytes and executor CPU to spans.
"""

from __future__ import annotations

import contextlib
import json
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    span_id: int
    parent: int | None
    name: str
    start: float
    end: float
    run_id: str

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when ``enabled``; otherwise every span is a no-op, so
    an untraced run pays nothing but the context-manager call."""

    def __init__(self, run_id: str, enabled: bool, spark_context=None):
        self.run_id = run_id
        self.enabled = enabled
        self.sc = spark_context
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, spark_group: bool = False):
        if not self.enabled:
            yield
            return
        tag = spark_group and self.sc is not None
        if tag:
            prev = self.sc.getLocalProperty("spark.jobGroup.id")
            self.sc.setJobGroup(name, name)
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self.spans.append(Span(sid, parent, name, start, end, self.run_id))
            if tag:
                if prev is None:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
                else:
                    self.sc.setJobGroup(prev, prev)

    def durations(self, name: str) -> list[float]:
        return [s.duration for s in self.spans if s.name == name]

    def write(self, path: str) -> None:
        selfs = self_times(self.spans)
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s.start):
                fh.write(json.dumps({**asdict(s),
                                     "self_s": selfs[s.span_id]}) + "\n")


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of its interval that its child
    spans cover (overlapping children counted once)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out: dict[int, float] = {}
    for s in spans:
        covered = 0.0
        cur_lo = cur_hi = None
        for c in sorted(children.get(s.span_id, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.span_id] = s.duration - covered
    return out


def reduce_event_log(lines) -> dict[str, dict[str, float]]:
    """Per job group: ``jobs`` started, ``shuffle_write_bytes`` and
    ``executor_cpu_s`` summed over the tasks of those jobs' stages.

    ``lines`` are the JSON lines of one uncompressed Spark event log. Jobs
    with no job group are reported under the empty string."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}

    def group(name: str) -> dict[str, float]:
        return out.setdefault(name, {"jobs": 0, "shuffle_write_bytes": 0,
                                     "executor_cpu_s": 0.0})

    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            g = props.get("spark.jobGroup.id") or ""
            group(g)["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = g
        elif kind == "SparkListenerTaskEnd":
            g = stage_group.get(ev.get("Stage ID"))
            m = ev.get("Task Metrics")
            if g is None or not m:
                continue
            rec = group(g)
            rec["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            rec["shuffle_write_bytes"] += (
                m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0))
    return out
