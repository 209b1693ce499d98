"""Spans around the benchmark's calls into each layer, Spark job-group
tagging, and the offline reader that joins spans to the Spark event log.

A span is recorded from the benchmark's own code only: the program under test
is not instrumented. Its layer is the part of its name before the first dot
(``silver.apply`` belongs to ``silver``). Spans are kept in memory and written
out once, when the run ends.

When a SparkContext is given, every span also becomes the Spark job group of
the jobs it starts (group id ``span-<id>``), so the event log can attribute
each task to the innermost span that was open when its job was submitted.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    span_id: int
    name: str
    parent: int | None
    step: int | None
    start: float
    end: float = 0.0
    jobs: int = 0

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def duration(self) -> float:
        return self.end - self.start


def group_id(span_id: int) -> str:
    return f"span-{span_id}"


class Tracer:
    """Records spans; a disabled tracer records nothing and tags nothing, so
    untraced runs pay no tracing cost."""

    def __init__(self, enabled: bool, sc=None):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._sc = sc if enabled else None

    @contextmanager
    def span(self, name: str, step: int | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if step is None and parent is not None:
            step = parent.step
        sp = Span(len(self.spans), name, parent.span_id if parent else None, step,
                  time.perf_counter())
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if self._sc is not None:
                tracker = self._sc.statusTracker()
                sp.jobs = len(tracker.getJobIdsForGroup(group_id(sp.span_id)))
            self._set_group(parent)

    def _set_group(self, sp: Span | None) -> None:
        if self._sc is None:
            return
        if sp is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(group_id(sp.span_id), sp.name)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def load_spans(path: str) -> list[Span]:
    with open(path) as f:
        return [Span(**d) for d in json.load(f)]


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of its interval that its direct
    children cover (overlapping children are counted once)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
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


def step_coverage(spans: list[Span], root: str = "step") -> list[float]:
    """Share of each root span's wall time covered by its children."""
    st = self_times(spans)
    return [1.0 - st[s.span_id] / s.duration
            for s in spans if s.name == root and s.duration > 0]


# -- event log ---------------------------------------------------------------

TASK_FIELDS = ("cpu_s", "gc_s", "shuffle_bytes", "spill_bytes", "tasks")


def read_event_log(path: str) -> dict[str, dict[str, float]]:
    """Task metrics summed per job group from a Spark JSON event log.

    Joins task -> stage -> job -> job group: a stage is charged to the first
    job that lists it (later jobs list it again only as a skipped stage).
    Tasks of jobs without a group are summed under the key ``""``."""
    stage_job: dict[int, int] = {}
    job_group: dict[int, str] = {}
    tasks: list[tuple[int, dict]] = []
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                job = ev["Job ID"]
                props = ev.get("Properties") or {}
                job_group[job] = props.get("spark.jobGroup.id") or ""
                for st in ev.get("Stage IDs", []):
                    stage_job.setdefault(st, job)
            elif kind == "SparkListenerTaskEnd" and ev.get("Task Metrics"):
                tasks.append((ev["Stage ID"], ev["Task Metrics"]))
    out: dict[str, dict[str, float]] = {}
    for stage, m in tasks:
        group = job_group.get(stage_job.get(stage, -1), "")
        acc = out.setdefault(group, dict.fromkeys(TASK_FIELDS, 0.0))
        sr = m.get("Shuffle Read Metrics") or {}
        sw = m.get("Shuffle Write Metrics") or {}
        acc["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
        acc["shuffle_bytes"] += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                                 + sw.get("Shuffle Bytes Written", 0))
        acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        acc["tasks"] += 1
    return out


def layer_totals(spans: list[Span], by_group: dict[str, dict[str, float]],
                 layers: list[str]) -> dict[str, float]:
    """``<layer>.self_s`` from the spans plus the event-log task metrics of
    every job tagged with one of the layer's spans, for each named layer."""
    st = self_times(spans)
    layer_of = {group_id(s.span_id): s.layer for s in spans}
    out = {f"{layer}.{k}": 0.0 for layer in layers for k in ("self_s",) + TASK_FIELDS}
    for s in spans:
        if s.layer in layers:
            out[f"{s.layer}.self_s"] += st[s.span_id]
    for group, acc in by_group.items():
        layer = layer_of.get(group)
        if layer in layers:
            for k, v in acc.items():
                out[f"{layer}.{k}"] += v
    return out
