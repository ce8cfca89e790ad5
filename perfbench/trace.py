"""Spans recorded around calls into kgflow's layers, and the Spark event
log folded into them.

A span is (id, name, layer, start, end, parent, run_id). Spans are kept
in memory and written out once, at the end of a run. A span's self time
is its duration minus the part of its interval that its children cover;
a layer's time is the sum of the self times of its spans.

Spark work is attributed through job groups: entering a span sets the
Spark job group to the span id, so every job the span submits can be
matched to it in the event log. Each job becomes a child span of the
span that submitted it (``spark_job`` spans, layer = that span's stage
layer), which is what splits ``lineage.write_stage`` into its Spark
write jobs (charged to the stage) and its own commit work (lineage).
"""

from __future__ import annotations

import json
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: str
    name: str
    layer: str
    start: float  # epoch seconds
    end: float
    parent: str | None
    run_id: str

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, run_id: str, spark_context=None):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._sc = spark_context

    @contextmanager
    def span(self, name: str, layer: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(f"{self.run_id}/{len(self.spans)}", name, layer, time.time(), 0.0,
                 parent.id if parent else None, self.run_id)
        self.spans.append(s)
        self._stack.append(s)
        if self._sc is not None:
            self._sc.setJobGroup(s.id, name)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if self._sc is not None:
                if parent is not None:
                    self._sc.setJobGroup(parent.id, parent.name)
                else:
                    self._sc.setLocalProperty("spark.jobGroup.id", None)



def dump(spans: list[Span], path: str) -> None:
    with open(path, "w") as f:
        json.dump([asdict(s) for s in spans], f, indent=1)


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
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


def self_times(spans: list[Span]) -> dict[str, float]:
    """span id -> duration minus the union of its children's intervals
    (clipped to the span)."""
    kids: dict[str, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append(s)
    out = {}
    for s in spans:
        covered = union_length(
            [(max(c.start, s.start), min(c.end, s.end))
             for c in kids[s.id] if min(c.end, s.end) > max(c.start, s.start)]
        )
        out[s.id] = max(0.0, s.duration - covered)
    return out


def layer_times(spans: list[Span]) -> dict[str, float]:
    st = self_times(spans)
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        out[s.layer] += st[s.id]
    return dict(out)


# --------------------------------------------------------------------------
# Spark event log
# --------------------------------------------------------------------------

@dataclass
class Job:
    key: str  # "<log index>:<job id>"
    group: str | None
    start: float  # epoch seconds
    end: float
    stages: list[str]


@dataclass
class TaskStat:
    run_s: float
    gc_s: float
    shuffle_write_b: int
    spill_b: int
    rows_in: int


def read_event_logs(lines_per_log: list[list[str]]) -> tuple[dict[str, Job], dict[str, list[TaskStat]]]:
    """Parse event-log JSON lines (one list per SparkContext) into jobs
    and per-stage task statistics. Stage keys are "<log>:<stage id>"."""
    jobs: dict[str, Job] = {}
    tasks: dict[str, list[TaskStat]] = defaultdict(list)
    for li, lines in enumerate(lines_per_log):
        for line in lines:
            if not line.strip():
                continue
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                key = f"{li}:{ev['Job ID']}"
                jobs[key] = Job(
                    key, props.get("spark.jobGroup.id"),
                    ev["Submission Time"] / 1000.0, ev["Submission Time"] / 1000.0,
                    [f"{li}:{s}" for s in ev.get("Stage IDs", [])],
                )
            elif kind == "SparkListenerJobEnd":
                key = f"{li}:{ev['Job ID']}"
                if key in jobs:
                    jobs[key].end = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                tasks[f"{li}:{ev['Stage ID']}"].append(TaskStat(
                    m.get("Executor Run Time", 0) / 1000.0,
                    m.get("JVM GC Time", 0) / 1000.0,
                    (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                    m.get("Disk Bytes Spilled", 0),
                    (m.get("Input Metrics") or {}).get("Records Read", 0),
                ))
    return jobs, dict(tasks)


def load_event_logs(paths: list[str]) -> tuple[dict[str, Job], dict[str, list[TaskStat]]]:
    logs = []
    for p in sorted(paths):
        with open(p) as f:
            logs.append(f.readlines())
    return read_event_logs(logs)


def job_spans(spans: list[Span], jobs: dict[str, Job],
              fallback_layer: str | None = None) -> list[Span]:
    """One child span per Spark job, under the span whose id is the
    job's group; a job inside a ``lineage`` span is charged to the stage
    that called lineage. Jobs whose group is no span (a streaming
    query sets its own group per micro-batch) go under the innermost
    span open at their start, with layer ``fallback_layer``; without a
    fallback they are dropped."""
    by_id = {s.id: s for s in spans}
    out = []
    for j in sorted(jobs.values(), key=lambda j: j.start):
        parent = by_id.get(j.group) if j.group else None
        if parent is not None:
            owner = parent
            while owner.layer == "lineage" and owner.parent in by_id:
                owner = by_id[owner.parent]
            layer = owner.layer
        elif fallback_layer is not None:
            open_spans = [s for s in spans if s.start <= j.start < s.end]
            if not open_spans:
                continue
            parent = max(open_spans, key=lambda s: s.start)
            layer = fallback_layer
        else:
            continue
        out.append(Span(f"job:{j.key}", "spark_job", layer, j.start, j.end,
                        parent.id, parent.run_id))
    return out


def _skew(stats: list[TaskStat]) -> float:
    times = [t.run_s for t in stats]
    med = statistics.median(times) if times else 0.0
    return max(times) / med if med > 0 else 1.0


def fold_tasks(jobs: dict[str, Job], tasks: dict[str, list[TaskStat]],
               job_layer: dict[str, str]) -> dict[str, dict[str, float]]:
    """Task totals per layer: task_s, gc_s, shuffle_write_mb, spill_mb,
    rows_in (records read from files; Spark's parquet "Bytes Read" counts
    only footer reads, so bytes are not used), jobs, and task_skew = max/median task time of the layer's
    busiest Spark stage. ``job_layer`` maps job key -> layer."""
    agg: dict[str, dict[str, float]] = defaultdict(
        lambda: dict(task_s=0.0, gc_s=0.0, shuffle_write_mb=0.0, spill_mb=0.0,
                     rows_in=0, jobs=0, task_skew=1.0)
    )
    busiest: dict[str, float] = defaultdict(float)
    seen_stages: set[str] = set()
    for key, job in jobs.items():
        layer = job_layer.get(key)
        if layer is None:
            continue
        a = agg[layer]
        a["jobs"] += 1
        for st in job.stages:
            stats = tasks.get(st)
            if not stats or st in seen_stages:
                continue  # skipped stage (shuffle reuse) or already counted
            seen_stages.add(st)
            stage_s = sum(t.run_s for t in stats)
            a["task_s"] += stage_s
            a["gc_s"] += sum(t.gc_s for t in stats)
            a["shuffle_write_mb"] += sum(t.shuffle_write_b for t in stats) / 1e6
            a["spill_mb"] += sum(t.spill_b for t in stats) / 1e6
            a["rows_in"] += sum(t.rows_in for t in stats)
            if stage_s > busiest[layer]:
                busiest[layer] = stage_s
                a["task_skew"] = _skew(stats)
    return {k: dict(v) for k, v in agg.items()}
