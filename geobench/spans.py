"""Per-layer spans for the benchmark's calls into the engine.

Every call the benchmark makes into a layer runs inside :meth:`Tracer.span`,
which records the call's wall time. In a traced run the span also tags the
call's Spark jobs with a job group of their own, and Spark writes an event
log; :func:`layer_metrics` then joins the log's task records to the spans to
get jobs, tasks, task and GC time, shuffle and spill bytes, task skew and
driver-idle time (call wall time not covered by any of the call's tasks).
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

SPARK_METRICS = ("jobs", "tasks", "task_s", "gc_s", "shuffle_bytes", "spill_bytes", "driver_idle_s")


@dataclass
class Span:
    layer: str
    group: str
    t0: float  # epoch seconds, the clock the event log's task times use
    t1: float = 0.0

    @property
    def wall_s(self) -> float:
        return self.t1 - self.t0


@dataclass
class Tracer:
    spark: object
    enabled: bool
    spans: list[Span] = field(default_factory=list)

    @contextmanager
    def span(self, layer: str):
        s = Span(layer, f"{layer}#{len(self.spans)}", time.time())
        sc = self.spark.sparkContext if self.spark is not None else None
        if self.enabled and sc is not None:
            sc.setJobGroup(s.group, layer)
        try:
            yield s
        finally:
            s.t1 = time.time()
            if self.enabled and sc is not None:
                sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(s)

    def walls(self, layer: str) -> list[float]:
        return [s.wall_s for s in self.spans if s.layer == layer]


@dataclass
class _Task:
    launch: float
    finish: float
    run_s: float
    gc_s: float
    shuffle_bytes: int
    spill_bytes: int


def _read_events(event_dir: str) -> tuple[dict[str, set[int]], dict[str, list[_Task]]]:
    """job group -> job ids, and job group -> finished tasks."""
    jobs: dict[str, set[int]] = {}
    stage_group: dict[int, str] = {}
    tasks: dict[str, list[_Task]] = {}
    for path in glob.glob(os.path.join(event_dir, "*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group is None:
                        continue
                    jobs.setdefault(group, set()).add(ev["Job ID"])
                    for sid in ev["Stage IDs"]:
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev["Stage ID"])
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    if group is None:
                        continue
                    tasks.setdefault(group, []).append(
                        _Task(
                            launch=info["Launch Time"] / 1000.0,
                            finish=info["Finish Time"] / 1000.0,
                            run_s=m.get("Executor Run Time", 0) / 1000.0,
                            gc_s=m.get("JVM GC Time", 0) / 1000.0,
                            shuffle_bytes=(m.get("Shuffle Write Metrics") or {}).get(
                                "Shuffle Bytes Written", 0
                            ),
                            spill_bytes=m.get("Disk Bytes Spilled", 0),
                        )
                    )
    return jobs, tasks


def _covered_s(tasks: list[_Task], t0: float, t1: float) -> float:
    """Length of the part of [t0, t1] during which at least one task ran."""
    covered, end = 0.0, t0
    for a, b in sorted((max(t.launch, t0), min(t.finish, t1)) for t in tasks):
        if b <= end:
            continue
        covered += b - max(a, end)
        end = b
    return covered


def _call_metrics(span: Span, jobs: set[int], tasks: list[_Task]) -> dict[str, float]:
    return {
        "wall_s": span.wall_s,
        "jobs": len(jobs),
        "tasks": len(tasks),
        "task_s": sum(t.run_s for t in tasks),
        "gc_s": sum(t.gc_s for t in tasks),
        "shuffle_bytes": sum(t.shuffle_bytes for t in tasks),
        "spill_bytes": sum(t.spill_bytes for t in tasks),
        "driver_idle_s": span.wall_s - _covered_s(tasks, span.t0, span.t1),
    }


def layer_metrics(spans: list[Span], event_dir: str) -> dict[str, dict[str, float]]:
    """layer -> metrics: the per-call median over the layer's calls, plus
    ``task_skew`` (longest task / median task over all the layer's tasks)."""
    jobs, tasks = _read_events(event_dir)
    per_layer: dict[str, list[dict[str, float]]] = {}
    layer_tasks: dict[str, list[_Task]] = {}
    for s in spans:
        ts = tasks.get(s.group, [])
        per_layer.setdefault(s.layer, []).append(_call_metrics(s, jobs.get(s.group, set()), ts))
        layer_tasks.setdefault(s.layer, []).extend(ts)
    out = {}
    for layer, calls in per_layer.items():
        m = {k: statistics.median(c[k] for c in calls) for k in calls[0]}
        durs = [t.finish - t.launch for t in layer_tasks[layer]]
        med = statistics.median(durs) if durs else 0.0
        m["task_skew"] = max(durs) / med if med > 0 else 0.0
        out[layer] = m
    return out
