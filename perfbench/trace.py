"""Spans around the benchmark's calls into each layer, and the Spark work
each span caused.

A span tags the Spark jobs started inside it with
``SparkContext.setJobGroup``; after the session stops, the event log
(enabled only through ``get_spark``'s ``extra_conf``) is read back and every
stage's task metrics are attributed to the span whose job ran it. Spans are
kept in memory and written out once, when the run ends.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

SPARK_COUNTERS = (
    "jobs", "stages", "tasks", "executor_run_s", "shuffle_write_bytes",
    "shuffle_read_bytes", "spill_bytes", "gc_s",
)


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)
    spark: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans; ``enabled=False`` makes ``span`` a plain timer so the
    untraced run pays nothing but two clock reads."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._sc = None

    def attach(self, spark) -> None:
        self._sc = spark.sparkContext

    def _group(self, span: Span | None) -> None:
        if self._sc is None:
            return
        if span is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(f"{self.run_id}:{span.id}", span.name)

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.id if parent else None, time.perf_counter(), attrs=attrs)
        if self.enabled:
            self.spans.append(s)
            self._stack.append(s)
            self._group(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            if self.enabled:
                self._stack.pop()
                self._group(parent)

    def attribute(self, event_log_dir: str) -> None:
        """Read the stopped session's event log; fill ``span.spark``."""
        if not self.enabled:
            return
        stage_group: dict[int, str] = {}
        tasks: dict[int, list[dict]] = {}
        group_jobs: dict[str, int] = {}
        for path in sorted(glob.glob(os.path.join(event_log_dir, "**", "events_*"), recursive=True)
                           + glob.glob(os.path.join(event_log_dir, "local-*"))):
            with open(path, encoding="utf-8") as fh:
                for line in fh:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                        if group is None:
                            continue
                        group_jobs[group] = group_jobs.get(group, 0) + 1
                        for sid in ev.get("Stage IDs", []):
                            stage_group.setdefault(sid, group)
                    elif kind == "SparkListenerTaskEnd":
                        m = ev.get("Task Metrics") or {}
                        info = ev.get("Task Info") or {}
                        sr = m.get("Shuffle Read Metrics") or {}
                        sw = m.get("Shuffle Write Metrics") or {}
                        tasks.setdefault(ev["Stage ID"], []).append({
                            "run_ms": m.get("Executor Run Time", 0),
                            "gc_ms": m.get("JVM GC Time", 0),
                            "dur_ms": info.get("Finish Time", 0) - info.get("Launch Time", 0),
                            "sw": sw.get("Shuffle Bytes Written", 0),
                            "sr": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                            "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                        })
        by_group: dict[str, dict] = {}
        for sid, ts in tasks.items():
            group = stage_group.get(sid)
            if group is None:
                continue
            agg = by_group.setdefault(group, {k: 0 for k in SPARK_COUNTERS} | {"stage_tasks": []})
            agg["stages"] += 1
            agg["tasks"] += len(ts)
            agg["executor_run_s"] += sum(t["run_ms"] for t in ts) / 1000
            agg["gc_s"] += sum(t["gc_ms"] for t in ts) / 1000
            agg["shuffle_write_bytes"] += sum(t["sw"] for t in ts)
            agg["shuffle_read_bytes"] += sum(t["sr"] for t in ts)
            agg["spill_bytes"] += sum(t["spill"] for t in ts)
            agg["stage_tasks"].append([t["dur_ms"] for t in ts])
        for s in self.spans:
            group = f"{self.run_id}:{s.id}"
            s.spark = by_group.get(group, {k: 0 for k in SPARK_COUNTERS} | {"stage_tasks": []})
            s.spark["jobs"] = group_jobs.get(group, 0)

    def subtree(self, root: Span) -> list[Span]:
        """``root`` and every span it caused."""
        ids = {root.id}
        out = [root]
        for s in self.spans[root.id + 1:]:
            if s.parent in ids:
                ids.add(s.id)
                out.append(s)
        return out

    def spark_totals(self, roots: list[Span]) -> dict[str, float]:
        """Spark counters summed over the given spans and their children,
        plus ``task_skew``: max over median task time in the widest stage."""
        total = {k: 0 for k in SPARK_COUNTERS}
        widest: list[int] = []
        for root in roots:
            for s in self.subtree(root):
                for k in SPARK_COUNTERS:
                    total[k] += s.spark.get(k, 0)
                for durs in s.spark.get("stage_tasks", []):
                    if len(durs) > len(widest):
                        widest = durs
        med = statistics.median(widest) if widest else 0
        total["task_skew"] = max(widest) / med if med else 1.0
        return total

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        rows = [
            {
                "id": s.id, "name": s.name, "parent": s.parent,
                "start": s.start, "end": s.end, "seconds": s.seconds,
                "attrs": s.attrs,
                "spark": {k: v for k, v in s.spark.items() if k != "stage_tasks"},
            }
            for s in self.spans
        ]
        with open(path, "w", encoding="utf-8") as fh:
            json.dump({"run": self.run_id, "spans": rows}, fh, indent=1)


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Peak resident memory (VmHWM) of this process plus the driver JVM."""
    total_kb = 0
    for pid in ("self", jvm_pid):
        if pid is None:
            continue
        try:
            with open(f"/proc/{pid}/status", encoding="ascii") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024
