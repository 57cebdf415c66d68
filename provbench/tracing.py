"""Spans around layer calls, and Spark event-log counts attributed to them.

A span is (name, start, end, parent, request). Spans stay in memory until the
run ends. While a span is open, its id is the Spark job group
(`spark.jobGroup.id`), so every job the layer call starts is tagged with it;
the event log then gives per-span tasks, shuffle, spill, GC, input records and
the SQL driver metrics (files read, files written). Nothing inside the program
is instrumented: the spans wrap calls into its public functions.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    request: str
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records nested spans; tags the Spark jobs each one starts."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, request: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, request, parent, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s.id)
        self.sc.setLocalProperty("spark.jobGroup.id", f"span-{s.id}")
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty(
                "spark.jobGroup.id",
                f"span-{self._stack[-1]}" if self._stack else None,
            )

    def job_groups(self, span_id: int) -> set[str]:
        """Job groups of a span and of every span nested in it."""
        ids = {span_id}
        for s in self.spans:  # spans are appended parent-first
            if s.parent in ids:
                ids.add(s.id)
        return {f"span-{i}" for i in ids}

    def self_seconds(self, span: Span) -> float:
        """Span time minus the part of it that its child spans cover."""
        covered, cursor = 0.0, span.start
        for c in sorted((c for c in self.spans if c.parent == span.id),
                        key=lambda c: c.start):
            lo, hi = max(c.start, cursor), min(c.end, span.end)
            if hi > lo:
                covered += hi - lo
                cursor = hi
        return span.seconds - covered

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**asdict(s), "self_s": self.self_seconds(s)}) + "\n")


# --------------------------------------------------------------------------
# Event log
# --------------------------------------------------------------------------

_SQL = "org.apache.spark.sql.execution.ui."


@dataclass
class SpanCounts:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    gc_s: float = 0.0
    spill_mb: float = 0.0
    shuffle_mb: float = 0.0        # shuffle bytes written
    records_read: int = 0          # rows read from the store or source files
    files_read: int = 0            # SQL scan metric "number of files read"
    files_written: int = 0         # SQL write metric "number of written files"
    straggler_ratio: float = 0.0   # max / median task time of the write stage


def wait_for_listeners(sc) -> None:
    """Block until the listener bus (and so the event log writer) is drained."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()


class EventLog:
    """Jobs, tasks and SQL driver metrics of one application's event log."""

    def __init__(self, log_dir: str, app_id: str):
        self.job_group: dict[int, str | None] = {}
        self.job_exec: dict[int, int | None] = {}
        self.job_stages: dict[int, list[int]] = {}
        self.stage_tasks: dict[int, list[dict]] = {}
        self.acc_name: dict[int, str] = {}
        self.exec_acc: dict[int, dict[int, int]] = {}
        files = sorted(glob.glob(os.path.join(log_dir, f"*{app_id}*", "events_*"))
                       or glob.glob(os.path.join(log_dir, f"{app_id}*")))
        for path in files:
            with open(path) as f:
                for line in f:
                    self._event(json.loads(line))

    def _plan_metrics(self, info: dict) -> None:
        for m in info.get("metrics", []):
            self.acc_name[m["accumulatorId"]] = m["name"]
        for child in info.get("children", []):
            self._plan_metrics(child)

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            jid = e["Job ID"]
            self.job_group[jid] = props.get("spark.jobGroup.id")
            ex = props.get("spark.sql.execution.id")
            self.job_exec[jid] = int(ex) if ex is not None else None
            self.job_stages[jid] = e["Stage IDs"]
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            info = e["Task Info"]
            self.stage_tasks.setdefault(e["Stage ID"], []).append({
                "ms": info["Finish Time"] - info["Launch Time"],
                "gc_ms": m.get("JVM GC Time", 0),
                "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                "shuffle_w": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                "records_read": (m.get("Input Metrics") or {}).get("Records Read", 0),
                "written": (m.get("Output Metrics") or {}).get("Records Written", 0),
            })
        elif kind in (_SQL + "SparkListenerSQLExecutionStart",
                      _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
            self._plan_metrics(e.get("sparkPlanInfo") or {})
        elif kind == _SQL + "SparkListenerDriverAccumUpdates":
            acc = self.exec_acc.setdefault(e["executionId"], {})
            for acc_id, value in e["accumUpdates"]:
                acc[acc_id] = acc.get(acc_id, 0) + value

    def _driver_metric(self, exec_ids: set[int], name: str) -> int:
        return sum(v for ex in exec_ids for a, v in self.exec_acc.get(ex, {}).items()
                   if self.acc_name.get(a) == name)

    def counts(self, groups: set[str]) -> SpanCounts:
        """Totals over every job whose job group is in `groups`."""
        jobs = [j for j, g in self.job_group.items() if g in groups]
        stages = {s for j in jobs for s in self.job_stages[j] if s in self.stage_tasks}
        tasks = [t for s in stages for t in self.stage_tasks[s]]
        execs = {self.job_exec[j] for j in jobs if self.job_exec[j] is not None}
        straggler = 0.0
        for s in stages:
            if not any(t["written"] for t in self.stage_tasks[s]):
                continue
            ms = sorted(t["ms"] for t in self.stage_tasks[s])
            straggler = max(straggler, ms[-1] / max(1, ms[len(ms) // 2]))
        return SpanCounts(
            jobs=len(jobs), stages=len(stages), tasks=len(tasks),
            gc_s=sum(t["gc_ms"] for t in tasks) / 1e3,
            spill_mb=sum(t["spill"] for t in tasks) / 2**20,
            shuffle_mb=sum(t["shuffle_w"] for t in tasks) / 2**20,
            records_read=sum(t["records_read"] for t in tasks),
            files_read=self._driver_metric(execs, "number of files read"),
            files_written=self._driver_metric(execs, "number of written files"),
            straggler_ratio=straggler,
        )

