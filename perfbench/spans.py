"""Spans, job groups and Spark event-log accounting for the traced run.

A span is recorded around each call the benchmark makes into the
engine's public API (name, start, end, parent span, run id). While a
span is open, Spark jobs started on the same thread carry the span's
job group, so the event log attributes every job, stage and task to the
innermost span that caused it. Spans stay in memory; the event log is
parsed once, after the session has stopped and the log is complete.

With tracing off the tracer records nothing and touches no Spark state,
so the untraced run measures the engine alone.
"""

from __future__ import annotations

import glob
import itertools
import json
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

GROUP_KEY = "spark.jobGroup.id"


@dataclass
class Span:
    sid: int
    name: str
    run_id: str
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when ``enabled``; a no-op otherwise."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self.sc = None  # SparkContext whose job groups the spans set

    @contextmanager
    def span(self, name: str, run_id: str = ""):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        sp = Span(next(self._ids), name, run_id, stack[-1].sid if stack else None, 0.0)
        prior = None
        if self.sc is not None:
            prior = self.sc.getLocalProperty(GROUP_KEY)
            self.sc.setLocalProperty(GROUP_KEY, f"bench-span-{sp.sid}")
        stack.append(sp)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            if self.sc is not None:
                # restore the enclosing group (the streaming engine's
                # own run-id group inside foreachBatch)
                self.sc.setLocalProperty(GROUP_KEY, prior)
            with self._lock:
                self.spans.append(sp)


@dataclass
class GroupStats:
    jobs: int = 0
    tasks: int = 0
    task_run_s: float = 0.0
    shuffle_write_bytes: int = 0
    python_s: float = 0.0


@dataclass
class EventLog:
    """Per-job-group totals parsed from an uncompressed event log."""

    groups: dict[str, GroupStats] = field(default_factory=lambda: defaultdict(GroupStats))

    @classmethod
    def parse(cls, log_dir: str) -> "EventLog":
        files = sorted(glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True))
        if not files:
            raise FileNotFoundError(f"no Spark event log under {log_dir}")
        out = cls()
        stage_group: dict[int, str] = {}
        for path in files:
            with open(path, encoding="utf-8") as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        group = (ev.get("Properties") or {}).get(GROUP_KEY) or ""
                        out.groups[group].jobs += 1
                        for sid in ev.get("Stage IDs", []):
                            stage_group[sid] = group
                    elif kind == "SparkListenerTaskEnd":
                        g = out.groups[stage_group.get(ev.get("Stage ID"), "")]
                        g.tasks += 1
                        tm = ev.get("Task Metrics") or {}
                        g.task_run_s += tm.get("Executor Run Time", 0) / 1000.0
                        g.shuffle_write_bytes += (tm.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0
                        )
                        for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                            if acc.get("Name") == "time to run Python workers":
                                g.python_s += float(acc.get("Update") or 0) / 1000.0
        return out

    def for_span(self, sp: Span) -> GroupStats:
        return self.groups.get(f"bench-span-{sp.sid}", GroupStats())


# Per-layer metrics, named ``<engine module>.<quantity>``. Every traced
# run reports each of them; a workload that never calls a layer reports
# 0 for it. Per-operation values are medians over the traced batches or
# queries; the names in SUMMED are also reported as ``<name>.sum``.
LAYER_UNITS = {
    "session.start_s": "s",
    "sources.reblock_s": "s",
    "sources.latest_offset_ms": "ms",
    "pipelines.trigger_ms": "ms",
    "pipelines.planning_ms": "ms",
    "pipelines.commit_ms": "ms",
    "cdc.parse_s": "s",
    "cdc.rows_in": "count",
    "cdc.keep_ratio": "ratio",
    "streaming.silver_s": "s",
    "streaming.silver_jobs": "count",
    "streaming.silver_rows": "count",
    "sinks.es_s": "s",
    "sinks.es_jobs": "count",
    "sinks.es_requests": "count",
    "sinks.es_docs": "count",
    "sinks.es_retries": "count",
    "sinks.es_compaction_ratio": "ratio",
    "queries.construct_s": "s",
    "queries.construct_jobs": "count",
    "queries.cold_extra_s": "s",
    "operators.execute_s": "s",
    "operators.jobs": "count",
    "operators.tasks": "count",
    "operators.task_run_s": "s",
    "operators.shuffle_write_bytes": "bytes",
    "operators.python_s": "s",
    "trace.overhead_p50_s": "s",
    "trace.overhead_frac": "ratio",
}
SUMMED = (
    "sources.latest_offset_ms", "pipelines.trigger_ms", "pipelines.planning_ms",
    "pipelines.commit_ms", "cdc.parse_s", "cdc.rows_in", "streaming.silver_s",
    "streaming.silver_jobs", "streaming.silver_rows", "sinks.es_s", "sinks.es_jobs",
    "sinks.es_requests", "sinks.es_docs", "sinks.es_retries", "queries.construct_s",
    "queries.construct_jobs", "queries.cold_extra_s", "operators.execute_s",
    "operators.jobs", "operators.tasks", "operators.task_run_s",
    "operators.shuffle_write_bytes", "operators.python_s",
)
LAYER_UNITS.update({f"{k}.sum": LAYER_UNITS[k] for k in SUMMED})


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def layer_values(per_op: dict[str, list[float]], ratios: dict[str, float]) -> dict[str, float]:
    """Every per-layer metric: medians and sums of the per-operation
    samples given, the ratios as given, 0 for layers not exercised."""
    out = {k: 0.0 for k in LAYER_UNITS}
    for k, xs in per_op.items():
        out[k] = median(xs)
        if k in SUMMED:
            out[f"{k}.sum"] = float(sum(xs))
    out.update(ratios)
    return out
