"""Tracing for the benchmark's traced run (``--trace 1``).

Three instruments, all local and offline:

* ``Spans``: named spans the benchmark records around its calls into the
  package's public functions, kept in memory and written out at the end.
* ``ProgressListener``: a ``StreamingQueryListener`` that keeps every
  micro-batch's ``durationMs`` and ``numInputRows``.
* ``engine_ledger``: the Spark event log (uncompressed, not rolled) parsed
  into driver time, jobs, stages, executor time, shuffle/spill bytes and
  task skew for the jobs submitted inside a time window.

Untraced runs use none of these, so the end-to-end metrics carry no
tracing cost.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import threading
import time
from pathlib import Path

from pyspark.sql.streaming import StreamingQueryListener

EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}


class Spans:
    """In-memory span recorder: (name, parent, phase, start, end), times in
    wall seconds. ``phase`` is the run's phase when the span opened
    ("setup", "measure" or "after"); totals count the measured phase."""

    def __init__(self) -> None:
        self.records: list[dict] = []
        self.phase = "setup"
        self._stack: list[str] = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        phase = self.phase
        self._stack.append(name)
        start = time.time()
        try:
            yield
        finally:
            self._stack.pop()
            self.records.append({"name": name, "parent": parent, "phase": phase,
                                 "start": start, "end": time.time()})

    def total(self, name: str, phase: str = "measure") -> float:
        """Seconds spent in spans ``name`` during ``phase``."""
        return sum(r["end"] - r["start"] for r in self.records
                   if r["name"] == name and r["phase"] == phase)

    def dump(self, path: Path) -> None:
        path.write_text(json.dumps(self.records))


@contextlib.contextmanager
def wrapped(spans: Spans, module, attr: str, name: str):
    """Temporarily replace ``module.attr`` with a span-recording wrapper.

    Used for functions the program calls internally (``write_epoch_batch``
    inside ``stream_compact``'s batch closure), so the span still comes from
    the benchmark's side of the call.
    """
    original = getattr(module, attr)

    def traced(*a, **kw):
        with spans.span(name):
            return original(*a, **kw)

    setattr(module, attr, traced)
    try:
        yield
    finally:
        setattr(module, attr, original)


class ProgressListener(StreamingQueryListener):
    """Keeps each micro-batch's progress and notes terminated queries."""

    def __init__(self) -> None:
        self.progress: list[dict] = []
        self._terminated: set[str] = set()
        self._cv = threading.Condition()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        with self._cv:
            self.progress.append({"id": str(p.id), "batch": p.batchId,
                                  "rows": p.numInputRows, "ms": dict(p.durationMs)})

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._cv:
            self._terminated.add(str(event.id))
            self._cv.notify_all()

    def wait_terminated(self, query_id: str, timeout: float = 10.0) -> None:
        """The listener bus is asynchronous: wait until a query's last
        events have been delivered before reading them."""
        with self._cv:
            self._cv.wait_for(lambda: query_id in self._terminated, timeout)


def _union_seconds(spans: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for s, e in sorted(spans):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


FILES_READ = "number of files read"


def _metric_ids(plan: dict, name: str) -> set[int]:
    """Accumulator ids of the SQL metric ``name`` anywhere in a plan tree."""
    ids = {m["accumulatorId"] for m in plan.get("metrics", []) if m["name"] == name}
    for child in plan.get("children", []):
        ids |= _metric_ids(child, name)
    return ids


def engine_ledger(event_log: Path, windows: list[tuple[float, float]]) -> dict:
    """Engine metrics for the jobs submitted inside ``windows`` (wall
    seconds), summed over the windows.

    ``driver_s`` is the windows' wall time minus the union of their stage
    spans: planning, scheduling and Python time on the driver.
    ``files_read`` sums the file scans' "number of files read" metric: the
    files left after partition pruning. ``task_skew`` is the
    executor-time-weighted mean, over stages with at least two tasks, of
    the slowest task's run time over the median task's.
    """
    jobs, stage_ids, stages, tasks = 0, set(), {}, {}
    file_metrics, executions, file_updates = set(), set(), []
    ms = [(a * 1000, b * 1000) for a, b in windows]

    def inside(t):
        return any(a <= t <= b for a, b in ms)

    with event_log.open() as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart" and inside(ev["Submission Time"]):
                jobs += 1
                stage_ids.update(ev["Stage IDs"])
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                if "Submission Time" in info and "Completion Time" in info:
                    stages[info["Stage ID"]] = (info["Submission Time"] / 1000,
                                                info["Completion Time"] / 1000)
            elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                file_metrics.update(_metric_ids(ev["sparkPlanInfo"], FILES_READ))
                if kind.endswith("Start") and inside(ev["time"]):
                    executions.add(ev["executionId"])
            elif kind.endswith("DriverAccumUpdates"):
                file_updates += [(ev["executionId"], a, v) for a, v in ev["accumUpdates"]]
            elif kind == "SparkListenerTaskEnd" and ev.get("Task Metrics"):
                m = ev["Task Metrics"]
                tasks.setdefault(ev["Stage ID"], []).append((
                    m["Executor Run Time"],
                    m["Shuffle Write Metrics"]["Shuffle Bytes Written"],
                    m["Shuffle Read Metrics"]["Remote Bytes Read"]
                    + m["Shuffle Read Metrics"]["Local Bytes Read"],
                    m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"],
                ))
    ran = [s for s in stage_ids if s in stages]
    wall = sum(b - a for a, b in windows)
    run_ms = [t[0] for s in ran for t in tasks.get(s, [])]
    skews, weights = [], []
    for s in ran:
        runs = [t[0] for t in tasks.get(s, [])]
        if len(runs) >= 2 and statistics.median(runs) > 0:
            skews.append(max(runs) / statistics.median(runs))
            weights.append(sum(runs))
    return {
        "driver_s": wall - _union_seconds([stages[s] for s in ran]),
        "jobs": jobs,
        "stages": len(ran),
        "executor_run_s": sum(run_ms) / 1000,
        "shuffle_write_bytes": sum(t[1] for s in ran for t in tasks.get(s, [])),
        "shuffle_read_bytes": sum(t[2] for s in ran for t in tasks.get(s, [])),
        "spill_bytes": sum(t[3] for s in ran for t in tasks.get(s, [])),
        "files_read": sum(v for e, a, v in file_updates if e in executions and a in file_metrics),
        "task_skew": (sum(k * w for k, w in zip(skews, weights)) / sum(weights)
                      if weights and sum(weights) else 1.0),
    }
