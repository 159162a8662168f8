"""In-memory spans, order statistics and the Spark event-log reader.

Spans are recorded by the benchmark around its own calls into the
program's public functions; nothing inside the program is patched.
Executor-side numbers come from Spark's event log, which is Spark's
public record of every job, stage and task.
"""

from __future__ import annotations

import contextlib
import glob
import json
import statistics
import time


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def percentile(xs, q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


class Spans:
    """Spans as (name, start, end, parent, op_id) rows, kept in memory.

    Times are epoch seconds (``time.time``) so they line up with the
    event log's millisecond timestamps. A disabled recorder records
    nothing, which is how the untraced runs call the same code."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.rows: list[list] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, op_id: int):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.rows)
        self.rows.append([name, time.time(), None, parent, op_id])
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.rows[idx][2] = time.time()

    def add(self, name: str, start: float, end: float, parent: int | None) -> None:
        """Record a span timed elsewhere, such as a streaming trigger."""
        if self.enabled:
            op_id = self.rows[parent][4] if parent is not None else None
            self.rows.append([name, start, end, parent, op_id])

    def last(self, name: str) -> int | None:
        """Index of the most recent span called ``name``."""
        for i in range(len(self.rows) - 1, -1, -1):
            if self.rows[i][0] == name:
                return i
        return None

    def durations(self, name: str) -> list[float]:
        return [r[2] - r[1] for r in self.rows if r[0] == name]

    def windows(self, name: str) -> list[tuple[float, float]]:
        return [(r[1], r[2]) for r in self.rows if r[0] == name]

    def self_times(self, name: str) -> list[float]:
        """Span duration minus the time its direct children cover."""
        out = []
        for i, r in enumerate(self.rows):
            if r[0] != name:
                continue
            child = sum(c[2] - c[1] for c in self.rows if c[3] == i)
            out.append(r[2] - r[1] - child)
        return out


class EventLog:
    """Jobs, stages and tasks parsed from one Spark event-log file."""

    def __init__(self, directory: str) -> None:
        self.jobs: dict[int, dict] = {}
        self.stages: dict[tuple[int, int], dict] = {}
        self.tasks: list[dict] = []
        for path in sorted(glob.glob(f"{directory}/*")):
            with open(path) as f:
                for line in f:
                    self._add(json.loads(line))

    def _add(self, ev: dict) -> None:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            self.jobs[ev["Job ID"]] = {
                "submit": ev["Submission Time"] / 1000.0,
                "stages": set(ev.get("Stage IDs", [])),
            }
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            key = (info["Stage ID"], info["Stage Attempt ID"])
            self.stages[key] = {
                "start": info.get("Submission Time", 0) / 1000.0,
                "end": info.get("Completion Time", 0) / 1000.0,
            }
        elif kind == "SparkListenerTaskEnd":
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            self.tasks.append(
                {
                    "stage": ev["Stage ID"],
                    "secs": (info["Finish Time"] - info["Launch Time"]) / 1000.0,
                    "gc": m.get("JVM GC Time", 0) / 1000.0,
                    "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                    "spill": m.get("Disk Bytes Spilled", 0),
                }
            )

    def jobs_in(self, windows) -> list[int]:
        """Ids of jobs submitted inside any of the (start, end) windows.

        Jobs are attributed by submission time rather than by job group
        because operators may submit jobs from their own thread pools,
        whose threads do not inherit the caller's job group."""
        return [
            j
            for j, info in self.jobs.items()
            if any(a <= info["submit"] <= b for a, b in windows)
        ]

    def executor_totals(self, windows) -> dict[str, float]:
        jobs = self.jobs_in(windows)
        stage_ids = set().union(*(self.jobs[j]["stages"] for j in jobs)) if jobs else set()
        stages = [v for (sid, _), v in self.stages.items() if sid in stage_ids]
        tasks = [t for t in self.tasks if t["stage"] in stage_ids]
        task_s = sum(t["secs"] for t in tasks)
        busy = _union_length([(s["start"], s["end"]) for s in stages])
        return {
            "jobs": len(jobs),
            "stages": len(stages),
            "tasks": len(tasks),
            "task_s": task_s,
            "parallelism": task_s / busy if busy > 0 else 0.0,
            "shuffle_write_bytes": sum(t["shuffle_write"] for t in tasks),
            "spill_bytes": sum(t["spill"] for t in tasks),
            "gc_s": sum(t["gc"] for t in tasks),
        }


def _union_length(intervals) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total
