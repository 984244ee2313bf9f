"""Measurement helpers: spans, process memory and Spark's event log.

Spans are recorded by the benchmark around calls into the package's
public functions; nothing inside the package is instrumented. They are
kept in memory and written out once, when the run ends.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager


class Tracer:
    """In-memory spans: name, start, end, parent span and run id, on
    the monotonic clock."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.monotonic(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.monotonic()

    def seconds(self, name: str) -> float:
        """Total duration of the spans called ``name``."""
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"run_id": self.run_id, "spans": self.spans, **extra}, fh, indent=1)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue  # the process ended while we looked
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def tree_peak_rss_mb() -> float:
    """Sum of VmHWM (peak resident set) over this process and every
    process it started: the JVM and Spark's Python workers."""
    total_kb = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024


def eventlog_task_totals(log_dir: str, start_ms: float, end_ms: float) -> dict[str, float]:
    """Sum the task metrics of Spark's event log over the tasks that
    ran inside [start_ms, end_ms] (wall clock, epoch milliseconds)."""
    totals = {"shuffle_write_mb": 0.0, "spill_mb": 0.0, "task_s": 0.0, "gc_s": 0.0}
    # Spark 4 writes each application's log as a directory of rolled files
    paths = [os.path.join(d, f) for d, _, fs in os.walk(log_dir) for f in fs]
    for path in paths:
        with open(path) as fh:
            for line in fh:
                if '"SparkListenerTaskEnd"' not in line:
                    continue
                ev = json.loads(line)
                info, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
                if not (start_ms <= info.get("Launch Time", 0) and info.get("Finish Time", 0) <= end_ms):
                    continue
                totals["shuffle_write_mb"] += (
                    m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / 1e6
                )
                totals["spill_mb"] += (
                    m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                ) / 1e6
                totals["task_s"] += m.get("Executor Run Time", 0) / 1e3
                totals["gc_s"] += m.get("JVM GC Time", 0) / 1e3
    return totals
