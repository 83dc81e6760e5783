"""Telemetry the benchmark reads from outside the program.

* :class:`Spans` — one span per public call the benchmark makes. Each
  span sets the Spark job group ``<workload>:<call>`` on the calling
  thread for its duration, and counts the jobs Spark's status tracker
  files under that group. Spans are kept in memory and handed to the
  event-log parser at the end of a traced run.
* :class:`StreamProgress` — a ``StreamingQueryListener`` keeping each
  micro-batch's ``addBatch`` / ``triggerExecution`` durations and input
  rows, and the run id of every query (Spark files the stream's own jobs
  under that id as their job group).
* :class:`MemoryWatch` — ``VmHWM`` (the kernel's resident-set
  high-water mark) of the driver JVM and the Python workers, read from
  ``/proc``.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql.streaming.listener import StreamingQueryListener


@dataclass
class Span:
    name: str  # the job group, "<workload>:<call>"
    start: float  # perf_counter seconds
    end: float
    wall_start_ms: float  # epoch milliseconds, for the event log
    wall_end_ms: float
    parent: int | None  # index of the enclosing span, if any
    jobs: int  # jobs the status tracker filed under this group


class Spans:
    def __init__(self, spark, workload: str):
        self.sc = spark.sparkContext
        self.workload = workload
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._seen: dict[str, set[int]] = {}

    @contextmanager
    def span(self, call: str):
        group = f"{self.workload}:{call}"
        prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
        prev_desc = self.sc.getLocalProperty("spark.job.description")
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(Span(group, 0.0, 0.0, 0.0, 0.0, parent, 0))
        self._stack.append(idx)
        self.sc.setJobGroup(group, group)
        wall0, t0 = time.time() * 1000.0, time.perf_counter()
        try:
            yield self.spans[idx]
        finally:
            t1, wall1 = time.perf_counter(), time.time() * 1000.0
            self._stack.pop()
            # restore the caller's group (None clears the property)
            self.sc.setLocalProperty("spark.jobGroup.id", prev_group)
            self.sc.setLocalProperty("spark.job.description", prev_desc)
            ids = set(self.sc.statusTracker().getJobIdsForGroup(group))
            seen = self._seen.setdefault(group, set())
            sp = self.spans[idx]
            sp.start, sp.end, sp.wall_start_ms, sp.wall_end_ms = t0, t1, wall0, wall1
            sp.jobs = len(ids - seen)
            seen |= ids

    def durations(self, call: str) -> list[float]:
        group = f"{self.workload}:{call}"
        return [s.end - s.start for s in self.spans if s.name == group]

    def jobs(self, call: str) -> list[int]:
        group = f"{self.workload}:{call}"
        return [s.jobs for s in self.spans if s.name == group]


class StreamProgress(StreamingQueryListener):
    """Per-micro-batch progress as the streaming engine reports it."""

    def __init__(self):
        self.batches: list[dict] = []
        self.run_ids: set[str] = set()
        self.terminated = 0

    def onQueryStarted(self, event):
        self.run_ids.add(str(event.runId))

    def onQueryProgress(self, event):
        p = event.progress
        if p.numInputRows == 0:
            return  # the availableNow drain's final empty trigger
        d = p.durationMs
        self.batches.append(
            {
                "batch_id": p.batchId,
                "rows": p.numInputRows,
                "add_batch_s": d.get("addBatch", 0) / 1000.0,
                "trigger_s": d.get("triggerExecution", 0) / 1000.0,
            }
        )

    def onQueryTerminated(self, event):
        self.terminated += 1

    def wait_terminated(self, n: int, timeout_s: float = 10.0) -> None:
        """Listener events arrive asynchronously; wait until ``n``
        queries have reported their end."""
        deadline = time.monotonic() + timeout_s
        while self.terminated < n and time.monotonic() < deadline:
            time.sleep(0.01)


def children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # the process ended while we listed
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


@dataclass
class MemoryWatch:
    """High-water RSS of the processes this one started: the JVM and,
    under it, the Python worker daemon and its workers. Each sample sums
    ``VmHWM`` over the live ones; the peak is the largest such sum. Sample
    after each operation, while the workers are alive."""

    peak_kb: int = 0

    def sample(self) -> None:
        kids = children()
        todo = list(kids.get(os.getpid(), []))
        total = 0
        while todo:
            pid = todo.pop()
            total += _vm_hwm_kb(pid)
            todo.extend(kids.get(pid, []))
        self.peak_kb = max(self.peak_kb, total)

    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0
