"""Traced-run plumbing: spans and per-layer readers.

Everything here reads the engine from outside, through public Spark
surfaces: a ``StreamingQueryListener`` for per-batch progress, the
``StatusTracker`` under a per-job job group for job/stage/task counts,
the JVM's GarbageCollector MXBeans for GC time, and ``/proc`` for the
CPU time of the driver JVM and of the PySpark daemon and its workers.
None of it is attached in an untraced run.
"""

from __future__ import annotations

import os
import threading
import time
from dataclasses import asdict, dataclass, field

from pyspark.sql.streaming import StreamingQueryListener

_TICK = os.sysconf("SC_CLK_TCK")


@dataclass
class Span:
    """One timed call; a context manager that stamps start and end."""

    name: str
    job: int
    parent: str | None = None
    start: float = 0.0
    end: float = 0.0

    def __enter__(self) -> "Span":
        self.start = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.end = time.perf_counter()

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class Spans:
    """In-memory span log; written out once, when the run ends."""

    items: list[Span] = field(default_factory=list)

    def span(self, name: str, job: int, parent: str | None = None) -> Span:
        self.items.append(Span(name, job, parent))
        return self.items[-1]

    def as_dicts(self) -> list[dict]:
        return [asdict(s) for s in self.items]


class ProgressLog(StreamingQueryListener):
    """Per-batch progress of every streaming query, keyed by run id.
    Callbacks arrive on the listener bus thread; readers use the lock."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.started: list[str] = []
        self.terminated: set[str] = set()
        self.batches: list[dict] = []

    def onQueryStarted(self, event) -> None:  # noqa: N802 (Spark API)
        with self._lock:
            self.started.append(str(event.runId))

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        ops = [
            {
                "rows_total": o.numRowsTotal,
                "rows_updated": o.numRowsUpdated,
                "rows_removed": o.numRowsRemoved,
                "bytes": o.memoryUsedBytes,
                "late": o.numRowsDroppedByWatermark,
                "update_ms": o.allUpdatesTimeMs + o.allRemovalsTimeMs,
                "commit_ms": o.commitTimeMs,
            }
            for o in p.stateOperators
        ]
        with self._lock:
            self.batches.append(
                {
                    "run": str(p.runId),
                    "batch": p.batchId,
                    "input_rows": p.numInputRows,
                    "output_rows": p.sink.numOutputRows,
                    "duration_ms": dict(p.durationMs),
                    "state": ops,
                }
            )

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        with self._lock:
            self.terminated.add(str(event.runId))

    def take(self, timeout: float = 30.0) -> tuple[list[str], list[dict]]:
        """Wait until every started query has reported termination, then
        return and forget (run ids, batches) seen since the last take."""
        deadline = time.monotonic() + timeout
        while True:
            with self._lock:
                if set(self.started) <= self.terminated or time.monotonic() > deadline:
                    runs, batches = self.started, self.batches
                    self.started, self.batches = [], []
                    self.terminated -= set(runs)
                    return runs, batches
            time.sleep(0.01)


def _proc_cpu(pid: int, children: bool = False) -> float:
    """utime+stime (and reaped children's, if asked) of one process, s."""
    with open(f"/proc/{pid}/stat") as fh:
        f = fh.read().rsplit(")", 1)[1].split()
    ticks = int(f[11]) + int(f[12])
    if children:
        ticks += int(f[13]) + int(f[14])
    return ticks / _TICK


def _children(pid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                if int(fh.read().rsplit(")", 1)[1].split()[1]) == pid:
                    out.append(int(d))
        except (OSError, IndexError, ValueError):
            continue
    return out


class ProcessCpu:
    """CPU seconds of the driver JVM and of the PySpark daemon tree."""

    def __init__(self, jvm_pid: int) -> None:
        self.jvm_pid = jvm_pid

    def jvm_s(self) -> float:
        return _proc_cpu(self.jvm_pid)

    def python_workers_s(self) -> float:
        total = 0.0
        for daemon in _children(self.jvm_pid):
            try:
                with open(f"/proc/{daemon}/cmdline", "rb") as fh:
                    if b"pyspark" not in fh.read():
                        continue
                total += _proc_cpu(daemon, children=True)
                for worker in _children(daemon):
                    total += _proc_cpu(worker)
            except OSError:
                continue  # a worker exited between listing and reading
        return total


def gc_ms(jvm) -> float:
    beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return float(sum(b.getCollectionTime() for b in beans))


def job_counts(sc, groups: list[str]) -> tuple[int, int, int]:
    """(jobs, stages, tasks) run under the given job groups."""
    st = sc.statusTracker()
    jobs = stages = tasks = 0
    for g in groups:
        for j in st.getJobIdsForGroup(g):
            info = st.getJobInfo(j)
            if info is None:
                continue
            jobs += 1
            for s in info.stageIds:
                sinfo = st.getStageInfo(s)
                if sinfo is not None:
                    stages += 1
                    tasks += sinfo.numTasks
    return jobs, stages, tasks
