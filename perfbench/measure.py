"""Measurement helpers: spans, percentiles, process-tree CPU, and
Spark's own counters.

Nothing here imports pyspark at module level, so the unit tests run
without a JVM. Spark counters are read through the session's status
store *after* the timed window closes; the only thing done inside the
window is tagging each operation's jobs with a job group (a thread-local
property, nothing scheduled).
"""

from __future__ import annotations

import math
import os
import time
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass


# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    op: int | None  # the operation (request) the span belongs to
    start: float
    end: float = math.nan

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_time(span: Span, children: list[Span]) -> float:
    """The span's duration minus the part of its interval that its child
    spans cover (overlapping children are counted once)."""
    covered = 0.0
    reach = span.start
    for c in sorted(children, key=lambda s: s.start):
        lo, hi = max(c.start, reach), min(c.end, span.end)
        if hi > lo:
            covered += hi - lo
            reach = hi
    return span.duration - covered


class Tracer:
    """In-memory span recorder. Disabled, :meth:`span` returns a shared
    no-op context, so untraced runs pay one attribute test per call."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._noop = nullcontext()

    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            return self._noop
        return self._span(name, op)

    @contextmanager
    def _span(self, name: str, op: int | None):
        parent = self._stack[-1] if self._stack else None
        s = Span(
            sid=len(self.spans),
            name=name,
            parent=parent.sid if parent else None,
            op=op if op is not None else (parent.op if parent else None),
            start=time.perf_counter(),
        )
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[int, float]:
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        return {s.sid: self_time(s, kids.get(s.sid, [])) for s in self.spans}

    def layer_self_seconds(self) -> dict[str, float]:
        """Summed self time per span name."""
        out: dict[str, float] = {}
        st = self.self_times()
        for s in self.spans:
            out[s.name] = out.get(s.name, 0.0) + st[s.sid]
        return out

    def to_json(self) -> list[dict]:
        st = self.self_times()
        return [
            {
                "id": s.sid, "name": s.name, "parent": s.parent, "op": s.op,
                "start": s.start, "end": s.end, "self_s": st[s.sid],
            }
            for s in self.spans
        ]


# ---------------------------------------------------------------------------
# Latency statistics
# ---------------------------------------------------------------------------


def tail_percentile(values: list[float], beyond: int = 10) -> tuple[float, int]:
    """The highest whole percentile with at least ``beyond`` samples above
    it, by the nearest-rank rule. Returns (value, percentile)."""
    n = len(values)
    if n <= beyond:
        raise ValueError(f"{n} samples: a tail needs more than {beyond}")
    p = 100 * (n - beyond) // n
    rank = -(-p * n // 100)  # ceil(p * n / 100), the nearest rank
    return sorted(values)[max(rank, 1) - 1], p


# ---------------------------------------------------------------------------
# Process tree: CPU of this process and every
# descendant (the JVM and the Python workers it forks)
# ---------------------------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended while we listed
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def process_tree(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def running(pid: int) -> bool:
    """Whether ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def tree_cpu_seconds() -> float:
    """User+system CPU of the tree, including reaped children's time."""
    total = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[11..14] = utime, stime, cutime, cstime
        total += sum(int(x) for x in fields[11:15])
    return total / _TICK


# ---------------------------------------------------------------------------
# Spark counters
# ---------------------------------------------------------------------------


@dataclass
class JobStats:
    jobs: int = 0
    tasks: int = 0
    exec_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    output_records: int = 0
    output_bytes: int = 0
    scan_stages: int = 0
    first_submit_ms: int | None = None

    def add(self, other: "JobStats") -> None:
        for k in ("jobs", "tasks", "exec_cpu_s", "gc_s",
                  "shuffle_bytes", "spill_bytes", "output_records", "output_bytes",
                  "scan_stages"):
            setattr(self, k, getattr(self, k) + getattr(other, k))


class SparkCounters:
    """Reads job, stage and codegen counters from the JVM."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self._codegen = (
            self.sc._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        )

    def codegen_compiles(self) -> int:
        return int(self._codegen.getCount())

    def settle(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status store holds the finished jobs' metrics."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def _has_file_scan(self, stage_id: int) -> bool:
        graph = self.store.operationGraphForStage(stage_id)
        todo = [graph.rootCluster()]
        while todo:
            cluster = todo.pop()
            if "Scan parquet" in cluster.name():
                return True
            it = cluster.childClusters().iterator()
            while it.hasNext():
                todo.append(it.next())
        return False

    def group(self, group: str, scans: bool = False) -> JobStats:
        """Totals over every job tagged with ``group``; skipped stages
        (shuffle output reused) have no metrics and are not counted."""
        out = JobStats()
        for job_id in self.sc.statusTracker().getJobIdsForGroup(group):
            job = self.store.job(job_id)
            out.jobs += 1
            submitted = job.submissionTime()
            if submitted.isDefined():
                ms = submitted.get().getTime()
                out.first_submit_ms = ms if out.first_submit_ms is None else min(out.first_submit_ms, ms)
            it = job.stageIds().iterator()
            while it.hasNext():
                sid = it.next()
                sd = self.store.lastStageAttempt(sid)
                if sd.status().toString() == "SKIPPED":
                    continue
                out.tasks += sd.numTasks()
                out.exec_cpu_s += sd.executorCpuTime() / 1e9
                out.gc_s += sd.jvmGcTime() / 1e3
                out.shuffle_bytes += sd.shuffleWriteBytes()
                out.spill_bytes += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                out.output_records += sd.outputRecords()
                out.output_bytes += sd.outputBytes()
                if scans and self._has_file_scan(sid):
                    out.scan_stages += 1
        return out
