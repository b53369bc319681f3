"""Measurement core: op records, percentiles, spans, Spark status-store
metrics, and the host/environment record.

Nothing here imports pyspark at module load, so the pure arithmetic
(percentiles, self time, schedules) is testable without a JVM.
"""

from __future__ import annotations

import math
import os
import platform
import sys
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

# ---------------------------------------------------------------- percentiles


def nearest_rank(n: int, p: float) -> int:
    """0-based index of the nearest-rank ``p``-th percentile of ``n`` sorted
    samples."""
    if n < 1:
        raise ValueError("no samples")
    return max(0, math.ceil(round(p * n / 100.0, 9)) - 1)


def beyond(n: int, p: float) -> int:
    """How many of ``n`` samples lie beyond the ``p``-th percentile."""
    return n - 1 - nearest_rank(n, p)


def rank_ops(ops: list["Op"]) -> list["Op"]:
    """Ops from fastest to slowest; a failed op ranks slower than every
    completed one, whatever its own elapsed time."""
    return sorted(ops, key=lambda o: (not o.ok, o.seconds))


def percentile(ops: list["Op"], p: float) -> float:
    """Latency at the ``p``-th percentile of ``ops`` with failures ranked
    slowest. If the rank lands on a failed op, its elapsed time (until it
    failed) is reported: the value stays finite, the rank stays honest."""
    ranked = rank_ops(ops)
    return ranked[nearest_rank(len(ranked), p)].seconds


def median_latency(ops: list["Op"]) -> float:
    """Median op latency with failures ranked slowest: the middle op, or
    the mean of the two middle ones. A failed op in the middle contributes
    its elapsed time."""
    ranked = rank_ops(ops)
    n = len(ranked)
    return 0.5 * (ranked[(n - 1) // 2].seconds + ranked[n // 2].seconds)


def tail_percentile(n: int, ladder=(99.9, 99.0, 90.0)) -> float | None:
    """The highest percentile in ``ladder`` with at least ten of ``n``
    samples beyond it, or None."""
    for p in ladder:
        if beyond(n, p) >= 10:
            return p
    return None


def median(values: list[float]) -> float:
    s = sorted(values)
    n = len(s)
    return s[n // 2] if n % 2 else 0.5 * (s[n // 2 - 1] + s[n // 2])


# ------------------------------------------------------------------------ ops


@dataclass
class Op:
    """One timed operation of a workload's closed loop."""

    op_id: int
    kind: str
    seconds: float = 0.0
    ok: bool = True
    error: str = ""
    traced: bool = False
    result: object = None


# ---------------------------------------------------------------------- spans


@dataclass
class Span:
    span_id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op_id: int | None = None
    spark: dict = field(default_factory=dict)

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append((s.start, s.end))
    return {
        s.span_id: (s.end - s.start) - covered(kids[s.span_id], s.start, s.end)
        for s in spans
    }


class Tracer:
    """Spans kept in memory. When disabled, ``span`` only yields.

    When enabled, each span also runs its Spark jobs under a job group
    named after the span id, so the status store can attribute jobs to
    the span after the timed region (``collect_spark``)."""

    def __init__(self, spark_context=None):
        self.sc = spark_context
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.op_id: int | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(
            len(self.spans),
            name,
            time.perf_counter(),
            parent=parent.span_id if parent else None,
            op_id=self.op_id,
        )
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(f"pb{s.span_id}")
        try:
            yield
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._set_group(f"pb{parent.span_id}" if parent else None)

    def span_cost_s(self, n: int = 200) -> float:
        """Measured cost of one empty span (enter, exit, job-group set and
        restore): the per-span overhead tracing adds inside timed ops."""
        enabled, stack, spans = self.enabled, self._stack, self.spans
        self.enabled, self._stack, self.spans = True, [], []
        t = time.perf_counter()
        for _ in range(n):
            with self.span("bench.empty"):
                pass
        cost = (time.perf_counter() - t) / n
        self.enabled, self._stack, self.spans = enabled, stack, spans
        return cost

    def _set_group(self, group: str | None) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty("spark.jobGroup.id", group)

    def collect_spark(self, spans: list[Span]) -> None:
        """Fill ``span.spark`` from the status store; call outside timing."""
        if self.sc is None:
            return
        for s in spans:
            s.spark = spark_group_metrics(self.sc, f"pb{s.span_id}")


# -------------------------------------------------------------- spark metrics

SPARK_FIELDS = (
    "jobs",
    "stages",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "input_bytes",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
)


def spark_group_metrics(sc, group: str) -> dict:
    """Jobs, stages, tasks and stage task metrics of one job group, read
    from ``statusTracker()`` and the JVM status store."""
    from py4j.protocol import Py4JJavaError

    out = dict.fromkeys(SPARK_FIELDS, 0)
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        out["jobs"] += 1
        for sid in info.stageIds if info else ():
            try:
                sd = store.lastStageAttempt(sid)
            except Py4JJavaError:  # skipped stage: never ran, no attempt stored
                continue
            if str(sd.status()) == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
            out["executor_run_s"] += sd.executorRunTime() / 1e3
            out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
            out["gc_s"] += sd.jvmGcTime() / 1e3
            out["input_bytes"] += sd.inputBytes()
            out["shuffle_read_bytes"] += sd.shuffleReadBytes()
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
    return out


# ---------------------------------------------------------------- environment


def calibration_s(n: int = 2_000_000) -> float:
    """Seconds for a fixed pure-Python loop: a host-speed probe. Recorded
    before and after each run, a slow reading marks an interfered run."""
    t = time.perf_counter()
    acc = 0
    for i in range(n):
        acc += i * i % 7
    return time.perf_counter() - t


def host_record() -> dict:
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg": load,
        "calibration_s": round(calibration_s(), 6),
    }


def versions() -> dict:
    import pyspark

    return {
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "platform": sys.platform,
    }


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (``VmHWM``) of a process, in MiB."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0
