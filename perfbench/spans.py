"""Spans around the benchmark's calls into each layer, plus the Spark-side
counters read after each call.

A span is (id, name, start, end, parent). The layer is the part of the name
before the first dot, named after the package's modules (``session``,
``sources``, ``plans``, ``stream``, ``sink``), after Spark's SQL engine
(``exec``), or after the benchmark's own work (``check``, ``bench``). Spans
are kept in memory and written once, at exit.

With ``enabled=False`` every method is a no-op that reads nothing from Spark,
so the untraced run measures the end-to-end metrics without the probes'
py4j round trips. The traced run of the same workload gives the per-layer
numbers; the difference between the two runs is the tracing overhead.
"""

from __future__ import annotations

import threading
import time
from collections import defaultdict
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

# Stage fields summed per call, read from Spark's status store
# (AppStatusStore.lastStageAttempt -> v1.StageData).
_STAGE_FIELDS = {
    "exec.task_run_ms": lambda s: s.executorRunTime(),
    "exec.task_cpu_ms": lambda s: s.executorCpuTime() / 1e6,
    "exec.gc_ms": lambda s: s.jvmGcTime(),
    "exec.shuffle_read_bytes": lambda s: s.shuffleReadBytes(),
    "exec.shuffle_write_bytes": lambda s: s.shuffleWriteBytes(),
    "exec.spill_bytes": lambda s: s.memoryBytesSpilled() + s.diskBytesSpilled(),
    "exec.tasks": lambda s: s.numTasks(),
}


def _epoch_ms(opt_date) -> float | None:
    return float(opt_date.get().getTime()) if opt_date.isDefined() else None


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


class ExecProbe:
    """Counts what Spark's SQL engine did between a mark and now: jobs,
    stages, tasks, task time, shuffle and spill bytes, time before the first
    job and time no stage was running."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._codegen = sc._jvm.org.apache.spark.metrics.source.CodegenMetrics
        self._codegen_ns = sc._jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

    def _drain(self) -> None:
        # The status store is fed asynchronously by the listener bus.
        self._jsc.listenerBus().waitUntilEmpty()

    def mark(self) -> int:
        """The newest job id so far."""
        self._drain()
        jobs = self._store.jobsList(None)  # newest first
        return jobs.head().jobId() if jobs.nonEmpty() else -1

    def delta(self, mark: int, t0: float, t1: float) -> dict[str, float]:
        """Counters for the jobs submitted after ``mark``; t0/t1 are the
        call's wall-clock bounds in epoch seconds."""
        self._drain()
        jobs = self._store.jobsList(None)
        out: dict[str, float] = defaultdict(float)
        first_submit = None
        stage_ids: set[int] = set()
        i, n = 0, jobs.size()
        while i < n:
            job = jobs.apply(i)
            if job.jobId() <= mark:
                break
            out["exec.jobs"] += 1
            sub = _epoch_ms(job.submissionTime())
            if sub is not None and (first_submit is None or sub < first_submit):
                first_submit = sub
            it = job.stageIds().iterator()
            while it.hasNext():
                stage_ids.add(int(it.next()))
            i += 1
        busy: list[tuple[float, float]] = []
        for sid in sorted(stage_ids):
            try:
                stage = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # a stage skipped before submission has no attempt
                continue
            if stage.status().toString() == "SKIPPED":
                continue
            out["exec.stages"] += 1
            for key, read in _STAGE_FIELDS.items():
                out[key] += float(read(stage))
            start = _epoch_ms(stage.submissionTime())
            if start is not None:
                end = _epoch_ms(stage.completionTime()) or t1 * 1e3
                busy.append((start, end))
        lo, hi = t0 * 1e3, t1 * 1e3
        out["exec.pre_job_ms"] = (first_submit - lo) if first_submit is not None else hi - lo
        out["exec.driver_gap_ms"] = (hi - lo) - covered(busy, lo, hi)
        return dict(out)

    def totals(self) -> dict[str, float]:
        """Process-wide codegen totals and the bytes cached in memory now."""
        return {
            "exec.codegen_compiles": float(self._codegen.METRIC_COMPILATION_TIME().getCount()),
            "exec.codegen_compile_ms": self._codegen_ns.compileTime() / 1e6,
            "exec.storage_mem_bytes": float(sum(r.memSize() for r in self._jsc.getRDDStorageInfo())),
        }


class Tracer:
    """In-memory span recorder. ``span`` nests per thread; a span opened on
    another thread (the foreachBatch callback) names its parent explicitly."""

    def __init__(self, spark=None, enabled: bool = False) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self.exec_calls: list[dict] = []  # one entry per probed call
        self.probe_s = 0.0  # time spent reading Spark's counters
        self._lock = threading.Lock()
        self._local = threading.local()
        self._probe = ExecProbe(spark) if enabled and spark is not None else None

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def add(self, name: str, start: float, end: float, parent: int | None = None) -> int:
        """Record a span measured elsewhere (e.g. session start)."""
        if not self.enabled:
            return -1
        with self._lock:
            sid = len(self.spans)
            self.spans.append(
                {"id": sid, "name": name, "start": start, "end": end, "parent": parent}
            )
        return sid

    @contextmanager
    def span(self, name: str, parent: int | None = None, probe_exec: bool = False, tag: str = ""):
        """Time the body as a span. ``probe_exec`` also records what Spark's
        SQL engine did during the body (exec_calls, tagged with ``tag``)."""
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = parent if parent is not None else (stack[-1] if stack else None)
        sid = self.add(name, 0.0, 0.0, parent)
        mark = None
        if probe_exec and self._probe is not None:
            p0 = time.perf_counter()
            mark = self._probe.mark()
            self.probe_s += time.perf_counter() - p0
        stack.append(sid)
        t0 = time.time()
        try:
            yield sid
        finally:
            t1 = time.time()
            stack.pop()
            self.spans[sid]["start"], self.spans[sid]["end"] = t0, t1
            if mark is not None:
                p0 = time.perf_counter()
                delta = self._probe.delta(mark, t0, t1)
                self.probe_s += time.perf_counter() - p0
                self.exec_calls.append({"span": sid, "tag": tag or name, **delta})

    def totals(self) -> dict[str, float]:
        return self._probe.totals() if self._probe is not None else {}

    def self_times(self) -> dict[str, float]:
        """Seconds per layer not covered by a child span."""
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append((s["start"], s["end"]))
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            own = (s["end"] - s["start"]) - covered(children[s["id"]], s["start"], s["end"])
            out[s["name"].split(".", 1)[0]] += own
        return dict(out)

    def exec_per_op(self, tag: str, n_ops: int) -> dict[str, float]:
        """exec counters of the probed calls tagged ``tag``, per operation."""
        calls = [c for c in self.exec_calls if c["tag"] == tag]
        keys = {k for c in calls for k in c if k.startswith("exec.")}
        return {k: sum(c.get(k, 0.0) for c in calls) / max(n_ops, 1) for k in keys}
