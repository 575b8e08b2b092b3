"""The benchmark's workloads. Each one drives the package through its public
functions, times those calls, checks the outputs, and returns a ``Result``
with the same end-to-end metric names (their meaning per workload is in
README.md) plus, when traced, the per-layer counters.

- ``stream_live``: an open-loop generator writes one parquet file per 100 ms
  tick; the event-time window job reads it on a 100 ms trigger (tiny
  batches on a cadence).
- ``query_headline``: the seven ``headline=True`` registry queries, one
  client in a closed loop: cold pass, ``warm_cache``, an untimed pass, warm
  blocks.
"""

from __future__ import annotations

import bisect
import datetime as dt
import os
import random
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

from spans import Tracer

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")

# stream_live: open-loop rate, keys, tick (= trigger interval), warm-up bound.
LIVE_RATE = 10_000
LIVE_KEYS = 20
LIVE_TICK_US = 100_000
LIVE_WARMUP_BATCHES = 5
LIVE_WARMUP_MAX_S = 30.0
LIVE_MIN_WINDOWS = 100
LIVE_BACKLOG_GROWTH_FILES = 5

# query_headline
HEADLINE_SF = os.path.join(FIXTURES, "sf0.01")
HEADLINE_MIN_REPS = 4
WARM_CACHE_ARGS = dict(  # bench.py's partitioning of the pinned tables
    n_partitions=16,
    partition_counts={"region": 1, "nation": 1, "supplier": 1, "customer": 2, "part": 2, "events": 4},
    partition_keys={"lineitem": "l_orderkey", "orders": "o_orderkey", "events": "user_id"},
    drop_columns={"events": ("props",)},
)


@dataclass
class Result:
    """What a workload hands back to run.py."""

    prep_s: float  # the workload's own set-up, after session start
    cold_s: float
    work_per_s: float
    latencies_ms: list[float]  # the samples latency_p50_ms / latency_p90_ms are taken over
    attempted: int = 0
    failures: list[dict] = field(default_factory=list)
    layers: dict[str, float] = field(default_factory=dict)
    detail: dict = field(default_factory=dict)


class Ledger:
    """Counts operations; keeps every failure with its cause."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failures: list[dict] = []

    def check(self, op: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failures.append({"op": op, "error": "check", "detail": detail})

    @contextmanager
    def op(self, op: str):
        """One operation; an exception is recorded, not raised."""
        self.attempted += 1
        try:
            yield
        except Exception as e:  # noqa: BLE001 - every failure is counted and kept
            self.failures.append({"op": op, "error": type(e).__name__, "detail": str(e)[-400:]})


class ProgressLog(StreamingQueryListener):
    """Every StreamingQueryProgress, in arrival order."""

    def __init__(self) -> None:
        self.progress: list = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        with self._lock:
            self.progress.append(event.progress)

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    def take(self, keep: bool = False) -> list:
        with self._lock:
            out = list(self.progress)
            if not keep:
                self.progress = []
        return out


def _wait_listeners(spark) -> None:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def _progress_ms(p) -> float:
    return dt.datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp() * 1e3


def stream_layers(progress: list) -> dict[str, float]:
    """Per-batch means of the durationMs phases and of the state operator's
    updates and times; maxima of its sizes; the sum of rows it dropped."""
    n = len(progress)
    if not n:
        return {}

    def mean_phase(key: str) -> float:
        return sum((p.durationMs or {}).get(key, 0) for p in progress) / n

    ops = [op for p in progress for op in (p.stateOperators or [])]
    out = {
        "stream.batches": float(n),
        "stream.batch_ms_p50": float(statistics.median(p.batchDuration for p in progress)),
        "stream.latest_offset_ms": mean_phase("latestOffset"),
        "stream.get_batch_ms": mean_phase("getBatch"),
        "stream.query_planning_ms": mean_phase("queryPlanning"),
        "stream.wal_commit_ms": mean_phase("walCommit"),
        "stream.commit_offsets_ms": mean_phase("commitOffsets"),
        "stream.add_batch_ms": mean_phase("addBatch"),
    }
    if ops:
        out.update(
            {
                "state.rows_total": float(max(o.numRowsTotal for o in ops)),
                "state.rows_updated": sum(o.numRowsUpdated for o in ops) / n,
                "state.memory_bytes": float(max(o.memoryUsedBytes for o in ops)),
                "state.commit_ms": sum(o.commitTimeMs for o in ops) / n,
                "state.update_ms": sum(o.allUpdatesTimeMs for o in ops) / n,
                "state.rows_dropped_by_watermark": float(sum(o.numRowsDroppedByWatermark for o in ops)),
            }
        )
    return out


def _noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


# --------------------------------------------------------------------------
# stream_live


class LiveGenerator(threading.Thread):
    """Open-loop load generator: one parquet file per wall-clock tick, written
    to a hidden temp name and renamed into place (the file source never sees
    a partial file). Tick k covers [k, k+1) x tick; its events carry their
    creation times k*tick + j*spacing and round-robin over the keys. The file
    for tick k is due at (k+1) x tick; the generator never waits for the
    engine, and records how late each file landed. ``prime`` writes one tick
    ahead of the schedule, so the engine's first (cold) micro-batch can run
    before the open loop starts."""

    def __init__(self, out_dir: str, seed: int):
        super().__init__(name="live-generator", daemon=True)
        self.out_dir = out_dir
        self.tick_us = LIVE_TICK_US
        self.per_tick = LIVE_RATE * LIVE_TICK_US // 1_000_000
        self.spacing_us = LIVE_TICK_US // self.per_tick
        self.keys = [f"k{i:02d}" for i in range(LIVE_KEYS)]
        self.phase = random.Random(seed).random()
        self.ticks: list[int] = []  # ticks written, ascending
        self.written: list[tuple[float, int]] = []  # (landed epoch ms, cumulative rows)
        self.late_ms: list[float] = []
        self.error: BaseException | None = None
        self._halt = threading.Event()
        os.makedirs(out_dir, exist_ok=True)

    def last_event_us(self, window_end_us: int, key: str) -> int:
        """Creation time of ``key``'s last event in the window ending at
        ``window_end_us`` (exclusive)."""
        n, idx = len(self.keys), self.keys.index(key)
        j = idx + n * ((self.per_tick - 1 - idx) // n)
        return window_end_us - self.tick_us + j * self.spacing_us

    def expected_count(self, window_end_us: int, key: str) -> int:
        """Events of ``key`` in the sealed 1 s window ending at
        ``window_end_us`` (every tick in it was written)."""
        k0, k1 = (window_end_us - 1_000_000) // self.tick_us, window_end_us // self.tick_us
        n_ticks = bisect.bisect_left(self.ticks, k1) - bisect.bisect_left(self.ticks, k0)
        n, idx = len(self.keys), self.keys.index(key)
        return n_ticks * ((self.per_tick - 1 - idx) // n + 1)

    def _write(self, k: int) -> None:
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq

        j = np.arange(self.per_tick)
        ts = k * self.tick_us + j * self.spacing_us
        keys = np.array(self.keys)[j % len(self.keys)]
        values = np.sin(2 * np.pi * (ts / 1e6 + self.phase))
        table = pa.table(
            {
                "key": pa.array(keys, pa.string()),
                "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
                "value": pa.array(values, pa.float64()),
            }
        )
        tmp = os.path.join(self.out_dir, f".tick-{k}.parquet.tmp")
        pq.write_table(table, tmp)
        os.rename(tmp, os.path.join(self.out_dir, f"tick-{k:014d}.parquet"))
        self.ticks.append(k)
        rows = (self.written[-1][1] if self.written else 0) + self.per_tick
        self.written.append((time.time() * 1e3, rows))

    def _now_tick(self) -> int:
        return time.time_ns() // 1000 // self.tick_us

    def prime(self) -> None:
        self._write(self._now_tick())

    def run(self) -> None:
        try:
            k = max(self._now_tick(), self.ticks[-1] if self.ticks else 0) + 1
            while not self._halt.is_set():
                due_us = (k + 1) * self.tick_us
                wait = due_us / 1e6 - time.time()
                if wait > 0 and self._halt.wait(wait):
                    break
                self._write(k)
                self.late_ms.append(self.written[-1][0] - due_us / 1e3)
                k += 1
        except BaseException as e:  # noqa: BLE001 - surfaced by stop()
            self.error = e

    def stop(self) -> None:
        self._halt.set()
        if self.ident is not None:  # started
            self.join(timeout=30)
        if self.is_alive():
            raise RuntimeError("live generator did not stop")
        if self.error is not None:
            raise RuntimeError(f"live generator failed: {self.error!r}")

    def rows_by(self, t_ms: float) -> int:
        """Rows landed at or before epoch ms ``t_ms``."""
        rows = 0
        for landed, cum in self.written:
            if landed > t_ms:
                break
            rows = cum
        return rows


def backlog_files(gen: LiveGenerator, progress: list) -> list[tuple[float, float]]:
    """(batch start epoch ms, files landed but not yet consumed) per batch."""
    out, consumed = [], 0
    for p in progress:
        t = _progress_ms(p)
        out.append((t, (gen.rows_by(t) - consumed) / gen.per_tick))
        consumed += p.numInputRows
    return out


def check_live(gen: LiveGenerator, windows: list[tuple[str, int, int]]) -> list[tuple[str, str]]:
    """Failed checks over sealed windows (key, window end us, count): every
    count equals the closed form of what the generator wrote."""
    failed = []
    for key, end_us, n in windows:
        want = gen.expected_count(end_us, key)
        if n != want:
            failed.append((f"window {key}@{end_us}", f"{n} events, want {want}"))
    return failed


def stream_live(spark, tracer: Tracer, seed: int, seconds: float, work_dir: str, min_windows: int = LIVE_MIN_WINDOWS) -> Result:
    from timing_explorer_spark.streaming.metrics import nearest_rank
    from timing_explorer_spark.streaming.pipeline import event_time_windows, sensor_stream_from_files

    ledger = Ledger()
    gen = LiveGenerator(os.path.join(work_dir, "in"), seed)
    windows: list[tuple[str, int, int, float]] = []  # key, end us, count, received epoch ms
    sink_ms: list[float] = []
    live_span: list[int | None] = [None]

    def sink(batch_df, batch_id: int) -> None:
        t0 = time.perf_counter()
        with tracer.span("sink.foreach_batch", parent=live_span[0]):
            rows = batch_df.select(
                "key", (F.unix_micros("window_end_label") + 1000).alias("end_us"), "value"
            ).collect()
            received = time.time() * 1e3
            windows.extend((r["key"], r["end_us"], r["value"], received) for r in rows)
        sink_ms.append((time.perf_counter() - t0) * 1e3)

    log = ProgressLog()
    spark.streams.addListener(log)
    gen.prime()
    q = None
    try:
        t0 = time.monotonic()
        with tracer.span("stream.start"):
            q = (
                event_time_windows(sensor_stream_from_files(spark, gen.out_dir, max_files_per_trigger=None))
                .writeStream.foreachBatch(sink)
                .outputMode("append")
                .option("checkpointLocation", os.path.join(work_dir, "ckpt"))
                .trigger(processingTime=f"{LIVE_TICK_US // 1000} milliseconds")
                .start()
            )
        start_s = time.monotonic() - t0
        # Untimed warm-up. The first micro-batch (the primed tick) is cold;
        # the open loop starts once it is done, so no backlog builds up
        # behind it. Measure from the first batch, after a few warm ones,
        # that starts with less than a second of input waiting.
        deadline = time.monotonic() + LIVE_WARMUP_MAX_S
        while not log.take(keep=True) and time.monotonic() < deadline:
            time.sleep(0.05)
        gen.start()
        while time.monotonic() < deadline:
            time.sleep(0.2)
            backlog = backlog_files(gen, log.take(keep=True))
            if len(backlog) > LIVE_WARMUP_BATCHES and backlog[-1][1] * gen.tick_us < 1_000_000:
                break
        with tracer.span("stream.live", probe_exec=True, tag="live") as sid:
            live_span[0] = sid
            m0 = time.time() * 1e3
            sink_from = len(sink_ms)
            time.sleep(seconds)
            m1 = time.time() * 1e3
        if q.exception() is not None:
            raise RuntimeError(f"live query failed: {q.exception()}")
    finally:
        gen.stop()
        if q is not None:
            if q.exception() is None:
                q.processAllAvailable()  # stop between batches, not inside one
            q.stop()
        _wait_listeners(spark)
        spark.streams.removeListener(log)

    progress = log.take()
    if not progress:
        raise RuntimeError("live query completed no micro-batch")
    measured = [p for p in progress if m0 <= _progress_ms(p) < m1]
    samples = [
        received - gen.last_event_us(end_us, key) / 1e3
        for key, end_us, _, received in windows
        if m0 <= received < m1
    ]
    for op, msg in check_live(gen, [(k, e, n) for k, e, n, _ in windows]):
        ledger.failures.append({"op": op, "error": "check", "detail": msg})
    ledger.attempted += len(windows)
    ledger.check("windows", len(samples) >= min_windows, f"{len(samples)} sealed windows in the measured span, want >= {min_windows}")
    dropped = sum(o.numRowsDroppedByWatermark for p in progress for o in (p.stateOperators or []))
    ledger.check("watermark", dropped == 0, f"{dropped} rows dropped by the watermark")
    backlog = [b for t, b in backlog_files(gen, progress) if m0 <= t < m1]
    half = len(backlog) // 2
    growth = statistics.mean(backlog[half:]) - statistics.mean(backlog[:half]) if half else 0.0
    ledger.check("backlog", growth <= LIVE_BACKLOG_GROWTH_FILES, f"backlog grew by {growth:.1f} files")

    res = Result(
        prep_s=start_s,
        cold_s=progress[0].batchDuration / 1e3,
        work_per_s=sum(p.numInputRows for p in measured) / ((m1 - m0) / 1e3),
        latencies_ms=samples,
        attempted=ledger.attempted,
        failures=ledger.failures,
        detail={
            "windows_measured": len(samples),
            "batches_measured": len(measured),
            "gen_late_ms_max": max(gen.late_ms) if gen.late_ms else None,
            "backlog_growth_files": growth,
        },
    )
    if tracer.enabled:
        res.layers.update(stream_layers(measured))
        res.layers.update(tracer.exec_per_op("live", len(measured)))
        res.layers["sources.gen_late_ms_p99"] = nearest_rank(sorted(gen.late_ms), 0.99)
        res.layers["sink.foreach_batch_ms"] = statistics.mean(sink_ms[sink_from:]) if sink_ms[sink_from:] else 0.0
        res.layers["stream.backlog_files_end"] = backlog[-1] if backlog else 0.0
    return res


# --------------------------------------------------------------------------
# query_headline


def check_headline(name: str, df, oracle_sql: str, sf_dir: str) -> list[str]:
    """The query's canonical hash must equal its DuckDB oracle's."""
    import hashlib

    from timing_explorer_spark.testing import duckdb_canonical, duckdb_connection, spark_canonical

    def digest(cols_rows) -> str:
        cols, rows = cols_rows
        return hashlib.sha256(repr((cols, rows)).encode()).hexdigest()

    got = digest(spark_canonical(df))
    want = digest(duckdb_canonical(duckdb_connection(sf_dir), oracle_sql))
    return [] if got == want else [f"{name}: hash {got[:12]} != oracle {want[:12]}"]


def query_headline(spark, tracer: Tracer, seed: int, seconds: float, work_dir: str, sf_dir: str = HEADLINE_SF) -> Result:
    from timing_explorer_spark.plans import all_queries
    from timing_explorer_spark.sources.tables import warm_cache

    ledger = Ledger()
    specs = {n: s for n, s in all_queries().items() if s.headline}
    order = sorted(specs)
    random.Random(seed).shuffle(order)

    cold = 0.0
    for name in order:
        with ledger.op(f"{name}@cold"):
            t0 = time.monotonic()
            with tracer.span("plans.build", probe_exec=True, tag="build"):
                df = specs[name].build(spark, sf_dir)
            with tracer.span("exec.noop", probe_exec=True, tag="cold"):
                _noop(df)
            cold += time.monotonic() - t0

    t0 = time.monotonic()
    with tracer.span("sources.warm_cache"):
        warm_cache(spark, sf_dir, **WARM_CACHE_ARGS)
    prep = time.monotonic() - t0

    with tracer.span("plans.build"):
        plans = {name: specs[name].build(spark, sf_dir) for name in order}

    # Untimed: each query's first run over the cached tables compiles its
    # new plan, and the JIT keeps warming for a few runs after. Without this
    # pass the queries early in the seed's order read slower than late ones.
    for name in order:
        with ledger.op(f"{name}@warmup"), tracer.span("exec.noop"):
            _noop(plans[name])

    budget = seconds / len(order)
    medians, n_warm = {}, 0
    for name in order:
        runs: list[float] = []
        t_end, reps = time.monotonic() + budget, 0
        while time.monotonic() < t_end or reps < HEADLINE_MIN_REPS:
            reps += 1
            with ledger.op(name):
                t0 = time.monotonic()
                with tracer.span("exec.noop", probe_exec=True, tag="warm"):
                    _noop(plans[name])
                runs.append(time.monotonic() - t0)
        medians[name] = statistics.median(runs)
        n_warm += len(runs)

    for name in order:
        with tracer.span("check.oracle"):
            with ledger.op(f"{name}@oracle"):
                for msg in check_headline(name, plans[name], specs[name].oracle, sf_dir):
                    ledger.failures.append({"op": f"{name}@oracle", "error": "check", "detail": msg})

    res = Result(
        prep_s=prep,
        cold_s=cold,
        work_per_s=len(order) / sum(medians.values()),
        # One sample per query, its median: every query weighs the same,
        # however many repetitions fit its share of the time.
        latencies_ms=[m * 1e3 for m in medians.values()],
        attempted=ledger.attempted,
        failures=ledger.failures,
        detail={"order": order, "warm_median_s": medians, "warm_executions": n_warm},
    )
    if tracer.enabled:
        builds = [c for c in tracer.exec_calls if c["tag"] == "build"]
        res.layers["plans.build_s"] = sum(
            tracer.spans[c["span"]]["end"] - tracer.spans[c["span"]]["start"] for c in builds
        )
        res.layers["plans.build_jobs"] = float(sum(c.get("exec.jobs", 0.0) for c in builds))
        res.layers["sources.warm_cache_s"] = prep
        res.layers.update(tracer.exec_per_op("warm", n_warm))
    return res


WORKLOADS = {
    "stream_live": stream_live,
    "query_headline": query_headline,
}
