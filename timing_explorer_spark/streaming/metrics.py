"""Observability — the Spark analog of the reference's metrics story.

Reference (SURVEY §4.2 metrics row): a ``datapoints`` counter
(SawtoothFunction.java:65-69), an ``eventTimeLag`` histogram = now − eventTs
at the sink (InfluxDBSink.java:38-39,52-53,75), and Flink latency tracking.

Spark-first replacements:
 - counters  -> df.observe("name", count(...)) named observations, reported
   per micro-batch in QueryProgressEvent.observedMetrics
 - lag       -> watermark / max-event-time vs wall clock from each progress
   event (same signal the histogram approximated)
 - latency   -> batchDuration + durationMs breakdown per progress event

The reference disabled operator chaining for per-operator visibility
(TimingExplorer.java:115) — an anti-optimization we do NOT port; Spark keeps
whole-stage codegen and exposes metrics through the listener instead.
"""

from __future__ import annotations

import datetime as _dt
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

from .pipeline import event_time_windows


def observed(df: DataFrame, name: str = "datapoints") -> DataFrame:
    """Attach the reference's 'datapoints' counter as a named observation."""
    return df.observe(name, F.count(F.lit(1)).alias("n"))


def event_time_lag(ts: Column) -> Column:
    """Per-row lag expression (now − event time, ms) — the sink-side metric
    InfluxDBSink keeps a histogram of."""
    return (F.unix_millis(F.current_timestamp()) - F.unix_millis(ts)).alias("event_time_lag_ms")


class StreamingMetricsListener(StreamingQueryListener):
    """Collects per-batch progress: input rows/s, batch duration, watermark,
    max event time, observed metrics. A cluster deployment would forward
    these to its metrics system; tests assert on the recorded dicts."""

    def __init__(self) -> None:
        self.progress: list[dict[str, Any]] = []

    # -- StreamingQueryListener interface -------------------------------
    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        rec: dict[str, Any] = {
            "id": str(p.id),
            "batchId": p.batchId,
            "numInputRows": p.numInputRows,
            "inputRowsPerSecond": p.inputRowsPerSecond,
            "batchDurationMs": p.batchDuration,
            "observedMetrics": {k: v.asDict() for k, v in (p.observedMetrics or {}).items()},
            "recordedAt": _dt.datetime.now(_dt.timezone.utc).isoformat(),
        }
        et = p.eventTime or {}
        rec["watermark"] = et.get("watermark")
        rec["maxEventTime"] = et.get("max")
        self.progress.append(rec)

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    # -- convenience ----------------------------------------------------
    def total_input_rows(self) -> int:
        return sum(r["numInputRows"] for r in self.progress)

    def observed_total(self, metric: str = "datapoints", field: str = "n") -> int:
        return sum(
            r["observedMetrics"][metric][field]
            for r in self.progress
            if metric in r["observedMetrics"]
        )


def prometheus_metrics_conf(ui_port: int = 4040) -> dict[str, str]:
    """Session build-time confs that expose engine metrics in Prometheus
    exposition format at ``http://<driver>:<ui_port>/metrics/prometheus`` —
    the reference's Prometheus reporter analog (flink-conf.yaml:26-28
    exposes ports 9250-9260 for Grafana/Prometheus scraping; Spark's
    built-in PrometheusServlet serves the same role from the driver UI).
    ``spark.sql.streaming.metricsEnabled`` additionally publishes per-query
    streaming gauges (input rate, processing rate, state rows, watermark
    lag) into the same registry. Must be set BEFORE the session is created
    (metrics system initializes with the SparkContext)."""
    return {
        "spark.ui.enabled": "true",
        "spark.ui.port": str(ui_port),
        "spark.metrics.conf.*.sink.prometheusServlet.class": (
            "org.apache.spark.metrics.sink.PrometheusServlet"
        ),
        "spark.metrics.conf.*.sink.prometheusServlet.path": "/metrics/prometheus",
        "spark.sql.streaming.metricsEnabled": "true",
    }


def live_rate_windows(spark, rows_per_second: int) -> DataFrame:
    """The reference pipeline shape driven by a LIVE wall-clock source: the
    ``rate`` source stamps each row with its generation time, so event time
    is real wall time and sink-side event-time lag is a real latency. Keys
    round-robin like AssignKeyFunction's two generator instances."""
    from ..session import ensure_confs

    ensure_confs(spark)
    base = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()
        .select(
            F.col("timestamp").alias("ts"),
            F.concat(F.lit("key-"), (F.col("value") % 2)).alias("key"),
        )
    )
    return event_time_windows(base)


def nearest_rank(sorted_vals: list[float], p: float) -> float | None:
    """Nearest-rank percentile over an already-sorted sample: the value at
    rank ceil(p*n) (1-based) — p50 of 2 samples is the FIRST, not the max."""
    import math

    if not sorted_vals:
        return None
    return sorted_vals[min(len(sorted_vals) - 1, max(0, math.ceil(p * len(sorted_vals)) - 1))]


def measure_event_time_lag(
    spark,
    rows_per_second: int,
    run_seconds: float = 12.0,
    trigger_ms: int = 500,
    settle_seconds: float = 0.0,
) -> dict[str, Any]:
    """Drive the live-rate pipeline for ``run_seconds`` and collect the
    reference's core metric — sink-side event-time lag (now − window label
    at the moment the sink receives the row; InfluxDBSink.java:38-39,52-53
    keeps exactly this histogram) — returning p50/p95/p99/max in ms.

    The lag is computed INSIDE the batch (event_time_lag expression, JVM
    clock) so host-vs-session timezone can't skew it; the sealed-window
    output is #keys rows per second, so the driver-side collect is bounded
    regardless of input rate.

    ``settle_seconds`` (r13, load-normalization): drop lag samples whose
    batch arrived during the first N seconds of the run — the first batches
    pay one-off codegen + state-store open that a resident streaming job
    amortizes over its lifetime, and with only ~run_seconds windows in the
    sample those transients dominate every percentile. Default 0 keeps the
    original (transient-inclusive) reading.

    The returned dict also carries the mean/max micro-batch duration from
    the query's progress events: the structural lag floor is
    ~window_size + trigger + batch time, so these let a reader separate
    scheduling load (batch time) from pipeline latency."""
    import shutil
    import tempfile
    import time as _time

    lags: list[float] = []
    t_start = _time.monotonic()

    def sink(batch_df: DataFrame, _bid: int) -> None:
        settled = (_time.monotonic() - t_start) >= settle_seconds
        for r in batch_df.select(
            event_time_lag(F.col("window_end_label"))
        ).collect():
            if settled:
                lags.append(float(r["event_time_lag_ms"]))

    ckpt = tempfile.mkdtemp(prefix="lag-bench-ckpt-")
    q = (
        live_rate_windows(spark, rows_per_second)
        .writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(processingTime=f"{trigger_ms} milliseconds")
        .start()
    )
    batch_ms: list[float] = []
    try:
        t_start = _time.monotonic()
        _time.sleep(run_seconds)
    finally:
        try:
            batch_ms = [
                float(p.batchDuration)
                for p in (q.recentProgress or [])
                if p is not None and p.batchDuration is not None
            ]
        except Exception:
            batch_ms = []
        q.stop()
        q.awaitTermination()
        shutil.rmtree(ckpt, ignore_errors=True)
    lags.sort()

    def pct(p: float) -> float | None:
        v = nearest_rank(lags, p)
        return None if v is None else round(v, 1)

    out = {
        "rows_per_second": rows_per_second,
        "run_seconds": run_seconds,
        "trigger_ms": trigger_ms,
        "windows_observed": len(lags),
        "p50_ms": pct(0.50),
        "p95_ms": pct(0.95),
        "p99_ms": pct(0.99),
        "max_ms": round(lags[-1], 1) if lags else None,
        # load context (r13): lag floor ≈ 1000 (window seal) + trigger +
        # batch time; mean/max batch time tells a reader how much of the
        # percentile is host load rather than pipeline shape.
        "mean_batch_ms": round(sum(batch_ms) / len(batch_ms), 1) if batch_ms else None,
        "max_batch_ms": round(max(batch_ms), 1) if batch_ms else None,
    }
    if settle_seconds:
        out["settle_seconds"] = settle_seconds
    return out
