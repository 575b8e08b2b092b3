"""Late-data semantics — pinned behavior (r4 verdict directive #7).

The reference makes late data impossible BY CONSTRUCTION: its source is
in-order (TimestampSource.java:71-76) and the watermark assigner has zero
lag (SensorDataWatermarkAssigner.java:27-41), so "allowed lateness" never
matters there. This engine exposes a general streaming surface, so Spark's
actual late-data contract is pinned here (measured on pyspark 4.1):

- Watermark updates take effect with a one-trigger delay: a row below the
  NOMINAL watermark that arrives in the same trigger that seals its window
  can still be merged (Spark's watermark is a conservative lower bound,
  not an exact cutoff — the boundary trigger is deliberately not pinned
  here because its outcome is an implementation detail).
- Once a window's state has been evicted (sealed + emitted), a later row
  for it IS dropped at the aggregation input, counted in
  stateOperators[].numRowsDroppedByWatermark, and the window is NEVER
  re-fired: append-mode output carries each window label exactly once.
  There is no Flink-style allowed-lateness re-emission; Spark's only
  lateness knob is the watermark delay itself.
"""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from landing_util import land
from timing_explorer_spark.streaming.pipeline import (
    event_time_windows,
    sensor_stream_from_files,
)


def _write_batch(spark, path: str, rows: list[tuple[str, str, float]]) -> None:
    df = spark.createDataFrame(rows, ["key", "ts", "value"]).select(
        "key", F.col("ts").cast("timestamp").alias("ts"), "value"
    )
    # file-source batch order follows modification time
    land(path, lambda: df.coalesce(1).write.mode("append").parquet(path))


def test_late_row_after_seal_dropped_not_refired(spark, tmp_path):
    """A row arriving two triggers after its window was sealed+emitted is
    dropped (counted in numRowsDroppedByWatermark) and the window is not
    emitted a second time — exactly-once append output survives late data."""
    indir = str(tmp_path / "in")
    # trigger 0: in-order rows at 10s/11s        -> nominal wm after: 6.2s
    _write_batch(
        spark,
        indir,
        [("k", "2024-01-01 00:00:10.100", 1.0), ("k", "2024-01-01 00:00:11.200", 2.0)],
    )
    # trigger 1: 30s                             -> nominal wm after: 25s
    _write_batch(spark, indir, [("k", "2024-01-01 00:00:30.000", 3.0)])
    # trigger 2: 35s; effective wm 25s SEALS the 10s/11s windows (emitted,
    # state evicted)                             -> nominal wm after: 30s
    _write_batch(spark, indir, [("k", "2024-01-01 00:00:35.000", 5.0)])
    # trigger 3: LATE row 10.5s (its window sealed two triggers ago) + 50s
    # to keep the stream advancing               -> nominal wm after: 45s
    _write_batch(
        spark,
        indir,
        [("k", "2024-01-01 00:00:10.500", 9.0), ("k", "2024-01-01 00:00:50.000", 4.0)],
    )

    sensors = sensor_stream_from_files(spark, indir, max_files_per_trigger=1)
    out = event_time_windows(sensors, duration="1 second", watermark="5 seconds")
    q = (
        out.writeStream.format("parquet")
        .outputMode("append")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    dropped = 0
    for p in q.recentProgress:
        d = p if isinstance(p, dict) else json.loads(p.json)
        for op in d.get("stateOperators", []):
            dropped += op.get("numRowsDroppedByWatermark", 0)
    assert dropped == 1  # exactly the one late row, visible in the listener

    emitted = spark.read.parquet(str(tmp_path / "out")).collect()
    got = sorted((str(r["window_end_label"]), r["value"]) for r in emitted)
    # every sealed window exactly once; the late row did NOT re-fire
    # [10s, 11s) (count stays 1) and produced no duplicate label; the 50s
    # window is still open when the stream ends
    assert got == [
        ("2024-01-01 00:00:10.999000", 1),
        ("2024-01-01 00:00:11.999000", 1),
        ("2024-01-01 00:00:30.999000", 1),
        ("2024-01-01 00:00:35.999000", 1),
    ]
    labels = [w for w, _ in got]
    assert len(labels) == len(set(labels))  # append output: no re-fires
