"""transformWithStateInPandas PseudoWindow: invariant, declarative parity,
and the WindowBootstrapper initial-state rehydration path.

The TWS Python runner needs protobuf, which this container lacks (no
installs, no network). compat.ensure_protobuf() activates the repo's
vendored minimal proto3 runtime (an original implementation of the public
wire format covering exactly the StateMessage subset —
timing_explorer_spark/_vendor/google/protobuf/internal/_runtime.py), so
these tests now RUN here: the Python worker speaks the live state-server
protocol with the JVM through the mini runtime in both directions. On a
standard cluster image the real protobuf is present and wins."""

from __future__ import annotations

import pytest

from timing_explorer_spark.compat import ensure_protobuf

try:
    ensure_protobuf()
    from google.protobuf import descriptor  # noqa: F401

    _HAS_PROTOBUF = True
except Exception:  # noqa: BLE001 — unexpected: the vendored runtime should load
    _HAS_PROTOBUF = False

pytestmark = pytest.mark.skipif(
    not _HAS_PROTOBUF,
    reason="transformWithStateInPandas requires protobuf "
    "(google.protobuf absent AND the vendored mini runtime failed to load)",
)
from pyspark.sql import functions as F

from timing_explorer_spark.streaming.pipeline import (
    sensor_stream_from_files,
    write_generator_files,
)

N_EVENTS = 300


def _run(spark, df, out, ckpt):
    q = (
        df.writeStream.format("parquet")
        .outputMode("append")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def test_tws_exactly_ten_and_parity(rocksdb_spark, tmp_path):
    from timing_explorer_spark.streaming.pipeline import event_time_windows
    from timing_explorer_spark.streaming.stateful_tws import pseudo_window_tws

    spark = rocksdb_spark
    data = str(tmp_path / "input")
    write_generator_files(spark, data, n_events=N_EVENTS, files=6)

    _run(spark, pseudo_window_tws(sensor_stream_from_files(spark, data)),
         str(tmp_path / "tws"), str(tmp_path / "ckpt_tws"))
    _run(spark, event_time_windows(sensor_stream_from_files(spark, data)),
         str(tmp_path / "decl"), str(tmp_path / "ckpt_decl"))

    tws = spark.read.parquet(str(tmp_path / "tws"))
    rows = tws.collect()
    assert rows, "TWS operator emitted nothing"
    for r in rows:
        assert r["value"] == 10, f"{r['key']} @ {r['window_end_label']}: {r['value']}"

    decl = spark.read.parquet(str(tmp_path / "decl")).select(
        "key", "window_end_label", F.col("value").cast("long").alias("value")
    )
    tws_n = tws.select("key", "window_end_label", F.col("value").cast("long").alias("value"))
    assert decl.exceptAll(tws_n).count() == 0
    assert tws_n.exceptAll(decl).count() == 0


def test_tws_initial_state_rehydration(rocksdb_spark, tmp_path):
    """WindowBootstrapper parity: seed per-key open windows offline, then
    stream the matching tail — rehydrated counts + new events must close the
    seeded window at exactly 10."""
    from timing_explorer_spark.streaming.stateful_tws import pseudo_window_tws

    spark = rocksdb_spark
    data = str(tmp_path / "input")
    # Events 5..N: the first window (ending at +999 ms) is missing its first
    # 5 events (0-4). Seed those 5 into initial state per key.
    write_generator_files(spark, data, n_events=N_EVENTS, files=6, first_event=5)

    import datetime as dt

    # Explicit UTC: the generator's start_ts parses in the (UTC) session tz,
    # and collected naive datetimes must be re-anchored the same way.
    first_end_ms = (
        int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp() * 1000) + 999
    )
    initial = spark.createDataFrame(
        [("temp", first_end_ms, 5), ("pressure", first_end_ms, 5)],
        "key string, window_end_ms long, count long",
    )
    _run(
        spark,
        pseudo_window_tws(sensor_stream_from_files(spark, data), initial_state=initial),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
    )
    rows = spark.read.parquet(str(tmp_path / "out")).collect()
    assert rows
    for r in rows:
        assert r["value"] == 10, f"{r['key']} @ {r['window_end_label']}: {r['value']}"
    # The seeded window itself must have been emitted complete.
    seeded = [
        r
        for r in rows
        if int(r["window_end_label"].replace(tzinfo=dt.timezone.utc).timestamp() * 1000)
        == first_end_ms
    ]
    assert len(seeded) == 2, f"seeded window not closed: {seeded}"


def test_tws_state_reader_open_windows(rocksdb_spark, tmp_path):
    """PseudoWindowReaderFunction parity on the TWS operator: after a run
    whose final window the 0-lag watermark holds open, the statestore reader
    decodes the 'windows' MapState to exactly that open (key, end, count)
    entry per key — the offline savepoint-scan view (ChangeBackend.java:48-69)."""
    from timing_explorer_spark.streaming.stateful_tws import (
        pseudo_window_tws,
        read_tws_window_state,
    )

    spark = rocksdb_spark
    data = str(tmp_path / "input")
    # 95 events/key at 100 ms -> windows 0..8 close; window 9 holds 5 events
    write_generator_files(spark, data, n_events=95, files=2)
    _run(
        spark,
        pseudo_window_tws(sensor_stream_from_files(spark, data)),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
    )
    state = read_tws_window_state(spark, str(tmp_path / "ckpt")).collect()
    got = {(r["key"], str(r["window_end_label"]), r["count"]) for r in state}
    assert got == {
        ("temp", "2024-01-01 00:00:09.999000", 5),
        ("pressure", "2024-01-01 00:00:09.999000", 5),
    }


def test_tws_proctime_conserves_counts(rocksdb_spark, tmp_path):
    """Processing-time PseudoWindow on TWS runtime timers
    (PseudoWindow.java:79-90, timeMode=processingTime): window assignment is
    non-deterministic by design, the per-key total is conserved once the
    stream idles past the last armed timer."""
    import time

    from timing_explorer_spark.streaming.stateful_tws import pseudo_window_tws_proctime

    spark = rocksdb_spark
    data = str(tmp_path / "input")
    write_generator_files(spark, data, n_events=100, files=2)
    q = (
        pseudo_window_tws_proctime(
            sensor_stream_from_files(spark, data), duration_ms=300
        )
        .writeStream.format("parquet")
        .outputMode("append")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 90
        total = 0
        while time.time() < deadline:
            time.sleep(1.0)
            try:
                total = (
                    spark.read.parquet(str(tmp_path / "out"))
                    .agg(F.sum("value").alias("s"))
                    .collect()[0]["s"]
                ) or 0
            except Exception:
                total = 0  # no sink files yet
            if total == 200:  # 100 events x 2 keys, every one emitted once
                break
        assert total == 200
    finally:
        q.stop()
