"""Streaming LOCF segments (streaming/stateful.py::twa_segments) against
the generator's closed-form time-weighted average."""

from __future__ import annotations


def test_streaming_twa_segments_match_closed_form(spark, tmp_path):
    """The streaming LOCF segment operator: segments tile the timeline per
    key exactly (sum dt == last_ts - first_ts, no overlaps), and the
    segment-weighted mean equals the closed-form TWA of the generator
    (every observation held exactly 100ms -> TWA == mean of all values
    except the final still-open one)."""
    from pyspark.sql import functions as F

    from timing_explorer_spark.streaming.pipeline import (
        sensor_stream_from_files,
        write_generator_files,
    )
    from timing_explorer_spark.streaming.stateful import twa_segments

    data = str(tmp_path / "in")
    write_generator_files(spark, data, n_events=300, files=6)
    q = (
        twa_segments(sensor_stream_from_files(spark, data))
        .writeStream.format("parquet")
        .outputMode("append")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    segs = spark.read.parquet(str(tmp_path / "out"))
    per_key = (
        segs.groupBy("key")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("dt_us").alias("span_us"),
            (
                F.sum(F.col("held_value") * F.col("dt_us")) / F.sum("dt_us")
            ).alias("twa"),
            F.min("seg_start").alias("t0"),
        )
        .collect()
    )
    assert {r["key"] for r in per_key} == {"temp", "pressure"}
    for r in per_key:
        # 300 events per key -> 299 closed segments of exactly 100ms
        assert r["n"] == 299
        assert r["span_us"] == 299 * 100_000
    # temp is the sawtooth: values cycle 0.0..0.9 every 10 events; 299 held
    # values = 29 full cycles (mean .45) + 9 more (0.0..0.8, mean 0.4)
    temp = {r["key"]: r["twa"] for r in per_key}["temp"]
    expected = (290 * 0.45 + 9 * 0.4) / 299
    assert abs(temp - expected) < 1e-9
