"""Streaming SESSION windows — the window type the reference lacks
(SURVEY §2.2: tumbling only). Pins Spark's session_window contract on a
deterministic replayed stream:

- sessions merge across micro-batches (rows of one burst arriving in
  different triggers still coalesce into ONE session);
- append mode emits each sealed session exactly once, with its final
  merged extent;
- the streaming result equals the batch session_window over the same rows
  (incremental == recompute).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from landing_util import land
from timing_explorer_spark.streaming.pipeline import (
    sensor_stream_from_files,
    session_windows_stream,
)


def _write(spark, path, rows):
    df = spark.createDataFrame(rows, ["key", "ts", "value"]).select(
        "key", F.col("ts").cast("timestamp").alias("ts"), "value"
    )
    # file-source batch order follows modification time
    land(path, lambda: df.coalesce(1).write.mode("append").parquet(path))


def test_streaming_sessions_merge_and_match_batch(spark, tmp_path):
    indir, outdir = str(tmp_path / "in"), str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    # burst 1 (key a): 00..04s in two triggers -> ONE session 00..09s
    _write(spark, indir, [("a", "2024-01-01 00:00:00", 1.0),
                          ("a", "2024-01-01 00:00:02", 2.0)])
    _write(spark, indir, [("a", "2024-01-01 00:00:04", 3.0),
                          ("b", "2024-01-01 00:00:04", 10.0)])
    # gap > 5s then burst 2; the advancing watermark seals burst 1
    _write(spark, indir, [("a", "2024-01-01 00:00:30", 4.0)])
    # far-future row pushes the watermark past burst 2's end + gap
    _write(spark, indir, [("a", "2024-01-01 00:05:00", 5.0),
                          ("b", "2024-01-01 00:05:00", 50.0)])

    rows_df = spark.read.parquet(indir)
    stream = sensor_stream_from_files(spark, indir, max_files_per_trigger=1)
    q = (
        session_windows_stream(stream, gap="5 seconds")
        .writeStream.format("parquet")
        .option("path", outdir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        (r["key"], str(r["session_start"]), str(r["session_end"]),
         r["n_events"], r["value_sum"])
        for r in spark.read.parquet(outdir).collect()
    }
    # sealed sessions: everything whose end+gap <= final watermark (00:05:00)
    sealed = {
        ("a", "2024-01-01 00:00:00", "2024-01-01 00:00:09", 3, 6.0),
        ("b", "2024-01-01 00:00:04", "2024-01-01 00:00:09", 1, 10.0),
        ("a", "2024-01-01 00:00:30", "2024-01-01 00:00:35", 1, 4.0),
    }
    assert got == sealed  # exactly once, merged across triggers, final extent

    # batch recompute over the SAME rows agrees on every sealed session
    batch = {
        (r["key"], str(r["w"]["start"]), str(r["w"]["end"]),
         r["n"], r["s"])
        for r in rows_df.groupBy(
            "key", F.session_window("ts", "5 seconds").alias("w")
        )
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    assert sealed <= batch  # streaming == batch on sealed sessions
