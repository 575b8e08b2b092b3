"""Streaming ingest-dedup semantics — pinned behavior of
streaming/pipeline.py::dedup_stream.

The reference has no dedup operator (its source emits each event exactly
once by construction); an LLM-ingest surface needs one, and Spark offers two
with different state contracts. Pinned here, measured on pyspark 4.1:

- ``dropDuplicatesWithinWatermark``: duplicates whose event times fall
  within the watermark horizon are dropped (first arrival wins, emitted
  immediately — dedup is not an aggregation, so append mode emits on
  arrival). Once the watermark passes a key's event time + delay its
  fingerprint state is EVICTED, and a later duplicate of that key is
  re-emitted. Bounded state <-> at-least-once dedup: the 100 TB trade.
- ``dropDuplicates``: exact dedup forever, state never evicted — a later
  duplicate is still dropped, but state grows with distinct keys without
  bound (backfill-only mode).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from landing_util import land
from timing_explorer_spark.streaming.pipeline import dedup_stream, sensor_stream_from_files


def _write_batch(spark, path: str, rows: list[tuple[str, str, float]]) -> None:
    df = spark.createDataFrame(rows, ["key", "ts", "value"]).select(
        "key", F.col("ts").cast("timestamp").alias("ts"), "value"
    )
    # file-source batch order follows modification time
    land(path, lambda: df.coalesce(1).write.mode("append").parquet(path))


def _run(spark, indir: str, outdir: str, ckpt: str, bounded_state: bool) -> list:
    sensors = sensor_stream_from_files(spark, indir, max_files_per_trigger=1)
    out = dedup_stream(
        sensors, keys=("key",), watermark="5 seconds", bounded_state=bounded_state
    )
    q = (
        out.writeStream.format("parquet")
        .outputMode("append")
        .option("path", outdir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return sorted(
        spark.read.parquet(outdir).collect(), key=lambda r: (r["ts"], r["key"])
    )


def _feed(spark, indir: str) -> None:
    # trigger 0: first arrival of 'a' + an in-horizon duplicate of it
    _write_batch(
        spark,
        indir,
        [("a", "2024-01-01 00:00:10.000", 1.0), ("a", "2024-01-01 00:00:10.000", 1.0)],
    )
    # trigger 1: another duplicate of 'a', still inside the horizon
    _write_batch(spark, indir, [("a", "2024-01-01 00:00:12.000", 7.0)])
    # trigger 2: stream jumps far ahead -> nominal wm 95s
    _write_batch(spark, indir, [("x", "2024-01-01 00:01:40.000", 2.0)])
    # trigger 3: keeps wm advancing (effective wm now 95s — 'a' state,
    # live only to 10s+5s, is evicted)
    _write_batch(spark, indir, [("y", "2024-01-01 00:01:50.000", 3.0)])
    # trigger 4: 'a' again, NOT late (111s > wm), but long past eviction
    _write_batch(spark, indir, [("a", "2024-01-01 00:01:51.000", 9.0)])


def test_within_watermark_dedups_then_reemits_after_eviction(spark, tmp_path):
    _feed(spark, str(tmp_path / "in"))
    rows = _run(
        spark,
        str(tmp_path / "in"),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
        bounded_state=True,
    )
    keys = [r["key"] for r in rows]
    values = [r["value"] for r in rows]
    # duplicates inside the horizon collapsed to the FIRST arrival...
    assert keys == ["a", "x", "y", "a"]
    assert values[0] == 1.0  # trigger-0 first arrival won; 7.0 was dropped
    # ...and the post-eviction duplicate re-emitted: bounded state is
    # at-least-once dedup, by contract.
    assert values[-1] == 9.0


def test_unbounded_dropduplicates_never_reemits(spark, tmp_path):
    _feed(spark, str(tmp_path / "in"))
    rows = _run(
        spark,
        str(tmp_path / "in"),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
        bounded_state=False,
    )
    keys = [r["key"] for r in rows]
    # every later 'a' (in-horizon AND post-horizon) dropped: exact dedup,
    # unbounded state
    assert keys == ["a", "x", "y"]
    assert rows[0]["value"] == 1.0
