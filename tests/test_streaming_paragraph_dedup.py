"""Streaming paragraph-grain dedup (streaming/paragraph_dedup.py):

  - replay parity: streamed per-doc kept-paragraph counts == a greedy
    first-arrival-wins sweep over the same paragraph hashes in ts order
  - the CCNet shared-footer scenario: later docs shed the footer, a full
    duplicate emits NO verdict row
  - bounded state: a paragraph re-arriving after the watermark horizon is
    fresh again (fingerprint evicted — the dedup_stream contract)
"""

from __future__ import annotations

from pyspark.sql import functions as F

from landing_util import land
from timing_explorer_spark.streaming.paragraph_dedup import paragraph_dedup_stream


def _run_stream(spark, tmp_path, batches, watermark="10 minutes"):
    indir, outdir, ckpt = (
        str(tmp_path / "in"),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
    )
    for rows in batches:
        df = spark.createDataFrame(rows, "doc_id long, ts string, text string").select(
            "doc_id", F.col("ts").cast("timestamp").alias("ts"), "text"
        )
        # file-source batch order follows modification time
        land(indir, lambda: df.coalesce(1).write.mode("append").parquet(indir))
    stream = (
        spark.readStream.schema("doc_id long, ts timestamp, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(indir)
    )
    out = paragraph_dedup_stream(stream, watermark=watermark)
    q = (
        out.writeStream.format("parquet")
        .outputMode("append")
        .option("path", outdir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return {r["doc"]: r for r in spark.read.parquet(outdir).collect()}


def _greedy_expected(rows):
    """First-arrival-wins on paragraph content, in ts order: doc -> kept."""
    seen: set = set()
    out = {}
    for doc_id, _ts, text in sorted(rows, key=lambda r: (r[1], r[0])):
        paras = text.split("\n")
        fresh = [p for p in paras if p not in seen]
        # within-doc repeats keep one copy, like the batch operator
        fresh = list(dict.fromkeys(fresh))
        seen.update(fresh)
        out[doc_id] = (len(paras), len(fresh))
    return out


SEAL = [(99, "2024-01-01 01:00:00", "seal sentinel paragraph")]
SEAL2 = [(100, "2024-01-01 02:00:00", "second seal sentinel")]


def test_shared_footer_sheds_and_full_dup_vanishes(spark, tmp_path):
    batches = [
        [(1, "2024-01-01 00:00:10", "alpha one\nshared footer")],
        [(2, "2024-01-01 00:00:20", "beta two\nshared footer")],
        [(3, "2024-01-01 00:00:30", "alpha one\nshared footer")],  # full dup
        [(4, "2024-01-01 00:00:40", "gamma\ngamma\ndelta")],  # within-doc repeat
        SEAL,
        SEAL2,
    ]
    got = _run_stream(spark, tmp_path, batches)
    assert got[1]["kept_paras"] == 2 and got[1]["is_unique"]
    assert got[2]["n_paras"] == 2 and got[2]["kept_paras"] == 1
    assert abs(got[2]["dup_frac"] - 0.5) < 1e-9 and not got[2]["is_unique"]
    assert 3 not in got, "full duplicate must emit no verdict row"
    assert got[4]["n_paras"] == 3 and got[4]["kept_paras"] == 2


def test_stream_parity_with_greedy(spark, tmp_path):
    batches = [
        [(1, "2024-01-01 00:00:10", "a one\nb two\nc three"),
         (2, "2024-01-01 00:00:11", "d four\nb two")],
        [(3, "2024-01-01 00:00:20", "c three\nd four\ne five")],
        [(4, "2024-01-01 00:00:30", "a one\nb two")],  # everything stale
        SEAL,
        SEAL2,
    ]
    got = _run_stream(spark, tmp_path, batches)
    want = _greedy_expected([r for b in batches[:-2] for r in b])
    for doc_id, (n, kept) in want.items():
        if kept == 0:
            assert doc_id not in got, f"doc {doc_id} fully stale, must emit no row"
        else:
            assert got[doc_id]["n_paras"] == n
            assert got[doc_id]["kept_paras"] == kept, (doc_id, dict(got[doc_id].asDict()))


def test_fingerprints_evict_after_horizon(spark, tmp_path):
    # 10-second horizon: the same paragraph 10 minutes later is fresh again.
    # The watermark lags one batch, so an advancer batch between the two
    # arrivals pushes it past the first fingerprint's expiry BEFORE the
    # re-arrival is processed (otherwise the state is correctly still live).
    # ...and it takes effect ONE TRIGGER LATE (the pinned late-data
    # contract), so a second spacer batch is where the eviction lands —
    # the same choreography as the lsh_dedup eviction test.
    batches = [
        [(1, "2024-01-01 00:00:10", "evicted paragraph\nfiller one")],
        [(9, "2024-01-01 00:05:00", "watermark advancer paragraph")],
        [(10, "2024-01-01 00:05:05", "second advancer paragraph")],
        [(2, "2024-01-01 00:10:00", "evicted paragraph\nfiller two")],
        SEAL,
        SEAL2,
    ]
    got = _run_stream(spark, tmp_path, batches, watermark="10 seconds")
    assert got[1]["kept_paras"] == 2
    assert got[2]["kept_paras"] == 2 and got[2]["is_unique"], (
        "paragraph fingerprint must evict after the watermark horizon"
    )
