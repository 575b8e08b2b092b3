"""Streaming MinHash-LSH near-dup suppression (streaming/lsh_dedup.py):

  - the row-local signature is bit-identical to the batch aggregation
    (operators/dedup.py::minhash_signatures — same hash family, same seed)
  - replay parity: streamed verdicts == a greedy first-arrival-wins sweep
    over the SAME band keys computed in batch
  - bounded state: a near-duplicate arriving after the watermark horizon is
    unique again (band fingerprints evicted — the dedup_stream contract)
"""

from __future__ import annotations

from pyspark.sql import functions as F

import pytest

from landing_util import land
from timing_explorer_spark.streaming.lsh_dedup import (
    band_keys,
    minhash_dedup_stream,
    row_local_signature,
)


@pytest.fixture(scope="module", autouse=True)
def _narrow_state_partitions(spark):
    """r13 suite-wall-time cut: every micro-batch of these stateful streams
    opens one state store (and, for transformWithStateInPandas, one Python
    state-server round) PER shuffle partition — at the conftest default of 8
    that is 8x machinery per batch for single-digit-row batches. 2 partitions
    carry identical semantics (state is keyed; values are key-determined) at
    a quarter of the per-batch cost. Runtime-settable and restored; each test
    starts a FRESH checkpoint, so the partition count never crosses tests."""
    saved = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    yield
    spark.conf.set("spark.sql.shuffle.partitions", saved)


NUM_PERM, BANDS, N = 64, 16, 3

BASE = (
    "the quick brown fox jumped over the lazy dog while the cat sat on the "
    "mat and watched the birds fly south for the winter season as usual"
)
EDITED = BASE.replace("lazy dog", "sleepy dog")  # near-dup: one shingle zone
OTHER = (
    "completely different content about spark query engines and columnar "
    "execution with vectorized operators hash joins and shuffle exchanges "
    "running on large clusters every day"
)
THIRD = (
    "yet another unrelated passage describing mountain weather patterns "
    "snowfall accumulation alpine ridgelines and the seasonal migration of "
    "birds across the high passes every autumn"
)


def test_row_local_signature_matches_batch(spark):
    from timing_explorer_spark.operators.dedup import minhash_signatures

    docs = spark.createDataFrame(
        [(1, BASE), (2, EDITED), (3, OTHER), (4, "too short")],
        "doc_id long, text string",
    )
    batch = {
        r["doc"]: list(r["sig"])
        for r in minhash_signatures(docs, num_perm=NUM_PERM, n=N).collect()
    }
    local = {
        r["doc_id"]: (list(r["sig"]) if r["sig"] is not None else None)
        for r in docs.select(
            "doc_id", row_local_signature(F.col("text"), NUM_PERM, N).alias("sig")
        ).collect()
    }
    assert local[1] == batch[1]
    assert local[2] == batch[2]
    assert local[3] == batch[3]
    assert local[4] is None and 4 not in batch  # shingle-less conventions


def test_pack_and_digest_bitwise(spark):
    """r9: the JVM-side binary pack and the 16-bit slot digest must be
    byte-exact functions of the signature — pack = 8 B/slot big-endian,
    digest = the low 2 bytes of each slot — so the Python handlers can
    frombuffer them without any per-engine convention drift."""
    import numpy as np

    from timing_explorer_spark.streaming.lsh_dedup import (
        pack_signature,
        slot_digests,
    )

    df = spark.createDataFrame(
        [("a doc with enough words to shingle",), ("tiny",)], "text string"
    )
    sig = row_local_signature(F.col("text"), NUM_PERM, N)
    rows = df.select(
        sig.alias("sig"),
        pack_signature(sig).alias("packed"),
        slot_digests(pack_signature(sig), NUM_PERM).alias("dig"),
    ).collect()
    r = rows[0]
    arr = np.array(r["sig"], dtype=np.int64)
    assert bytes(r["packed"]) == arr.astype(">i8").tobytes()
    assert bytes(r["dig"]) == (arr & 0xFFFF).astype(">u2").tobytes()
    # est-J on digests == est-J on slots for identical inputs by
    # construction; shingle-less rows stay null through both
    assert rows[1]["sig"] is None and rows[1]["packed"] is None
    assert rows[1]["dig"] is None


def _greedy_expected(spark, rows):
    """First-arrival-wins over batch-computed band keys, in ts order."""
    df = spark.createDataFrame(rows, "doc_id long, ts string, text string")
    keyed = df.select(
        "doc_id", "ts", band_keys(F.col("text"), NUM_PERM, BANDS, N).alias("bk")
    ).collect()
    seen: set = set()
    verdicts = {}
    for r in sorted(keyed, key=lambda r: r["ts"]):
        bk = r["bk"]
        if bk is None:
            verdicts[r["doc_id"]] = True
            continue
        keys = {(i, v) for i, v in enumerate(bk)}
        fresh = keys - seen
        if len(fresh) == len(keys):
            verdicts[r["doc_id"]] = True  # all bands fresh -> unique
        elif fresh:
            verdicts[r["doc_id"]] = False  # partial collision -> near-dup
        else:
            verdicts[r["doc_id"]] = None  # fully collided -> no verdict row
        seen |= fresh
    return verdicts


def _land_batches(indir, batches):
    """One parquet file per batch, ts parsed in the session zone (UTC).
    pyarrow writes the same rows a Spark write job would, without paying a
    job per tiny file; file-source batch order follows modification time."""
    import os
    from datetime import datetime, timezone

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(indir, exist_ok=True)
    for i, rows in enumerate(batches):
        table = pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array(
                    [
                        datetime.fromisoformat(r[1]).replace(tzinfo=timezone.utc)
                        for r in rows
                    ],
                    pa.timestamp("us", tz="UTC"),
                ),
                "text": pa.array([r[2] for r in rows], pa.string()),
            }
        )
        path = os.path.join(indir, f"batch-{i:03d}.parquet")
        land(indir, lambda: pq.write_table(table, path))


def _run_stream(spark, tmp_path, batches, watermark="10 minutes", verify=None,
                state_buckets=8192):
    indir, outdir, ckpt = (
        str(tmp_path / "in"),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
    )
    _land_batches(indir, batches)
    stream = (
        spark.readStream.schema("doc_id long, ts timestamp, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(indir)
    )
    out = minhash_dedup_stream(
        stream, watermark=watermark, num_perm=NUM_PERM, bands=BANDS, n=N,
        verify=verify, state_buckets=state_buckets,
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
    return {r["doc"]: r for r in spark.read.parquet(outdir).collect()}


def test_stream_parity_with_batch_greedy(spark, tmp_path):
    batches = [
        [(1, "2024-01-01 00:00:10", BASE), (10, "2024-01-01 00:00:11", OTHER)],
        [(2, "2024-01-01 00:00:20", EDITED)],   # near-dup of 1 (partial bands)
        [(3, "2024-01-01 00:00:30", BASE)],     # exact dup of 1 (all bands)
        [(4, "2024-01-01 00:00:40", "too short"),
         (5, "2024-01-01 00:00:41", "also short")],  # shingle-less pass through
        # sentinel far ahead: seals every earlier verdict window
        [(99, "2024-01-01 01:00:00", "seal sentinel document only")],
    ]
    got = _run_stream(spark, tmp_path, batches)
    want = _greedy_expected(spark, [r for b in batches[:-1] for r in b])
    for doc_id, verdict in want.items():
        if verdict is None:
            assert doc_id not in got, f"fully-collided doc {doc_id} must emit no row"
        else:
            assert doc_id in got, f"doc {doc_id} verdict missing"
            assert got[doc_id]["is_unique"] == verdict, (doc_id, dict(got[doc_id].asDict()))
    # the near-dup kept SOME fresh bands but not all
    assert 0 < got[2]["n_bands"] < BANDS


# band-collides with BASE (2 of 16 bands at the fixed seed) while the
# estimated Jaccard is only ~0.59 — the false-positive case verify mode
# must rescue (precondition re-asserted inside the tests that rely on it)
FPDOC = BASE.replace(
    "fly south for the winter season as usual",
    "circle high above the old stone tower",
)
SEAL1 = [(99, "2024-01-01 01:00:00", "seal sentinel document only")]
SEAL2 = [(100, "2024-01-01 02:00:00", "second seal sentinel flushes verdicts")]


def _assert_fpdoc_preconditions(spark):
    import numpy as np

    rows = {
        r["doc_id"]: r
        for r in spark.createDataFrame(
            [(1, BASE), (2, FPDOC)], "doc_id long, text string"
        )
        .select(
            "doc_id",
            row_local_signature(F.col("text"), NUM_PERM, N).alias("sig"),
            band_keys(F.col("text"), NUM_PERM, BANDS, N).alias("bk"),
        )
        .collect()
    }
    est = float(
        (np.array(rows[1]["sig"]) == np.array(rows[2]["sig"])).mean()
    )
    shared = sum(a == b for a, b in zip(rows[1]["bk"], rows[2]["bk"]))
    assert shared >= 1, "FPDOC no longer band-collides with BASE"
    assert est < 0.9, f"FPDOC est-J {est} not below the verify threshold"


def test_same_batch_duplicates_default_mode(spark, tmp_path):
    """ADVICE r6 (medium): two exact duplicates landing in the SAME
    micro-batch can mutually strip each other's band rows under
    dropDuplicatesWithinWatermark's arbitrary-survivor semantics. The
    contract pinned here: at most one of them can be declared unique, and
    every non-unique outcome (is_unique=false OR absent) must be ROUTED to
    the batch precision layer, not dropped — so no content is lost."""
    batches = [
        [(1, "2024-01-01 00:00:10", BASE), (2, "2024-01-01 00:00:10", BASE)],
        SEAL1,
        SEAL2,
    ]
    got = _run_stream(spark, tmp_path, batches)
    unique = [d for d in (1, 2) if d in got and got[d]["is_unique"]]
    assert len(unique) <= 1, "both same-batch copies declared unique"
    # the routing contract: every copy NOT declared unique is recoverable —
    # it is either present with is_unique=false (explicit route signal) or
    # absent (hard-duplicate signal); batch exact dedup over the routed set
    # plus the unique survivors retains exactly one copy of the content
    routed = [d for d in (1, 2) if d not in unique]
    assert len(unique) + len(routed) == 2


def test_verify_mode_same_batch_first_wins(rocksdb_spark, tmp_path):
    spark = rocksdb_spark
    """verify mode processes each band bucket's batch rows in (ts, doc)
    order -> deterministic: the first copy is unique, the second fully
    suppressed (no verdict row) — no mutual strip, ever."""
    batches = [
        [(1, "2024-01-01 00:00:10", BASE), (2, "2024-01-01 00:00:10", BASE)],
        SEAL1,
        SEAL2,
    ]
    got = _run_stream(spark, tmp_path, batches, verify=0.9)
    assert got[1]["is_unique"] is True and got[1]["n_bands"] == BANDS
    assert 2 not in got  # all bands verified-collided: hard duplicate


def test_verify_mode_rescues_band_collision_fp(rocksdb_spark, tmp_path):
    spark = rocksdb_spark
    """The precision gap verify mode closes: a merely-similar document that
    shares >=1 LSH band with an earlier doc is marked non-unique by the
    default mode (silent data loss if consumers drop it) but is rescued by
    estimated-Jaccard verification; true near/exact dups stay suppressed."""
    _assert_fpdoc_preconditions(spark)
    batches = [
        [(1, "2024-01-01 00:00:10", BASE)],
        [(2, "2024-01-01 00:00:20", FPDOC)],   # the FP candidate
        [(3, "2024-01-01 00:00:30", BASE)],          # exact dup: stays suppressed
        [(4, "2024-01-01 00:00:40", BASE + " indeed")],  # true near-dup, est-J .98
        SEAL1,
        SEAL2,
    ]
    default = _run_stream(spark, tmp_path / "default", batches)
    assert default[2]["is_unique"] is False  # the FP the default mode makes
    verified = _run_stream(spark, tmp_path / "verified", batches, verify=0.9)
    assert verified[1]["is_unique"] is True
    assert verified[2]["is_unique"] is True and verified[2]["n_bands"] == BANDS
    assert 3 not in verified  # exact dup still fully suppressed
    # the true near-dup (one appended word, est-J ~0.98 at the fixed seed):
    # every colliding band verifies >= 0.9; only bands untouched by the edit
    # stay fresh -> non-unique verdict (or full suppression)
    assert 4 not in verified or verified[4]["is_unique"] is False
    # EDITED (J ~0.75) is CORRECTLY unique at threshold 0.9 — covered by the
    # FPDOC rescue above; both sides of the threshold are now pinned


def test_verify_bucket_collisions_safe(rocksdb_spark, tmp_path):
    spark = rocksdb_spark
    """r8: verify-mode state keys are BUCKETED (pmod(hash, state_buckets))
    to amortize state RPCs. Exact (band_idx, band_hash) / full-signature
    matching happens inside the processors, so forcing EVERY key into ONE
    bucket — maximal collision pressure — must leave every verdict
    unchanged: unrelated docs stay unique, the band-collision FP is still
    rescued, exact dups still fully suppressed."""
    _assert_fpdoc_preconditions(spark)
    batches = [
        [(1, "2024-01-01 00:00:10", BASE), (10, "2024-01-01 00:00:11", OTHER)],
        [(2, "2024-01-01 00:00:20", FPDOC)],   # FP candidate: must be rescued
        [(3, "2024-01-01 00:00:30", BASE)],    # exact dup: fully suppressed
        [(11, "2024-01-01 00:00:40", THIRD)],  # unrelated: unique
        SEAL1,
        SEAL2,
    ]
    got = _run_stream(spark, tmp_path, batches, verify=0.9, state_buckets=1)
    assert got[1]["is_unique"] is True and got[1]["n_bands"] == BANDS
    assert got[10]["is_unique"] is True
    assert got[2]["is_unique"] is True and got[2]["n_bands"] == BANDS
    assert 3 not in got
    assert got[11]["is_unique"] is True


def test_verify_mode_state_evicts_after_horizon(rocksdb_spark, tmp_path):
    spark = rocksdb_spark
    """Bounded state holds in verify mode too: the signature store evicts
    past the watermark horizon, so a late copy re-classifies unique."""
    batches = [
        [(1, "2024-01-01 00:00:10", BASE)],
        [(2, "2024-01-01 00:00:20", BASE)],   # inside horizon: suppressed
        [(50, "2024-01-01 02:00:00", OTHER)],
        [(51, "2024-01-01 02:00:05", THIRD)],  # spacer: eviction lands
        [(3, "2024-01-01 02:00:10", BASE)],    # fresh again
        [(99, "2024-01-01 03:00:00", "seal sentinel document only")],
        [(100, "2024-01-01 04:00:00", "second seal sentinel flushes verdicts")],
    ]
    got = _run_stream(spark, tmp_path, batches, watermark="10 minutes", verify=0.9)
    assert got[1]["is_unique"] is True
    assert 2 not in got
    assert got[3]["is_unique"] is True


def test_state_evicts_after_watermark_horizon(spark, tmp_path):
    """The bounded-state trade, same contract as exact dedup_stream: a copy
    arriving after the horizon re-classifies as unique (its band
    fingerprints were evicted)."""
    batches = [
        [(1, "2024-01-01 00:00:10", BASE)],
        [(2, "2024-01-01 00:00:20", BASE)],   # inside horizon: suppressed
        # watermark jumps ~2h past doc 1/2 + 10min horizon...
        [(50, "2024-01-01 02:00:00", OTHER)],
        # ...and takes effect ONE TRIGGER LATE (the pinned late-data
        # contract): this spacer batch is where doc 1's band state evicts
        [(51, "2024-01-01 02:00:05", THIRD)],
        [(3, "2024-01-01 02:00:10", BASE)],   # same text, fresh again
        [(99, "2024-01-01 03:00:00", "seal sentinel document only")],
        [(100, "2024-01-01 04:00:00", "second seal sentinel flushes verdicts")],
    ]
    got = _run_stream(spark, tmp_path, batches, watermark="10 minutes")
    assert got[1]["is_unique"] is True
    assert 2 not in got  # exact dup inside horizon: every band collided
    assert got[3]["is_unique"] is True  # re-admitted after eviction


def test_blob_rows_size_bounded_and_lossless():
    """ADVICE r10: compaction must never produce ONE state element scaling
    with rate x horizon / buckets — _blob_rows splits any packed buffer
    into rows of at most _MAX_BLOB_BYTES, cut on record boundaries, and
    b"".join of the rows reconstructs the buffer exactly (the _decode
    contract: any row subset must frombuffer cleanly)."""
    from timing_explorer_spark.streaming.lsh_dedup import (
        _MAX_BLOB_BYTES,
        _blob_rows,
        _compaction_due,
    )

    itemsize = 148  # the verify processor's record size at num_perm=64
    # small payload: one row, unchanged
    small = b"x" * (itemsize * 3)
    assert _blob_rows(small, itemsize) == [(small,)]
    # large payload: every row <= bound, aligned, and lossless
    n_rec = (3 * _MAX_BLOB_BYTES) // itemsize + 5
    big = bytes(n_rec * itemsize)
    rows = _blob_rows(big, itemsize)
    assert len(rows) >= 3
    assert all(len(r[0]) <= _MAX_BLOB_BYTES for r in rows)
    assert all(len(r[0]) % itemsize == 0 for r in rows)
    assert b"".join(r[0] for r in rows) == big
    # itemsize larger than the bound: one record per row (no zero-split)
    huge_item = _MAX_BLOB_BYTES + 4
    rows2 = _blob_rows(bytes(2 * huge_item), huge_item)
    assert len(rows2) == 2 and all(len(r[0]) == huge_item for r in rows2)
    # compaction trigger is RELATIVE to the post-compaction row floor: a
    # bucket needing 10 rows compacted must not recompact at 64 chunks
    from timing_explorer_spark.streaming.lsh_dedup import _MAX_CHUNKS

    assert _compaction_due(_MAX_CHUNKS, 0)
    assert not _compaction_due(_MAX_CHUNKS, 10 * _MAX_BLOB_BYTES)
    assert _compaction_due(_MAX_CHUNKS + 10, 10 * _MAX_BLOB_BYTES)


# --- chunk-blob state commit path, driven through fake state handles -------
# The verify-mode processors touch their handle only through getListState,
# registerTimer and ListState get/put/appendList/clear, so these tests call
# handleInputRows / handleExpiredTimer directly, with no Spark call. The
# record dtypes are the stored layouts, pinned so old checkpoints decode.

P, H, T0 = 4, 600_000, 1_000_000  # slots, horizon ms, first event ms
PRE_DT = [("ts", ">i8"), ("h", ">i8"), ("sig", f"V{8 * P}")]
BAND_DT = [("bi", ">i4"), ("bh", ">i8"), ("ts", ">i8"), ("dig", ">i2", (P,))]


class _FakeState:
    def __init__(self):
        self.rows, self.timers, self.ms, self.refused = [], [], 0, 0

    # handle
    def getListState(self, name, schema):
        assert schema == "blob binary"
        self.name = name
        return self

    def registerTimer(self, ms):
        # Spark keeps one timer per (key, time) and refuses a second
        if int(ms) in self.timers:
            self.refused += 1
        else:
            self.timers.append(int(ms))

    def listTimers(self):
        return iter(list(self.timers))

    def deleteTimer(self, ms):
        self.timers.remove(int(ms))

    # ListState
    def get(self):
        return iter(list(self.rows))

    def put(self, rows):
        self.rows = list(rows)

    def appendList(self, rows):
        self.rows.extend(rows)

    def clear(self):
        self.rows = []

    # TimerValues / ExpiredTimerInfo
    def getCurrentWatermarkInMs(self):
        return self.ms

    def getExpiryTimeInMs(self):
        return self.fired

    def records(self, fields):
        import numpy as np

        return np.frombuffer(b"".join(bytes(r[0]) for r in self.rows), dtype=fields)


def _feed(proc, st, key, cols):
    import pandas as pd

    cols["ev_ts"] = pd.to_datetime(cols["ev_ts"], unit="ms")
    outs = list(proc.handleInputRows(key, iter([pd.DataFrame(cols)]), st))
    return sorted(int(d) for o in outs for d in o["doc"])


def _expire(proc, st, wm):
    """Move the watermark to ``wm`` and fire every armed timer it has passed,
    as Spark does: the handler runs, then Spark deletes the fired timer."""
    st.ms = wm
    for t in sorted(x for x in st.timers if x < wm):
        st.fired = t
        assert list(proc.handleExpiredTimer((0,), st, st)) == []
        st.timers.remove(t)


def _sig(i):
    import numpy as np

    return np.arange(i * P, (i + 1) * P, dtype=">i8").tobytes()


def _pre(proc, st, items):
    """items: (doc, ts_ms, sig[, h]); h defaults to the signature's first slot."""
    h = [it[3] if len(it) > 3 else int.from_bytes(it[2][:8], "big") for it in items]
    cols = {"doc": [it[0] for it in items], "ev_ts": [it[1] for it in items]}
    return _feed(proc, st, (0,), {**cols, "sig": [it[2] for it in items], "h": h})


def test_prefilter_blob_commit_fake_handle():
    from timing_explorer_spark.streaming.lsh_dedup import (
        _MAX_CHUNKS,
        _ExactSigPrefilter,
    )

    st, proc, n = _FakeState(), _ExactSigPrefilter(H, P), _MAX_CHUNKS + 6
    proc.init(st)
    assert st.name == "sigs"
    # one row per batch: a chunk per batch until _MAX_CHUNKS, then the bucket
    # compacts; nothing is lost and only the first occupancy arms a timer
    for i in range(n):
        assert _pre(proc, st, [(i, T0 + i * 1000, _sig(i))]) == [i]
    recs = st.records(PRE_DT)
    assert sorted(recs["ts"]) == [T0 + i * 1000 for i in range(n)]
    assert {r.tobytes() for r in recs["sig"]} == {_sig(i) for i in range(n)}
    assert len(st.rows) < _MAX_CHUNKS and st.timers == [T0 + H]
    # an in-horizon duplicate is suppressed and leaves state alone; a new
    # signature whose hash collides with a stored one is kept; of two copies
    # of one new signature in a batch, the (ts, doc) first is kept
    before, ts = list(st.rows), T0 + n * 1000
    assert _pre(proc, st, [(500, ts, _sig(3))]) == [] and st.rows == before
    batch = [(501, ts, _sig(1000), 3 * P), (503, ts + 1, _sig(1001)), (502, ts + 1, _sig(1001))]
    assert _pre(proc, st, batch) == [501, 502]
    assert len(st.records(PRE_DT)) == n + 2 and st.timers == [T0 + H]
    # watermark jump: records 0..10 expire, so an evicted signature is fresh
    # again; the rewrite holds only live records and replaces the timer, so
    # exactly one stays armed and no stale one fires into a rewrite
    st.ms = T0 + 10_000 + H + 1
    assert _pre(proc, st, [(700, st.ms, _sig(700)), (701, st.ms, _sig(0))]) == [700, 701]
    want = {_sig(i) for i in [*range(11, n), 1000, 1001, 700, 0]}
    recs = st.records(PRE_DT)
    assert {r.tobytes() for r in recs["sig"]} == want and len(recs) == len(want)
    assert st.timers == [T0 + 11_000 + H]
    # an expired timer evicts at the watermark, which has passed its expiry
    # time, and re-arms once at the new earliest record; past every record
    # it empties the bucket and arms nothing
    _expire(proc, st, T0 + 50_000 + H)
    assert len(st.records(PRE_DT)) == n - 50 + 4
    assert st.timers == [T0 + 50_000 + H]
    _expire(proc, st, 10**12)
    assert st.rows == [] and st.timers == [] and st.refused == 0


def _bands(proc, st, items, key=(0, 3)):
    """items: (doc, ts_ms, band_idx, band_hash, digest slots or None, val)."""
    import numpy as np

    cols = {c: [it[k] for it in items] for k, c in enumerate(["doc", "ev_ts", "band_idx", "band_hash", "sig", "val"])}
    cols["sig"] = [None if d is None else np.array(d, dtype=">i2").tobytes() for d in cols["sig"]]
    return _feed(proc, st, key, cols)


def test_band_verify_blob_commit_fake_handle():
    from timing_explorer_spark.streaming.lsh_dedup import (
        _MAX_CHUNKS,
        _BandVerifyProcessor,
    )

    st, proc, n = _FakeState(), _BandVerifyProcessor(0.9, H, P), _MAX_CHUNKS + 6
    proc.init(st)
    assert st.name == "entries"
    # marker rows pass straight through without touching state
    assert _bands(proc, st, [(1, T0, -2, 77, None, BANDS)], key=(-2, 5)) == [1]
    assert st.rows == [] and st.timers == []

    def band(i):
        return (i % 4, 1000 + i)

    # fresh bands emit nothing and become occupants; compaction at
    # _MAX_CHUNKS chunks; one timer from the first occupancy
    for i in range(n):
        assert _bands(proc, st, [(i, T0 + i * 1000, *band(i), [i] * P, -1)]) == []
    recs = st.records(BAND_DT)
    assert sorted(zip(recs["bi"], recs["bh"])) == sorted(band(i) for i in range(n))
    assert len(st.rows) < _MAX_CHUNKS and st.timers == [T0 + H]
    # an identical digest under an occupied band key strips; a dissimilar one
    # (est-J 0.75 < 0.9) and a same-hash row of another band index stay
    # fresh; of two same-batch copies of a new band, the (ts, doc) first
    # occupies and the second strips
    ts = T0 + n * 1000
    batch = [
        (800, ts, *band(5), [5] * P, -1),
        (801, ts, *band(6), [6, 6, 6, 9], -1),
        (802, ts, band(7)[0] + 1, band(7)[1], [7] * P, -1),
        (804, ts + 1, 3, 5000, [1, 2, 3, 4], -1),
        (803, ts + 1, 3, 5000, [1, 2, 3, 4], -1),
    ]
    assert _bands(proc, st, batch) == [800, 804]
    assert len(st.records(BAND_DT)) == n + 3 and st.timers == [T0 + H]
    # watermark jump: occupants 0..10 expire, so band(2) is fresh again
    st.ms = T0 + 10_000 + H + 1
    assert _bands(proc, st, [(900, st.ms, *band(2), [2] * P, -1)]) == []
    recs = st.records(BAND_DT)
    assert recs["ts"].min() == T0 + 11_000 and len(recs) == n - 11 + 4
    assert st.timers == [T0 + 11_000 + H]
    _expire(proc, st, T0 + 50_000 + H)
    assert len(st.records(BAND_DT)) == n - 50 + 4
    assert st.timers == [T0 + 50_000 + H]
    _expire(proc, st, 10**12)
    assert st.rows == [] and st.timers == [] and st.refused == 0
