"""Streaming MinHash-LSH near-duplicate suppression on the ingest path.

Round-6 verdict task #6: the batch near-dup family (operators/dedup.py::
minhash_lsh_pairs) assumes the corpus is at rest; an LLM ingest pipeline
wants to suppress near-duplicates AS DOCUMENTS LAND, with state that does
not grow with stream length. This operator is the streaming counterpart:

  1. Per-document MinHash signature computed ROW-LOCALLY (one nested HOF
     expression — sequence x transform x array_min — so no aggregation is
     needed before the stateful step; a streaming query stays in append
     mode). Same hash family as the batch path: slot i = min over shingles
     of xxhash64(shingle, seed + i).
  2. LSH banding: band j's key = xxhash64 of signature slots [j*r, (j+1)*r)
     — one row per (doc, band) via posexplode.
  3. ``dropDuplicatesWithinWatermark`` on (band_idx, band_hash): a band
     bucket's fingerprint is held only within the watermark horizon, so
     state is bounded by ingest rate x horizon (the exact-dedup contract of
     pipeline.py::dedup_stream, pinned in tests/test_streaming_dedup.py).
  4. A document is NEAR-DUPLICATE iff ANY of its bands collided with an
     earlier document -> it survives iff ALL ``bands`` band-rows survive
     step 3. That count is a watermarked event-time aggregation, so verdicts
     emit when the watermark seals them (append mode).

Semantics vs batch: this is FIRST-ARRIVAL-WINS over the LSH CANDIDATE
relation (what a dedup-at-ingest must do — it cannot re-rank history).
Two precision levels (round-7 verdict task #3):

``verify=None`` (default, all-JVM): candidates are NOT re-verified — a
band collision from a merely-similar document strips that band. Within
one micro-batch ``dropDuplicatesWithinWatermark`` keeps an ARBITRARY
survivor per band key, so two near/exact duplicates landing in the SAME
batch can mutually strip each other's bands (both emit is_unique=false,
or neither emits a verdict). Consumers of this mode must therefore route
is_unique=false rows to the batch precision layer
(operators/dedup.py::minhash_lsh_pairs exact-verify) rather than drop
them — pinned by tests/test_streaming_lsh_dedup.py::
test_same_batch_duplicates_default_mode.

``verify=<threshold>``: two stateful layers. (a) An exact-signature
PREFILTER keyed by one xxhash64 of the full signature per document
suppresses identical-signature duplicates — the bulk of a dup-heavy
crawl — at doc grain, before banding (r8: cut the verify-mode price from
4.3x to ~(see BENCH_lsh_stream.json) by keeping ``bands``x row
amplification and signature re-shipping off the hot path; provably
verdict-identical, see _ExactSigPrefilter). (b) A
transformWithStateInPandas layer keyed by (band_idx, band_hash) holds
the full MinHash signatures of recent bucket occupants (within the
watermark horizon) and a colliding band is stripped ONLY when estimated
Jaccard (matching-slot fraction) against some occupant reaches the
threshold. This both removes the false-positive data loss AND makes
same-batch behavior deterministic: rows are processed in (ts, doc)
order in BOTH layers, so the earliest document always wins every
contested band. Measured FP/recall at several (bands, rows) operating
points: scripts/lsh_operating_points.py -> BENCH_lsh_fp.json.
Requires the RocksDB state store (streaming/state.py::rocksdb_state_conf)
like every TWS operator here.

Round-9 cost work (verdict task #1 + the measured follow-ons; artifact
BENCH_lsh_stream.json, interleaved-round protocol):

  - signatures cross every Arrow boundary as ONE packed BinaryType scalar
    (pack_signature — 8 B/slot big-endian), never a 64-element list: the
    list->pandas conversion allocates one numpy array PER ROW and was the
    top all-unique-regime cost;
  - the band shuffle and verify-layer state carry a 16-bit-per-slot DIGEST
    (slot_digests, 128 B vs 512 B): est-Jaccard only tests slot EQUALITY,
    so digests decide identically up to 2^-16-per-slot collisions — three
    orders below the 64-perm estimator's own sigma, and erring only toward
    an (immediately verified) strip. The doc-grain exact prefilter keeps
    the full signature;
  - both handlers are VECTORIZED on the common path: rows whose key is
    unique in-batch and absent from state (steady-state traffic is ~all of
    them) are classified with pandas duplicated()/isin()/MultiIndex.isin
    and bulk-appended; only contested rows walk the per-row est-J loop;
  - state_buckets default re-measured at 2048 (see the parameter doc —
    vectorization moved the sweet spot to fatter buckets).

Round-10 cost work (verdict task #1 — close the last measured verify-mode
cost, the per-batch full-bucket state re-read): both stateful layers store
CHUNK-BLOB rows — a bucket's occupants packed as fixed-size records into a
few binary rows — so a batch decodes its whole bucket with ONE b"".join +
ONE np.frombuffer into a structured array (the r9 layout paid one Python
tuple conversion + one np.frombuffer PER OCCUPANT per batch: ~1.6M
per-entry decodes on the 200k-doc drain's second trigger). Eviction
filtering, membership/contested classification (int64/uint64 isin), and
new-occupant packing are whole-array operations; commits stay append-only
(one blob row per batch) with eviction- or _MAX_CHUNKS-triggered
compaction to SIZE-BOUNDED rows (_blob_rows, ADVICE r10: a compacted
bucket is never one element scaling with rate x horizon / buckets —
at most _MAX_BLOB_BYTES per row, cut on record boundaries). The prefilter's membership test became
two-stage: a vectorized isin on the stored full-signature hash column
(shipped as ``h`` from the JVM), then byte-exact verification against only
the records whose hash the batch actually mentions — so exactness is
unchanged while all-unique traffic does zero per-entry Python.

At 100 TB/day: everything before the stateful step is map-only; the
stateful operators hold (rate x horizon) band keys — plus, in verify
mode, one num_perm x 2-byte digest per surviving occupant per band
(bands x num_perm x 2 ≈ 2 KB/doc at the defaults) plus one full
num_perm x 8-byte signature (+ hash) per distinct doc in the prefilter —
and doc counters; state stays rate x horizon bounded in both modes
(asserted in tests).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.stateful_processor import StatefulProcessor

_SEED = 42  # matches operators/dedup.py::minhash_signatures


def row_local_signature(text: Column, num_perm: int = 64, n: int = 3) -> Column:
    """array<bigint>[num_perm] MinHash signature as ONE row-local expression
    (no aggregation): slot i = min over the doc's distinct word n-gram
    shingles of xxhash64(shingle, seed+i). Interpreted-HOF cost is
    O(num_perm x |shingles|) per row — fine on an ingest path, where the
    per-row budget is set by arrival rate, not corpus size. Null when the
    doc has no shingles (< n tokens)."""
    from ..functions.text import let, word_shingles

    def build(sh: Column) -> Column:
        sig = F.transform(
            F.sequence(F.lit(0), F.lit(num_perm - 1)),
            lambda i: F.array_min(
                F.transform(sh, lambda s: F.xxhash64(s, i + F.lit(_SEED)))
            ),
        )
        return F.when(F.size(sh) > 0, sig)

    # let-bind the shingle set: without it each of the num_perm outer slots
    # re-evaluates the whole shingle expression (split + n-gram build) —
    # measured 6.5 -> 815 docs/s/core at the defaults (r7)
    return let(word_shingles(text, n), build)


def pack_signature(sig: Column) -> Column:
    """array<bigint> MinHash signature -> ONE BinaryType column (8 bytes per
    slot, big-endian), built entirely JVM-side: hex each slot to 16 chars,
    join, one unhex. Null signature -> null binary.

    Round-9 verdict task #1: in verify mode every (doc, band) row used to
    ship the 64-slot long array through the Arrow boundary into the Python
    TWS layer — Arrow list columns land in pandas as one numpy allocation
    PER ROW, which dominated the all-unique regime (3.86x the default
    mode's cost). A binary scalar crosses as a single bytes object; the
    handlers unpack with ``np.frombuffer(b, dtype='>i8')`` only where slot
    arithmetic is actually needed (the est-Jaccard comparison)."""
    return F.unhex(
        F.array_join(F.transform(sig, lambda x: F.lpad(F.hex(x), 16, "0")), "")
    )


def slot_digests(packed: Column, num_perm: int) -> Column:
    """16-bit-per-slot digest of a pack_signature binary: the low 2 bytes of
    each big-endian 8-byte slot, concatenated (num_perm x 2 bytes).

    r9: the band-grain verify layer compares signatures ONLY for slot
    EQUALITY (the est-Jaccard matching-slot fraction), so shipping the full
    64-bit slot values through the band shuffle and into state is 4x more
    bytes than the decision needs. xxhash64's low 16 bits are uniform, so a
    digest-slot collision between UNEQUAL slots is 2^-16 per slot — the
    induced est-J inflation (expected < 0.001 matching slots per
    comparison) is three orders of magnitude below the estimator's own
    sampling noise at 64 permutations (sigma ~ 0.05), and errs only toward
    stripping (never losing) a band. The doc-grain exact prefilter keeps
    the FULL signature, so exact-duplicate suppression stays exact."""
    return F.concat(
        *[F.substring(packed, i * 8 + 7, 2) for i in range(num_perm)]
    )


def band_keys_from_sig(sig: Column, num_perm: int, bands: int) -> Column:
    """array<bigint>[bands] of LSH band hashes from an existing signature
    column — band j = xxhash64(slice of r = num_perm/bands slots, j)."""
    if num_perm % bands != 0:
        raise ValueError(
            f"num_perm ({num_perm}) must be divisible by bands ({bands})"
        )
    r = num_perm // bands
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda j: F.xxhash64(F.slice(sig, j * r + 1, r), j),
    )


def band_keys(
    text: Column, num_perm: int = 64, bands: int = 16, n: int = 3
) -> Column:
    """array<bigint>[bands]: LSH band hashes of the row-local signature —
    band j = xxhash64(slice of r = num_perm/bands slots, j). Shared by the
    streaming operator and its batch replay-parity test."""
    return band_keys_from_sig(row_local_signature(text, num_perm, n), num_perm, bands)


def _duration_ms(s: str) -> int:
    """'10 minutes' / '2 seconds' / '500 milliseconds' -> ms (the subset of
    Spark's interval grammar the streaming operators here use)."""
    n, unit = s.strip().split()
    unit = unit.rstrip("s")
    factor = {"millisecond": 1, "second": 1000, "minute": 60_000, "hour": 3_600_000}[unit]
    return int(float(n) * factor)


# A bucket's occupants re-packed into size-bounded blob rows after this
# many appended chunks, even without an eviction — bounds chunk-row count
# (and with it the per-batch b"".join fan-in) on long-running streams whose
# horizon has not yet produced an eviction-triggered compaction.
_MAX_CHUNKS = 64

# Hard per-row byte bound on any state blob (ADVICE r10): compaction used
# to pack an entire bucket's live occupants into ONE list-state element,
# which scales with rate x horizon / buckets — at the 100 TB/day regime a
# single element could reach hundreds of MB and trip state-transport /
# Arrow row-size limits. Every write now goes through _blob_rows, which
# splits a packed record buffer into rows of at most this many bytes
# (aligned to whole records); _MAX_CHUNKS stays the COUNT bound, applied
# relative to the floor a compacted bucket necessarily needs.
_MAX_BLOB_BYTES = 4 * 1024 * 1024


def _blob_rows(payload: bytes, itemsize: int) -> list[tuple]:
    """Split a packed fixed-size-record buffer into size-bounded list-state
    rows: each row holds at most _MAX_BLOB_BYTES, cut on record boundaries
    so any subset of rows still np.frombuffer-decodes cleanly."""
    if len(payload) <= _MAX_BLOB_BYTES:
        return [(payload,)]
    per = max(1, _MAX_BLOB_BYTES // itemsize) * itemsize
    return [(payload[i : i + per],) for i in range(0, len(payload), per)]


def _compaction_due(n_chunks: int, live_bytes: int) -> bool:
    """Chunk-count compaction trigger, relative to the row-count FLOOR a
    compacted bucket needs under _MAX_BLOB_BYTES — a bucket too big to fit
    _MAX_CHUNKS rows after compaction must not recompact on every batch."""
    return n_chunks >= _MAX_CHUNKS + live_bytes // _MAX_BLOB_BYTES


class _ExactSigPrefilter(StatefulProcessor):
    """Round-8 verdict task #1: the verify-mode prefilter. Keyed by ONE long
    per document — pmod(xxhash64(full MinHash signature), state_buckets)
    (shingle-less docs, which can never be duplicates, hash by doc id) — it
    suppresses EXACT-signature duplicates before banding, so the expensive
    per-band verify layer sees only distinct-content documents: 1 row/doc
    with a single-long grouping key instead of ``bands`` rows/doc each
    re-shipping the 64-slot signature. Bucketing the key amortizes state
    RPCs; membership is a full-signature byte-equality check, so distinct
    documents sharing a bucket can never wrongly suppress each other.

    Semantics are EXACTLY those of the unprefixed verify path: a document
    whose signature is identical to an earlier in-horizon document would
    receive identical per-band est-Jaccard comparisons (same sig ⇒ same
    band keys ⇒ same occupants ⇒ same outcomes), and est-J = 1.0 ≥ any
    threshold on every colliding band ⇒ full suppression ⇒ no verdict row.
    Suppressing it here produces the same absence. Exact duplicates were
    never stored as band occupants (only survivors are), so downstream
    state is also unchanged. Rows are processed in (ts, doc) order per key
    ⇒ the same-batch determinism guarantee is preserved.

    State layout (r10 verdict task #1 — CHUNKED BLOBS): the bucket's
    occupants live in a FEW binary blob rows, each packing many fixed-size
    records (ts_ms >i8, sig_hash >i8, sig V{8*num_perm}); a batch decodes
    the whole bucket with ONE b"".join + ONE np.frombuffer instead of one
    Python tuple + bytes() per occupant (r9's top remaining verify-mode
    cost: per-batch full-bucket state re-read at per-entry granularity).
    Membership is two-stage and exact: a vectorized int64 isin on the
    stored xxhash64(sig) column picks candidate records (zero per-entry
    work on all-unique traffic), and only records whose hash actually
    appears in the batch are materialized into a bytes-set for the
    full-signature equality check (so a hash collision can never wrongly
    suppress). Append-only commits add one blob row per batch; evictions
    (and a _MAX_CHUNKS cap) compact to size-bounded rows of at most
    _MAX_BLOB_BYTES each (ADVICE r10). One event-time timer
    at the earliest entry's expiry; state is rate x horizon bounded."""

    def __init__(self, horizon_ms: int, num_perm: int = 64) -> None:
        self.horizon_ms = horizon_ms
        self.num_perm = num_perm
        self._dt = None

    def _dtype(self):
        if self._dt is None:
            import numpy as np

            self._dt = np.dtype(
                [("ts", ">i8"), ("h", ">i8"), ("sig", f"V{8 * self.num_perm}")]
            )
        return self._dt

    def init(self, handle) -> None:
        self.handle = handle
        # same state name as the pre-r10 row-per-occupant layout, so a
        # checkpoint written by the old schema fails state-schema validation
        # LOUDLY on resume instead of silently missing duplicates (see the
        # STATE FORMAT note in minhash_dedup_stream)
        self.entries = handle.getListState("sigs", "blob binary")

    def _decode(self, np):
        parts = [bytes(e[0]) for e in self.entries.get()]
        buf = b"".join(parts)
        arr = (
            np.frombuffer(buf, dtype=self._dtype())
            if buf
            else np.empty(0, dtype=self._dtype())
        )
        return arr, len(parts)

    def _pack(self, np, ts_arr, h_arr, sig_bytes_list):
        a = np.empty(len(ts_arr), dtype=self._dtype())
        a["ts"] = ts_arr
        a["h"] = h_arr
        a["sig"] = np.frombuffer(
            b"".join(sig_bytes_list), dtype=f"V{8 * self.num_perm}"
        )
        return a.tobytes()

    def handleInputRows(self, key, rows, timerValues):
        import numpy as np
        import pandas as pd

        first = next(rows, None)
        if first is None:
            return
        rest = list(rows)
        pdf = pd.concat([first, *rest], ignore_index=True) if rest else first
        n_rows = len(pdf)
        if n_rows == 0:
            return
        arr, n_chunks = self._decode(np)
        wm = timerValues.getCurrentWatermarkInMs()
        live_mask = arr["ts"] + self.horizon_ms >= wm
        evicted = not bool(live_mask.all())
        live = arr[live_mask] if evicted else arr
        docs = pdf["doc"].to_numpy()
        ts_ms = pdf["ev_ts"].to_numpy().astype("datetime64[ms]").astype(np.int64)
        # r9: whole-batch vectorized membership (sig arrives PRE-PACKED via
        # pack_signature, so each value is one hashable bytes object). The
        # loop-free form is exactly first-arrival-wins: process in (ts, doc)
        # order, suppress a row iff its sig is in state OR appeared earlier
        # in the batch; survivors of a fresh sig become state entries.
        order = np.lexsort((docs, ts_ms)) if n_rows > 1 else np.arange(n_rows)
        sig_s = pdf["sig"].iloc[order].reset_index(drop=True)
        # length > 0 keeps the pre-vectorization defensive passthrough
        # (ADVICE r10): a zero-length packed binary — should an empty-array
        # signature ever arise — is shingle-less, never a duplicate
        valid = (sig_s.notna() & (sig_s.str.len() > 0)).to_numpy()
        dup_later = sig_s.duplicated(keep="first").to_numpy()
        in_state = np.zeros(n_rows, dtype=bool)
        if live.size:
            # stage 1 (vectorized): candidate rows by stored full-sig hash
            bh = pdf["h"].to_numpy()[order]
            hits = np.isin(bh, live["h"])
            if hits.any():
                # stage 2 (exact, tiny): byte-equality against only the
                # state records whose hash the batch actually mentions
                cand_recs = live[np.isin(live["h"], bh[hits])]
                cand = {r.tobytes() for r in cand_recs["sig"]}
                in_state = sig_s.isin(cand).to_numpy()
        keep = ~valid | (~in_state & ~dup_later)
        fresh = valid & keep
        n_new = int(fresh.sum())
        if n_new:
            blob = self._pack(
                np,
                ts_ms[order][fresh],
                pdf["h"].to_numpy()[order][fresh],
                sig_s.to_numpy()[fresh].tolist(),
            )
        if evicted:
            self.entries.clear()
            if live.size or n_new:
                merged = live.tobytes() + (blob if n_new else b"")
                self.entries.put(_blob_rows(merged, self._dtype().itemsize))
                lo = int(live["ts"].min()) if live.size else None
                if n_new:
                    nn = int(ts_ms[order][fresh].min())
                    lo = nn if lo is None else min(lo, nn)
                self.handle.registerTimer(lo + self.horizon_ms)
        elif n_new:
            if _compaction_due(n_chunks, live.size * self._dtype().itemsize):
                self.entries.clear()
                self.entries.put(
                    _blob_rows(live.tobytes() + blob, self._dtype().itemsize)
                )
            else:
                self.entries.appendList(
                    _blob_rows(blob, self._dtype().itemsize)
                )
            if not live.size:
                self.handle.registerTimer(
                    int(ts_ms[order][fresh].min()) + self.horizon_ms
                )
        if keep.any():
            yield pdf.iloc[order[keep]][["doc", "ev_ts", "sig"]]

    def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
        import numpy as np

        wm = expiredTimerInfo.getExpiryTimeInMs()
        arr, _ = self._decode(np)
        live = arr[arr["ts"] + self.horizon_ms >= wm]
        self.entries.clear()
        if live.size:
            self.entries.put(
                _blob_rows(live.tobytes(), self._dtype().itemsize)
            )
            self.handle.registerTimer(int(live["ts"].min()) + self.horizon_ms)
        return iter(())

    def close(self) -> None:
        pass


class _BandVerifyProcessor(StatefulProcessor):
    """transformWithStateInPandas processor — the precision layer of
    verify-mode streaming dedup. Keyed by (mk, bucket) where bucket =
    pmod(hash, state_buckets): state RPCs (get/append/timer — each a
    round-trip to the JVM state server) amortize over every band key in the
    bucket instead of paying 3+ RPCs per SINGLETON band key (r8: the
    dominant verify-mode cost). Exact (band_idx, band_hash) matching moves
    INSIDE the processor — an occupant strips a row only when both band
    coordinates match exactly, so bucketing is a pure physical regrouping
    with unchanged semantics (pinned by test_verify_bucket_collisions_safe,
    which forces state_buckets=1).

    State per bucket = ListState of (band_idx, band_hash, ts_ms, packed
    16-bit slot digest — slot_digests, r9) for occupants within the
    watermark horizon; an incoming row's band is STRIPPED (emit one
    ``val = -1`` row) only when its estimated Jaccard (matching-slot
    fraction over the per-slot digests — identical to the standard
    unbiased estimator up to 2^-16-per-slot digest collisions) against
    some occupant OF THE SAME BAND KEY reaches ``threshold``. Fresh bands — the
    overwhelming majority on any corpus — emit NOTHING (r8: the verdict
    aggregation counts ``bands - strips`` from a per-doc MARKER row instead
    of counting fresh band rows, so the Python->JVM return path carries only
    collisions). Marker rows (mk == -2, doc-hashed bucket, val = ``bands``
    or 0 for shingle-less docs) take a stateless fast path: no state reads,
    no timers, straight batched passthrough.

    Rows are processed in (ts, doc) order -> deterministic first-arrival-
    wins even within one micro-batch (the default mode's same-batch hazard).
    Eviction: semantic eviction is the watermark filter applied on every
    read; one event-time timer per occupied key (registered at first
    occupancy or after a compaction) physically drops expired occupants, so
    idle keys shrink to nothing — rate x horizon bounded state.

    State layout (r10 verdict task #1 — CHUNKED BLOBS): a bucket's
    occupants live in a FEW binary blob rows, each packing many fixed-size
    records (band_idx >i4, band_hash >i8, ts_ms >i8, digest >i2 x
    num_perm); a batch decodes the whole bucket with ONE b"".join + ONE
    np.frombuffer into a structured array instead of one Python tuple +
    np.frombuffer PER OCCUPANT (the r9 layout's dominant all-unique-regime
    cost: at 2048 buckets and a 200k-doc drain, batch 2 re-decoded ~1.6M
    occupant rows entry by entry). Eviction filtering, the
    contested-or-bulk classification (uint64 combined-key isin — a
    combined-key collision can only mark a row contested, never change an
    outcome: the est-J loop re-checks exact (band_idx, band_hash)), and
    new-occupant packing are all whole-array operations; only contested
    rows and the state records under their keys are touched row-wise.
    Append-only commits add one blob row per batch; evictions (and a
    _MAX_CHUNKS cap) compact to size-bounded rows of at most
    _MAX_BLOB_BYTES each (ADVICE r10)."""

    def __init__(
        self, threshold: float, horizon_ms: int, num_perm: int = 64
    ) -> None:
        self.threshold = threshold
        self.horizon_ms = horizon_ms
        self.num_perm = num_perm
        self._dt = None

    def _dtype(self):
        if self._dt is None:
            import numpy as np

            self._dt = np.dtype(
                [
                    ("bi", ">i4"),
                    ("bh", ">i8"),
                    ("ts", ">i8"),
                    ("dig", ">i2", (self.num_perm,)),
                ]
            )
        return self._dt

    def init(self, handle) -> None:
        self.handle = handle
        # same state name as the pre-r10 row-per-occupant layout — a
        # checkpoint written by the old schema fails state-schema validation
        # loudly on resume (see the STATE FORMAT note in minhash_dedup_stream)
        self.entries = handle.getListState("entries", "blob binary")

    def _decode(self, np):
        parts = [bytes(e[0]) for e in self.entries.get()]
        buf = b"".join(parts)
        arr = (
            np.frombuffer(buf, dtype=self._dtype())
            if buf
            else np.empty(0, dtype=self._dtype())
        )
        return arr, len(parts)

    def _pack(self, np, bi_arr, bh_arr, ts_arr, dig_bytes_list):
        a = np.empty(len(bi_arr), dtype=self._dtype())
        a["bi"] = bi_arr
        a["bh"] = bh_arr
        a["ts"] = ts_arr
        a["dig"] = np.frombuffer(
            b"".join(dig_bytes_list), dtype=">i2"
        ).reshape(len(bi_arr), self.num_perm)
        return a.tobytes()

    @staticmethod
    def _ckey(np, bh_arr, bi_arr):
        # combined (band_hash, band_idx) match key in wrap-around uint64 —
        # identical arithmetic on both sides, collisions only over-mark rows
        # as contested (exactness is re-established inside the est-J loop)
        return bh_arr.astype(np.uint64) * np.uint64(131) + bi_arr.astype(
            np.uint64
        )

    def handleInputRows(self, key, rows, timerValues):
        import numpy as np
        import pandas as pd

        first = next(rows, None)
        if first is None:
            return
        rest = list(rows)
        pdf = pd.concat([first, *rest], ignore_index=True) if rest else first
        n_rows = len(pdf)
        if n_rows == 0:
            return
        if int(key[0]) == -2:
            # marker fast path: stateless passthrough (batched per bucket)
            yield pdf[["doc", "ev_ts", "val"]]
            return
        arr, n_chunks = self._decode(np)
        wm = timerValues.getCurrentWatermarkInMs()
        live_mask = arr["ts"] + self.horizon_ms >= wm
        evicted = not bool(live_mask.all())
        live = arr[live_mask] if evicted else arr
        docs = pdf["doc"].to_numpy()
        ts_ms = pdf["ev_ts"].to_numpy().astype("datetime64[ms]").astype(np.int64)
        bis = pdf["band_idx"].to_numpy()
        bhs = pdf["band_hash"].to_numpy()
        sig_col = pdf["sig"].to_numpy()
        order = np.lexsort((docs, ts_ms)) if n_rows > 1 else np.arange(n_rows)
        strip_idx: list[int] = []
        new: list[tuple] = []  # contested additions only (few)
        # r9 fast path: a row whose (band_idx, band_hash) appears exactly
        # once in this batch AND has no stored occupant can neither strip
        # nor be stripped — it just becomes an occupant. On steady-state
        # (all-unique) traffic that is essentially every row, so the per-row
        # est-Jaccard loop below only sees the contested handful. Pure
        # vectorized reordering of independent rows — first-arrival-wins
        # semantics are untouched because rows that never share a band key
        # (in batch or state) cannot interact.
        valid = pd.notna(sig_col)
        kdf = pd.DataFrame({"bi": bis[order], "bh": bhs[order]})
        contested_o = kdf.duplicated(keep=False).to_numpy()
        bkey = self._ckey(np, bhs[order], bis[order])
        if live.size:
            skey = self._ckey(np, live["bh"], live["bi"])
            contested_o |= np.isin(bkey, skey)
        bulk_o = valid[order] & ~contested_o
        sel = order[bulk_o]
        # occupant digests under CONTESTED keys only — the handful of state
        # records the per-row loop can actually touch
        occ: dict[tuple, list] = {}
        if live.size and bool(contested_o.any()):
            cand = live[np.isin(skey, bkey[contested_o])]
            for rec in cand:
                occ.setdefault((int(rec["bi"]), int(rec["bh"])), []).append(
                    rec["dig"]
                )
        for i in order[contested_o]:
            raw_sig = sig_col[i]
            if raw_sig is None or len(raw_sig) == 0:
                continue  # shingle-less: never occupies, never strips
            # pre-packed 16-bit digest (slot_digests, r9): view as
            # big-endian shorts only here, where est-Jaccard needs slot
            # arithmetic — the estimator is the matching-slot fraction, so
            # digests decide identically up to 2^-16-per-slot collisions
            b = bytes(raw_sig)
            sig = np.frombuffer(b, dtype=">i2")
            k = (int(bis[i]), int(bhs[i]))
            lst = occ.get(k)
            if lst is not None and any(
                len(o) == len(sig) and float((sig == o).mean()) >= self.threshold
                for o in lst
            ):
                strip_idx.append(i)
            else:
                new.append((k[0], k[1], int(ts_ms[i]), b))
                occ.setdefault(k, []).append(sig)
        # pack this batch's occupants (bulk arrays + contested few) as ONE
        # blob; same minimal-RPC commit discipline as _ExactSigPrefilter
        n_new = len(sel) + len(new)
        if n_new:
            blob = self._pack(
                np,
                np.concatenate(
                    [bis[sel], np.array([e[0] for e in new], dtype=np.int64)]
                ),
                np.concatenate(
                    [bhs[sel], np.array([e[1] for e in new], dtype=np.int64)]
                ),
                np.concatenate(
                    [ts_ms[sel], np.array([e[2] for e in new], dtype=np.int64)]
                ),
                sig_col[sel].tolist() + [e[3] for e in new],
            )
            new_min_ts = int(
                min(
                    int(ts_ms[sel].min()) if len(sel) else 2**62,
                    min((e[2] for e in new), default=2**62),
                )
            )
        if evicted:
            self.entries.clear()
            if live.size or n_new:
                self.entries.put(
                    _blob_rows(
                        live.tobytes() + (blob if n_new else b""),
                        self._dtype().itemsize,
                    )
                )
                lo = int(live["ts"].min()) if live.size else None
                if n_new:
                    lo = new_min_ts if lo is None else min(lo, new_min_ts)
                self.handle.registerTimer(lo + self.horizon_ms)
        elif n_new:
            if _compaction_due(n_chunks, live.size * self._dtype().itemsize):
                self.entries.clear()
                self.entries.put(
                    _blob_rows(live.tobytes() + blob, self._dtype().itemsize)
                )
            else:
                self.entries.appendList(
                    _blob_rows(blob, self._dtype().itemsize)
                )
            if not live.size:
                self.handle.registerTimer(new_min_ts + self.horizon_ms)
        if strip_idx:
            yield pdf.iloc[strip_idx][["doc", "ev_ts", "val"]]

    def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
        import numpy as np

        wm = expiredTimerInfo.getExpiryTimeInMs()
        arr, _ = self._decode(np)
        live = arr[arr["ts"] + self.horizon_ms >= wm]
        self.entries.clear()
        if live.size:
            self.entries.put(
                _blob_rows(live.tobytes(), self._dtype().itemsize)
            )
            self.handle.registerTimer(int(live["ts"].min()) + self.horizon_ms)
        return iter(())

    def close(self) -> None:
        pass


def minhash_dedup_stream(
    docs: DataFrame,
    watermark: str = "10 minutes",
    num_perm: int = 64,
    bands: int = 16,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    ts_col: str = "ts",
    seal_window: str = "1 second",
    verify: float | None = None,
    state_buckets: int | None = None,
) -> DataFrame:
    """Near-dup verdict stream: one row per document (id, window, n_bands,
    is_unique) where ``is_unique`` means NO LSH band collided with any
    earlier document inside the watermark horizon. Documents without
    shingles (< n tokens) pass through as unique=true with n_bands=0 (they
    cannot be near-duplicates under shingle Jaccard — same convention as
    batch minhash_signatures).

    ``verify``: None (default) = raw band collisions strip bands (all-JVM
    fast path; see module docstring for the same-batch caveat and the
    required routing of is_unique=false rows). A float in (0, 1] = the
    estimated-Jaccard verification threshold: a collision only strips a
    band when the full-signature matching-slot fraction against a stored
    occupant reaches it (TWS precision layer; deterministic first-wins).

    ``state_buckets``: verify-mode state keys (the exact-sig prefilter's
    signature hash and the verify layer's band keys) are grouped into
    pmod(hash, state_buckets) buckets so per-key state-server RPCs amortize
    across co-bucketed keys. Purely physical — exact matching happens
    inside the processors. Default (None) = max(64, 2 x
    spark.sql.shuffle.partitions): r10 re-measured the sweet spot with the
    chunk-blob state layout, whose one-frombuffer-per-bucket decode makes
    per-bucket size nearly free — the dominant per-key cost is now the
    state-server ROUND TRIPS, so the optimum is as FEW buckets as still
    spread over the stateful stage's tasks (~2 per task; 64 buckets beat
    the r9 default of 2048 by ~20% wall on the 200k-doc all-unique drain,
    measured in FRESH processes — see the bench-protocol note in
    scripts/bench_lsh_stream.py). The r9 guidance of ~10x cores per bucket
    predates the chunk layout; fixture-pinning tests that force
    state_buckets=1 still pass, since bucketing is purely physical.

    Emission: verdicts seal when the watermark passes the doc's
    ``seal_window`` bucket (the count of surviving band-rows is an
    event-time aggregation). A document ALL of whose bands collide (e.g. an
    exact duplicate) loses every band-row to the dedup and emits NO verdict
    row at all — consumers keep docs with is_unique (absence = hard
    duplicate).

    STATE FORMAT (verify mode): v3 as of r10 — chunk-blob rows (see the
    processor docstrings); v2 (r9) was one row per occupant with digest
    binaries; v1 (r8) full-signature rows. Verify-mode streams MUST restart
    from a fresh checkpoint when upgrading across these versions: the state
    variable NAMES are kept stable precisely so that resuming an old
    checkpoint trips Spark's state-schema validation and fails LOUDLY
    (ADVICE r10 — a silent schema reroute would permanently miss
    duplicates instead). The default mode's dropDuplicatesWithinWatermark
    state is unaffected."""
    # band_keys_from_sig enforces this on the default path; verify mode
    # derives r inline (binary slices), so fail fast here for BOTH paths —
    # a non-divisible num_perm would silently drop trailing slots. ValueError
    # (not assert): user-input validation must survive python -O (ADVICE r10).
    if num_perm % bands != 0:
        raise ValueError(
            f"num_perm ({num_perm}) must be divisible by bands ({bands})"
        )
    wm = docs.withWatermark(ts_col, watermark)
    sig = row_local_signature(F.col(text_col), num_perm, n)
    with_sig = wm.select(
        F.col(id_col).alias("doc"),
        F.col(ts_col).alias("ev_ts"),
        sig.alias("sig"),
    )

    def to_bands(df: DataFrame) -> DataFrame:
        exploded = df.select(
            "doc",
            "ev_ts",
            "sig",
            F.posexplode_outer(
                band_keys_from_sig(F.col("sig"), num_perm, bands)
            ).alias("band_idx", "band_hash"),
        )
        # shingle-less docs (null band array) must NOT collide with each
        # other on a shared (null, null) key: doc-unique sentinel band
        return exploded.select(
            "doc",
            "ev_ts",
            "sig",
            F.coalesce("band_idx", F.lit(-1)).alias("band_idx"),
            F.coalesce(
                "band_hash", F.xxhash64(F.col("doc"), F.lit(-1))
            ).alias("band_hash"),
        )

    if verify is None:
        fresh = to_bands(with_sig).drop("sig").dropDuplicatesWithinWatermark(
            ["band_idx", "band_hash"]
        )
        return (
            fresh.groupBy(F.window("ev_ts", seal_window).alias("w"), F.col("doc"))
            .agg(
                F.sum(F.when(F.col("band_idx") >= 0, 1).otherwise(0)).alias(
                    "n_bands"
                )
            )
            .select(
                "doc",
                F.col("w.start").alias("window_start"),
                "n_bands",
                (
                    (F.col("n_bands") == bands) | (F.col("n_bands") == 0)
                ).alias("is_unique"),
            )
        )
    else:
        from ..compat import ensure_protobuf

        ensure_protobuf()
        if state_buckets is None:
            # ADVICE r10: the conf can be non-numeric on AQE-managed
            # platforms ('auto') — fall back to defaultParallelism rather
            # than raising out of a default-argument path
            try:
                parts = int(
                    docs.sparkSession.conf.get(
                        "spark.sql.shuffle.partitions", "200"
                    )
                )
            except ValueError:
                parts = docs.sparkSession.sparkContext.defaultParallelism
            state_buckets = max(64, 2 * parts)
        horizon_ms = _duration_ms(watermark)
        # Prefilter (r8 task #1): exact-signature duplicates — the bulk of a
        # dup-heavy ingest — are suppressed at DOC grain before banding, so
        # the per-band verify layer processes only distinct-content
        # documents. Keyed by pmod(xxhash64(sig), state_buckets): identical
        # sigs land in the same bucket (membership is a full-signature
        # equality check inside the processor, so bucket sharing is safe),
        # and state RPCs amortize across the bucket. Shingle-less docs hash
        # by doc id — xxhash64 NEVER returns null (a null input hashes to
        # the seed), so the dispatch must be an explicit isNotNull branch,
        # not coalesce; the processor passes them through without storing.
        # r9 task #1: the signature crosses EVERY Arrow boundary from here
        # on as ONE packed binary scalar (pack_signature), never as a
        # 64-element list — the list->pandas conversion (one numpy
        # allocation per row) was the measured all-unique-regime hotspot.
        # r10 task #1: the FULL (un-bucketed) xxhash64 of the signature
        # rides along as ``h`` — inside the chunk-blob prefilter it is the
        # vectorized stage-1 membership test (int64 isin against the
        # stored hash column), with byte-exact verification only on hits.
        keyed = with_sig.select(
            "doc",
            "ev_ts",
            pack_signature(F.col("sig")).alias("sig"),
        ).select(
            "doc",
            "ev_ts",
            "sig",
            F.when(F.col("sig").isNotNull(), F.xxhash64("sig"))
            .otherwise(F.xxhash64(F.col("doc"), F.lit(-7)))
            .alias("h"),
        ).select(
            "doc",
            "ev_ts",
            "sig",
            "h",
            F.pmod(F.col("h"), F.lit(state_buckets)).alias("sig_key"),
        )
        survivors = keyed.groupBy("sig_key").transformWithStateInPandas(
            _ExactSigPrefilter(horizon_ms, num_perm),
            outputStructType="doc long, ev_ts timestamp, sig binary",
            outputMode="append",
            timeMode="eventTime",
            eventTimeColumnName="ev_ts",
        )
        # one exploded array carries the 16 real band rows (val = -1, the
        # weight a strip contributes) PLUS one per-doc MARKER row
        # (band_idx = -2, doc-unique hash, val = bands — or 0 for
        # shingle-less docs, which produce no real bands). Keeping the
        # marker inside the same explode avoids branching the streaming
        # DAG (a branch would instantiate the prefilter operator twice).
        # band j = xxhash64 of the packed signature's byte range for slots
        # [j*r, (j+1)*r) — binary-slice equality <=> slot equality, so the
        # collision relation is identical to the array-slice form (hash
        # VALUES differ from the default path's band_keys_from_sig, but
        # band keys are internal coordinates, never compared across modes).
        # The band rows themselves carry only the 16-bit slot DIGEST
        # (slot_digests): 128 B instead of 512 B through the widest shuffle
        # in the pipeline and through verify-layer state.
        survivors = survivors.select(
            "doc",
            "ev_ts",
            "sig",
            slot_digests(F.col("sig"), num_perm).alias("dig"),
        )
        r = num_perm // bands
        rb = 8 * r  # bytes per band slice
        real = F.when(
            F.col("sig").isNotNull(),
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda j: F.struct(
                    j.cast("int").alias("band_idx"),
                    F.xxhash64(
                        F.substring(F.col("sig"), j * rb + 1, rb), j
                    ).alias("band_hash"),
                    F.lit(-1).cast("int").alias("val"),
                ),
            ),
        ).otherwise(
            F.array().cast("array<struct<band_idx:int,band_hash:bigint,val:int>>")
        )
        marker = F.array(
            F.struct(
                F.lit(-2).cast("int").alias("band_idx"),
                F.xxhash64(F.col("doc"), F.lit(-2)).alias("band_hash"),
                F.when(F.col("sig").isNull(), F.lit(0))
                .otherwise(F.lit(bands))
                .cast("int")
                .alias("val"),
            )
        )
        banded = survivors.select(
            "doc", "ev_ts", "dig", F.explode(F.concat(real, marker)).alias("e")
        ).select(
            "doc",
            "ev_ts",
            # marker rows never read the digest — don't ship it through
            # the band shuffle for them (1/(bands+1) of rows)
            F.when(F.col("e.band_idx") == -2, F.lit(None)).otherwise(
                F.col("dig")
            ).alias("sig"),
            F.col("e.band_idx").alias("band_idx"),
            F.col("e.band_hash").alias("band_hash"),
            F.col("e.val").alias("val"),
            F.when(F.col("e.band_idx") == -2, F.lit(-2))
            .otherwise(F.lit(0))
            .cast("int")
            .alias("mk"),
            F.pmod(
                F.when(
                    F.col("e.band_idx") == -2,
                    F.xxhash64(F.col("doc"), F.lit(-3)),
                ).otherwise(
                    F.xxhash64(F.col("e.band_hash"), F.col("e.band_idx"))
                ),
                F.lit(state_buckets),
            ).alias("bucket"),
        )
        scored = banded.groupBy("mk", "bucket").transformWithStateInPandas(
            _BandVerifyProcessor(float(verify), horizon_ms, num_perm),
            outputStructType="doc long, ev_ts timestamp, val int",
            outputMode="append",
            timeMode="eventTime",
            eventTimeColumnName="ev_ts",
        )
        # n_bands = marker weight + strip weights = bands - strips (0 for
        # shingle-less); a fully-stripped doc (marker present, every band
        # stripped) emits NO verdict row — the hard-duplicate convention
        agg = scored.groupBy(
            F.window("ev_ts", seal_window).alias("w"), F.col("doc")
        ).agg(F.sum("val").alias("n_bands"), F.max("val").alias("mx"))
        return agg.where(
            ~((F.col("mx") == bands) & (F.col("n_bands") == 0))
        ).select(
            "doc",
            F.col("w.start").alias("window_start"),
            F.col("n_bands").cast("long").alias("n_bands"),
            ((F.col("n_bands") == bands) | (F.col("mx") == 0)).alias("is_unique"),
        )
