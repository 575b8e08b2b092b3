"""Streaming MinHash-LSH near-duplicate suppression on the ingest path.

The streaming counterpart of the batch near-dup family
(operators/dedup.py::minhash_lsh_pairs): near-duplicates are suppressed as
documents land, with state bounded by the watermark horizon rather than by
stream length.

  1. Per-document MinHash signature computed ROW-LOCALLY (one nested HOF
     expression, so no aggregation is needed before the stateful step and
     the query stays in append mode). Same hash family as the batch path:
     slot i = min over shingles of xxhash64(shingle, seed + i).
  2. LSH banding: band j's key = xxhash64 of signature slots [j*r, (j+1)*r),
     one row per (doc, band).
  3. A band key held by an earlier document inside the watermark horizon
     strips that band.
  4. A document is NEAR-DUPLICATE iff ANY of its bands was stripped. The
     per-document count is a watermarked event-time aggregation, so verdicts
     emit when the watermark seals them (append mode).

Semantics vs batch: FIRST-ARRIVAL-WINS over the LSH CANDIDATE relation (a
dedup-at-ingest cannot re-rank history). Two precision levels:

``verify=None`` (default, all-JVM): step 3 is ``dropDuplicatesWithinWatermark``
on (band_idx, band_hash) (the exact-dedup contract of
pipeline.py::dedup_stream), and candidates are NOT re-verified — a band
collision with a merely-similar document strips that band. Within one
micro-batch the dedup keeps an ARBITRARY survivor per band key, so two
near/exact duplicates landing in the SAME batch can mutually strip each
other's bands (both emit is_unique=false, or neither emits a verdict).
Consumers of this mode must therefore route is_unique=false rows to the batch
precision layer (operators/dedup.py::minhash_lsh_pairs exact-verify) rather
than drop them — pinned by tests/test_streaming_lsh_dedup.py::
test_same_batch_duplicates_default_mode.

``verify=<threshold>``: two transformWithStateInPandas layers, keyed by
pmod(hash, state_buckets) so state-server round trips amortize over every key
in a bucket; exact matching happens inside the processors, so bucketing is a
purely physical regrouping (pinned by test_verify_bucket_collisions_safe,
which forces one bucket).

  (a) _ExactSigPrefilter, at doc grain: a document whose full signature
      equals an in-horizon earlier document's is suppressed before banding,
      so the band layer sees only distinct content (the bulk of a dup-heavy
      crawl never pays ``bands``x row amplification).
  (b) _BandVerifyProcessor, at band grain: a colliding band is stripped ONLY
      when the estimated Jaccard (matching-slot fraction) against an occupant
      of the same band key reaches the threshold. This removes the default
      mode's false-positive data loss and makes same-batch behavior
      deterministic: both layers process rows in (ts, doc) order, so the
      earliest document wins every contested band.

Measured FP/recall at several (bands, rows) operating points:
scripts/lsh_operating_points.py -> BENCH_lsh_fp.json. Requires the RocksDB
state store (streaming/state.py::rocksdb_state_conf) like every TWS operator
here.

Verify-mode state (_BlobStateProcessor, shared by both layers): a bucket's
records are fixed-size numpy records packed into a FEW binary "chunk-blob"
rows of one ListState, so a batch decodes its bucket with one b"".join + one
np.frombuffer, and eviction, classification and packing are whole-array
operations. A batch that finds records past the watermark horizon rewrites
the bucket without them; otherwise its commit appends one row, and the
bucket compacts after _MAX_CHUNKS appends. No row exceeds _MAX_BLOB_BYTES.
One event-time timer per non-empty bucket, at its earliest record's expiry,
empties idle buckets.

Signatures cross every Arrow boundary as ONE packed binary (pack_signature),
and band rows carry a 16-bit-per-slot digest (slot_digests) instead of the
full slots.

At 100 TB/day: everything before the stateful step is map-only; the stateful
operators hold (rate x horizon) band keys — plus, in verify mode, one
num_perm x 2-byte digest per surviving occupant per band (bands x num_perm x
2 ≈ 2 KB/doc at the defaults) plus one full num_perm x 8-byte signature
(+ hash) per distinct doc in the prefilter — and doc counters; state stays
rate x horizon bounded in both modes (asserted in tests).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.stateful_processor import StatefulProcessor

from .joins import interval_ms

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
    # measured 6.5 -> 815 docs/s/core at the defaults
    return let(word_shingles(text, n), build)


def pack_signature(sig: Column) -> Column:
    """array<bigint> MinHash signature -> ONE BinaryType column (8 bytes per
    slot, big-endian), built entirely JVM-side: hex each slot to 16 chars,
    join, one unhex. Null signature -> null binary.

    A binary scalar crosses the Arrow boundary into the Python TWS layer as
    a single bytes object, whereas an Arrow list column lands in pandas as
    one numpy allocation PER ROW (the dominant verify-mode cost on
    all-unique traffic when signatures shipped as lists). The handlers unpack
    with ``np.frombuffer`` only where slot arithmetic is needed."""
    return F.unhex(
        F.array_join(F.transform(sig, lambda x: F.lpad(F.hex(x), 16, "0")), "")
    )


def slot_digests(packed: Column, num_perm: int) -> Column:
    """16-bit-per-slot digest of a pack_signature binary: the low 2 bytes of
    each big-endian 8-byte slot, concatenated (num_perm x 2 bytes).

    The band-grain verify layer compares signatures ONLY for slot EQUALITY
    (the est-Jaccard matching-slot fraction), so shipping the full 64-bit
    slot values through the band shuffle and into state is 4x more bytes
    than the decision needs. xxhash64's low 16 bits are uniform, so a
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


# A bucket's records are re-packed into size-bounded blob rows after this
# many appended chunks, even without an eviction — bounds the chunk-row count
# (and with it the per-batch b"".join fan-in) on long-running streams whose
# horizon has not yet produced an eviction.
_MAX_CHUNKS = 64

# Hard per-row byte bound on any state blob: a compacted bucket's live
# records scale with rate x horizon / buckets, and one list-state element
# that large could reach hundreds of MB at the 100 TB/day regime and trip
# state-transport / Arrow row-size limits. _MAX_CHUNKS stays the COUNT bound,
# applied relative to the floor a compacted bucket necessarily needs.
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


class _BlobStateProcessor(StatefulProcessor):
    """The chunk-blob state store of both verify-mode processors.

    State per grouping key: one ListState ``STATE_NAME`` with schema
    "blob binary". Each row packs many fixed-size records of the subclass's
    ``_fields()`` (always including ``ts``, event time in ms), so any row
    subset decodes with one np.frombuffer. A record is live while
    ts + horizon >= watermark. A commit either rewrites the live records
    plus the new ones (after an eviction, or once the chunk count is
    _compaction_due) or appends the new ones as one more row; every row is
    cut to at most _MAX_BLOB_BYTES. One event-time timer per non-empty key,
    at its earliest record's expiry, physically drops expired records, so
    idle keys shrink to nothing: state is rate x horizon bounded.

    Subclasses set STATE_NAME and ``_fields`` and classify their rows in
    ``handleInputRows`` through ``_rows``, ``_live``, ``_pack`` and
    ``_commit``."""

    def __init__(self, horizon_ms: int, num_perm: int = 64) -> None:
        import numpy as np

        self.horizon_ms = horizon_ms
        self.num_perm = num_perm
        self.dtype = np.dtype(self._fields())

    def init(self, handle) -> None:
        self.handle = handle
        self.blobs = handle.getListState(self.STATE_NAME, "blob binary")

    def _decode(self):
        import numpy as np

        parts = [bytes(e[0]) for e in self.blobs.get()]
        return np.frombuffer(b"".join(parts), dtype=self.dtype), len(parts)

    def _pack(self, **cols):
        """New records, field by field; a list of bytes fills a binary or
        sub-array field."""
        import numpy as np

        new = np.empty(len(next(iter(cols.values()))), dtype=self.dtype)
        for name, col in cols.items():
            new[name] = (
                np.frombuffer(b"".join(col), dtype=self.dtype[name])
                if isinstance(col, list)
                else col
            )
        return new

    @staticmethod
    def _rows(rows):
        """The key's input frames as one frame, its event times in ms and the
        (ts, doc) processing order; None when there are no rows."""
        import numpy as np
        import pandas as pd

        frames = [f for f in rows if len(f)]
        if not frames:
            return None
        pdf = frames[0] if len(frames) == 1 else pd.concat(frames, ignore_index=True)
        ts_ms = pdf["ev_ts"].to_numpy().astype("datetime64[ms]").astype(np.int64)
        return pdf, ts_ms, np.lexsort((pdf["doc"].to_numpy(), ts_ms))

    def _live(self, wm: int):
        """(live records, whether any expired, stored chunk count)."""
        arr, n_chunks = self._decode()
        mask = arr["ts"] + self.horizon_ms >= wm
        evicted = not bool(mask.all())
        return (arr[mask] if evicted else arr), evicted, n_chunks

    def _commit(self, live, evicted: bool, n_chunks: int, new, expiring: bool = False) -> None:
        """Store ``live`` + ``new`` with the fewest state calls: append
        ``new`` as one more row unless an eviction or the chunk count calls
        for a rewrite, and (re-)arm the timer only when the earliest stored
        record may have changed. An eviction first deletes the timer armed
        before it, so the key keeps one, unless it is ``expiring``: then that
        timer is the one firing, which Spark deletes after
        handleExpiredTimer."""
        itemsize = self.dtype.itemsize
        if evicted or (new.size and _compaction_due(n_chunks, live.nbytes)):
            self.blobs.clear()
            if live.size or new.size:
                self.blobs.put(_blob_rows(live.tobytes() + new.tobytes(), itemsize))
        elif new.size:
            self.blobs.appendList(_blob_rows(new.tobytes(), itemsize))
        if live.size and not evicted:
            return
        lo = [int(a["ts"].min()) for a in (live, new) if a.size]
        expiry = min(lo) + self.horizon_ms if lo else None
        if evicted and not expiring:
            for t in list(self.handle.listTimers()):
                if t == expiry:
                    expiry = None  # already armed
                else:
                    self.handle.deleteTimer(t)
        if expiry is not None:
            self.handle.registerTimer(expiry)

    def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
        # evict at the watermark, not at the fired expiry time: the record
        # that armed this timer has ts + horizon == expiry, so an expiry-time
        # filter keeps it and re-arms the same time, which Spark refuses as
        # an existing timer and then deletes with the fired one
        live, _, _ = self._live(timerValues.getCurrentWatermarkInMs())
        self._commit(live, True, 0, live[:0], expiring=True)
        return iter(())


class _ExactSigPrefilter(_BlobStateProcessor):
    """Verify-mode layer (a): suppresses EXACT-signature duplicates at doc
    grain, before banding. Keyed by pmod(h, state_buckets), where h =
    xxhash64 of the packed full signature (shingle-less docs, which can
    never be duplicates, hash by doc id and pass through unstored). The band
    layer then sees 1 row per distinct-content document instead of
    ``bands`` rows per copy.

    Verdict-identical to leaving the copy to the band layer: a document
    whose signature equals an in-horizon earlier document's gets the same
    band keys, hence the same occupants and est-J = 1.0 >= any threshold on
    every band: full suppression, no verdict row — the same absence. Only
    survivors become band occupants, so downstream state is unchanged too.

    Membership is two-stage and exact: an int64 isin of the batch's h
    against the stored h column picks candidate records (no per-record
    Python on all-unique traffic), then byte equality against only those
    records' full signatures decides, so neither a bucket nor a hash
    collision can suppress a distinct document.

    Record: ts >i8 (ms), h >i8, sig V{8 x num_perm}."""

    STATE_NAME = "sigs"

    def _fields(self):
        return [("ts", ">i8"), ("h", ">i8"), ("sig", f"V{8 * self.num_perm}")]

    def handleInputRows(self, key, rows, timerValues):
        import numpy as np

        got = self._rows(rows)
        if got is None:
            return
        pdf, ts_ms, order = got
        live, evicted, n_chunks = self._live(timerValues.getCurrentWatermarkInMs())
        sig_s = pdf["sig"].iloc[order].reset_index(drop=True)
        h = pdf["h"].to_numpy()[order]
        # a zero-length packed binary (an empty-array signature) is
        # shingle-less, never a duplicate
        valid = (sig_s.notna() & (sig_s.str.len() > 0)).to_numpy()
        in_state = np.zeros(len(pdf), dtype=bool)
        hits = np.isin(h, live["h"])
        if hits.any():
            cand = {r.tobytes() for r in live["sig"][np.isin(live["h"], h[hits])]}
            in_state = sig_s.isin(cand).to_numpy()
        # first-arrival-wins in (ts, doc) order: a row is suppressed iff its
        # signature is stored or appeared earlier in the batch
        keep = ~valid | (~in_state & ~sig_s.duplicated(keep="first").to_numpy())
        fresh = valid & keep
        self._commit(
            live,
            evicted,
            n_chunks,
            self._pack(ts=ts_ms[order][fresh], h=h[fresh], sig=sig_s[fresh].tolist()),
        )
        if keep.any():
            yield pdf.iloc[order[keep]][["doc", "ev_ts", "sig"]]


class _BandVerifyProcessor(_BlobStateProcessor):
    """Verify-mode layer (b), the precision layer. Keyed by (mk, bucket)
    where bucket = pmod(hash of the band key, state_buckets); an occupant
    strips a row only when both band coordinates match exactly.

    An incoming row's band is STRIPPED (emit one ``val = -1`` row) only when
    its estimated Jaccard (matching-slot fraction over the 16-bit slot
    digests — the standard unbiased estimator up to 2^-16-per-slot digest
    collisions) against some occupant OF THE SAME BAND KEY reaches
    ``threshold``; otherwise the row becomes an occupant. Fresh bands — the
    overwhelming majority on any corpus — emit NOTHING: the verdict
    aggregation counts ``bands - strips`` from a per-doc MARKER row, so the
    Python->JVM return path carries only collisions. Marker rows (mk == -2,
    doc-hashed bucket, val = ``bands`` or 0 for shingle-less docs) pass
    straight through without touching state.

    A row whose band key is unique in the batch and not stored can neither
    strip nor be stripped, so it is stored in bulk; only contested rows walk
    the per-row est-J loop, in (ts, doc) order.

    Record: bi >i4, bh >i8, ts >i8 (ms), dig >i2 x num_perm."""

    STATE_NAME = "entries"

    def __init__(
        self, threshold: float, horizon_ms: int, num_perm: int = 64
    ) -> None:
        super().__init__(horizon_ms, num_perm)
        self.threshold = threshold

    def _fields(self):
        return [
            ("bi", ">i4"),
            ("bh", ">i8"),
            ("ts", ">i8"),
            ("dig", ">i2", (self.num_perm,)),
        ]

    @staticmethod
    def _ckey(bh, bi):
        # combined (band_hash, band_idx) match key in wrap-around uint64 —
        # identical arithmetic on both sides; a collision only marks a row
        # contested, and the est-J loop re-checks the exact band key
        import numpy as np

        return bh.astype(np.uint64) * np.uint64(131) + bi.astype(np.uint64)

    def handleInputRows(self, key, rows, timerValues):
        import numpy as np
        import pandas as pd

        got = self._rows(rows)
        if got is None:
            return
        pdf, ts_ms, order = got
        if int(key[0]) == -2:
            yield pdf[["doc", "ev_ts", "val"]]
            return
        live, evicted, n_chunks = self._live(timerValues.getCurrentWatermarkInMs())
        bis = pdf["band_idx"].to_numpy()
        bhs = pdf["band_hash"].to_numpy()
        sig_col = pdf["sig"].to_numpy()
        bkey = self._ckey(bhs[order], bis[order])
        skey = self._ckey(live["bh"], live["bi"])
        contested = pd.Series(bkey).duplicated(keep=False).to_numpy() | np.isin(
            bkey, skey
        )
        bulk = order[pd.notna(sig_col[order]) & ~contested]
        # occupant digests under contested keys only: the handful of stored
        # records the per-row loop can touch
        occ: dict[tuple, list] = {}
        for rec in live[np.isin(skey, bkey[contested])]:
            occ.setdefault((int(rec["bi"]), int(rec["bh"])), []).append(rec["dig"])
        strip_idx: list[int] = []
        new_idx: list[int] = []
        for i in order[contested]:
            raw_sig = sig_col[i]
            if raw_sig is None or len(raw_sig) == 0:
                continue  # shingle-less: never occupies, never strips
            sig = np.frombuffer(raw_sig, dtype=">i2")
            k = (int(bis[i]), int(bhs[i]))
            if any(
                len(o) == len(sig) and float((sig == o).mean()) >= self.threshold
                for o in occ.get(k, ())
            ):
                strip_idx.append(i)
            else:
                new_idx.append(i)
                occ.setdefault(k, []).append(sig)
        stored = np.concatenate([bulk, np.array(new_idx, dtype=bulk.dtype)])
        self._commit(
            live,
            evicted,
            n_chunks,
            self._pack(
                bi=bis[stored],
                bh=bhs[stored],
                ts=ts_ms[stored],
                dig=sig_col[stored].tolist(),
            ),
        )
        if strip_idx:
            yield pdf.iloc[strip_idx][["doc", "ev_ts", "val"]]


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
    spark.sql.shuffle.partitions): the chunk-blob state decodes a bucket
    with one frombuffer whatever its size, so the dominant per-key cost is
    the state-server ROUND TRIPS and the optimum is as FEW buckets as still
    spread over the stateful stage's tasks (~2 per task; 64 buckets beat
    2048 by ~20% wall on the 200k-doc all-unique drain, measured in FRESH
    processes — see the bench-protocol note in scripts/bench_lsh_stream.py).

    Emission: verdicts seal when the watermark passes the doc's
    ``seal_window`` bucket (the count of surviving band-rows is an
    event-time aggregation). A document ALL of whose bands collide (e.g. an
    exact duplicate) loses every band-row to the dedup and emits NO verdict
    row at all — consumers keep docs with is_unique (absence = hard
    duplicate).

    STATE FORMAT (verify mode): the ListStates "sigs" (prefilter) and
    "entries" (band layer), schema "blob binary", holding the records laid
    out in each processor's docstring. A record's size depends on num_perm,
    so a checkpoint resumes only under the num_perm it was written with.
    Earlier row-per-record layouts used the same state names, so resuming
    one of their checkpoints fails Spark's state-schema validation LOUDLY
    instead of silently missing duplicates; a change to the record layout
    inside the blobs is invisible to that check and needs a new state name.
    The default mode's dropDuplicatesWithinWatermark state is separate."""
    # band_keys_from_sig enforces this on the default path; verify mode
    # derives r inline (binary slices), so fail fast here for BOTH paths —
    # a non-divisible num_perm would silently drop trailing slots. ValueError
    # (not assert): user-input validation must survive python -O.
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
            # the conf can be non-numeric on AQE-managed platforms
            # ('auto') — fall back to defaultParallelism rather
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
        horizon_ms = interval_ms(watermark)
        # Prefilter keyed by pmod(xxhash64(sig), state_buckets): identical
        # sigs land in the same bucket. Shingle-less docs hash by doc id —
        # xxhash64 NEVER returns null (a null input hashes to the seed), so
        # the dispatch must be an explicit isNotNull branch, not coalesce.
        # The signature crosses every Arrow boundary from here on as ONE
        # packed binary scalar (pack_signature). The FULL (un-bucketed) hash
        # rides along as ``h``: the prefilter's vectorized stage-1
        # membership test.
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
