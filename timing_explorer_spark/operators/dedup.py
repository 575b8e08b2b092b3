"""Deduplication operators for large-scale document corpora.

Four families, all shuffle-light designs meant for 100 TB inputs:

  exact          hash-groupBy on a content fingerprint (one shuffle on the
                 md5 key; no pairwise comparison ever happens)
  ngram-jaccard  exact near-dup via shingle inverted index: explode distinct
                 shingles, self-join on shingle, count co-occurrences. The
                 join key is the *shingle*, so only documents sharing at
                 least one shingle ever meet — no O(n²) cross join.
  minhash-lsh    scale path: fixed-size signature per doc (one seeded
                 xxhash64 MIN-aggregate per slot, no UDF), banded into
                 buckets; only same-bucket docs pair up. Candidates are then
                 verified with exact jaccard, so output precision is exact.
  simhash        64-bit sign-of-sum-of-word-hash sketch; near-dups = small
                 hamming distance. Candidates via 4x16-bit block pigeonhole.

All of these run as pure DataFrame plans (groupBy/join/explode + HOF column
expressions) — map-side combine and AQE skew handling apply automatically.
Common-shingle skew (a shingle present in a large fraction of docs) is the
known hot spot at scale: ``max_shingle_df`` drops such shingles from the
*candidate-generation* join only (they cannot discriminate near-dups anyway).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import fingerprint, word_shingles

# Persisted intermediates (shingle arrays, band indexes, block indexes) are
# tracked here so repeated builds — bench passes, registry re-builds — don't
# accumulate dead cached blocks in executor storage. Callers release them via
# release_cached() once the output DataFrame has been materialized.
_CACHED: list[DataFrame] = []


def _track(df: DataFrame) -> DataFrame:
    _CACHED.append(df.persist())
    return df


def track_cache(df: DataFrame, materialize: bool = False) -> DataFrame:
    """Persist ``df`` under this module's cache tracking (released by
    release_cached()). ``materialize=True`` forces computation NOW — use it
    when a small derived frame (e.g. a near-dup edge list) feeds several
    join legs: without materialization each leg would re-execute the full
    derivation concurrently, multiplying the heaviest stage's memory
    footprint by the fan-out (observed as an OOM-killed JVM in a
    default-1g-heap session at sf0.1)."""
    out = _track(df)
    if materialize:
        out.count()
    return out


def release_cached() -> int:
    """Unpersist every intermediate cached by this module; returns the count.
    Safe to call at any time — the DataFrames are lazily recomputable, and
    entries whose session has already stopped are simply dropped (their
    cached blocks died with the session).

    NOT covered (ADVICE r12): ``localCheckpoint(eager=False)`` blocks (the
    pagerank round cuts in operators/graph.py) — Spark exposes no public
    unpersist for checkpointed DataFrames, so those RDD blocks are released
    by driver GC of the checkpointed RDDs, not by this call. Long sweeps
    that rebuild pagerank repeatedly retain at most one round-set of
    node-grain blocks per live model; lazy localCheckpoint also makes
    executor loss non-recoverable for that job (acceptable in local mode —
    a cluster deployment would use reliable checkpoint() to HDFS instead)."""
    n = 0
    while _CACHED:
        df = _CACHED.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass  # dead session — nothing left to release
    return n




def exact_dedup_groups(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Group documents by content fingerprint; emit one row per distinct
    content with the representative (min id) and multiplicity."""
    return (
        docs.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias("rep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def _shingled_arrays(docs: DataFrame, n: int, text_col: str, id_col: str) -> DataFrame:
    """Cached (doc, __arr: array<string>) — the distinct shingle SET per doc.

    Computed once and persisted at one row per doc (far smaller than the
    exploded index); sizes come from the array length — no aggregation pass
    over the exploded rows. Downstream consumers re-explode from the cached
    arrays (cheap, stays in codegen).

    Spread the docs BEFORE shingling: the input is typically few/large files
    (one scan task), and the HOF shingle computation is the heaviest per-row
    work in the plan — redistributing the raw docs first is a tiny shuffle
    (ids + text) that parallelizes it across the cluster. Spread = core count
    (defaultParallelism), not shuffle.partitions: the goal is one shingling
    task per core; a foreign session's 200-partition default would just make
    200 micro-tasks of 500 docs. Width is data-proportional below the core
    cap (operators/width.py, r12) — tiny fixtures stop paying for idle
    tasks; at scale this is exactly the core count as before.
    """
    from .width import adaptive_width

    spread = adaptive_width(docs)
    return _track(
        docs.repartition(spread).select(
            F.col(id_col).alias("doc"), word_shingles(F.col(text_col), n).alias("__arr")
        )
    )


def jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact n-gram-Jaccard near-duplicate pairs (doc_a < doc_b, jaccard ≥ t).

    Inverted-index self-join: |common shingles| per pair, then
    J = c / (|A| + |B| - c). ``max_shingle_df`` (document-frequency cap)
    prunes degenerate super-common shingles from candidate generation at
    scale; leave None for oracle-exact semantics.
    """
    # Width of the pair-generation stage: CPU-heavy, byte-light — so size it
    # to the cores available (defaultParallelism), not shuffle.partitions,
    # which is tuned for byte-heavy exchanges (8 in the bench session) and
    # would leave most cores idle during the Σ df(s)² blow-up. But a core-
    # count width over-partitions SMALL inputs (r12: at sf0.1 the whole
    # index is <2 MB and 32 tasks×stages of scheduling overhead made those
    # queries slower at 32 cores than at 8 — inverse core scaling). Width
    # from plan-time input stats instead (adaptive_width).
    # The PAIR stage gets 4x the density of the shingling stage (64 KB of
    # source bytes per task vs 256 KB — ADVICE r12): its cost is the
    # quadratic Σ df(s)² blow-up, not source bytes, so per source byte it
    # deserves more cores. Same-session ABAB at sf0.1 (r13): width 3 (the
    # r12 value) 3.01 s -> width 10 1.31 s min-of-5 on the exact-jaccard
    # pair join. At corpus scale both clamp to defaultParallelism — the
    # 100 TB plan is unchanged.
    from .width import adaptive_width

    n_parts = adaptive_width(docs, bytes_per_task=64 << 10)
    shingled = _shingled_arrays(docs, n, text_col, id_col)
    sizes = shingled.select("doc", F.size("__arr").alias("sz"))
    # Join on xxhash64(shingle), not the shingle string: the self-join key
    # shrinks to 8 bytes (smaller shuffle, cheaper equality) — measured ~20%
    # off the whole query. A collision only matters if two DIFFERENT shingles
    # hash equal AND co-occur across one candidate pair; expected collisions
    # ~D²/2^65 over D distinct shingles (≈1e-6 at the fixtures' 6e6, and a
    # jaccard shift of 1/|union| per hit at corpus scale — widen to a
    # two-seed 128-bit struct key if D approaches 1e12). xxhash64 is a fixed
    # function, so results stay deterministic across runs/partitionings.
    idx = shingled.select("doc", F.explode("__arr").alias("__s")).select(
        "doc", F.xxhash64("__s").alias("s")
    )
    if max_shingle_df is not None:
        rare = idx.groupBy("s").agg(F.count(F.lit(1)).alias("df")).where(F.col("df") <= max_shingle_df)
        idx = idx.join(rare.select("s"), "s")
    # Pin the self-join's partitioning explicitly: the pair blow-up is
    # CPU-heavy but byte-light, so AQE's size-based coalescing would fold it
    # into one task. An explicit N survives AQE and spreads Σ df(s)² work.
    idx = idx.repartition(n_parts, "s")
    a = idx.alias("a")
    b = idx.alias("b")
    common = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    return (
        common.join(sa, F.col("doc_a") == F.col("sa.doc"))
        .join(sb, F.col("doc_b") == F.col("sb.doc"))
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("c").cast("double")
                / (F.col("sa.sz") + F.col("sb.sz") - F.col("c")).cast("double")
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def minhash_signatures(
    docs: DataFrame,
    num_perm: int = 64,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """(id, signature array<bigint>[num_perm]) — entirely JVM-side.

    Signature slot i = min over shingles of xxhash64(shingle, seed+i): one
    independent seeded hash per slot. NOT an affine permutation
    (a*h+b) mod P of a folded base hash — with h < 2^31 and P = 2^61-1 the
    product wraps at most once, so that map is nearly order-preserving in h
    and the smallest base hash wins most slots (measured: two docs with
    J=0.9 agreed on only 31% of slots, silently destroying LSH recall).

    Shape: explode shingles to rows, then num_perm plain MIN() aggregate
    expressions in one hash aggregation. Flat codegen'd expressions beat the
    nested-higher-order-function formulation by >10x (HOF lambdas evaluate
    interpreted, measured 45 s -> ~2 s at sf0.01), and partial (map-side) MIN
    makes the single shuffle carry only num_perm longs per document — the
    100 TB-friendly layout. Documents with < n tokens have no shingles and
    drop out (they cannot be near-duplicates under shingle Jaccard).
    """
    shingled = docs.select(
        F.col(id_col).alias("doc"), word_shingles(F.col(text_col), n).alias("__arr")
    )
    return _signatures_from_shingled(shingled, num_perm, seed)


def _signatures_from_shingled(shingled: DataFrame, num_perm: int, seed: int) -> DataFrame:
    """Signatures from a (doc, __arr) shingle-set frame (see minhash_signatures)."""
    exploded = shingled.select("doc", F.explode("__arr").alias("s"))
    mins = [
        F.min(F.xxhash64(F.col("s"), F.lit(seed + i))).alias(f"m{i}")
        for i in range(num_perm)
    ]
    return (
        exploded.groupBy("doc")
        .agg(*mins)
        .select("doc", F.array(*[F.col(f"m{i}") for i in range(num_perm)]).alias("sig"))
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    num_perm: int = 128,
    bands: int = 32,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """MinHash+LSH near-dup pairs, verified: banded signatures bucket the
    candidates (only same-(band, band-hash) docs join), then each CANDIDATE
    PAIR is re-checked with exact set Jaccard over the cached shingle arrays
    (array_intersect — JVM-side, no UDF) — output = (doc_a, doc_b, jaccard ≥
    t) with exact precision; recall is the LSH S-curve. Defaults are 32
    bands x 4 rows (128 perms): per-pair miss probability at J=0.8 is
    (1 - 0.8^4)^32 ≈ 2e-8, so the output equals the exact-Jaccard pair set
    for corpora far beyond the fixtures (the previous 16x4 layout measurably
    missed pairs at sf0.1 — per-pair miss 2e-4 over thousands of true
    pairs). Verified against the exact oracle at sf0.01 AND sf0.1.

    This is the scale path: verification cost is O(|candidates| · avg shingle
    set size), NOT the full inverted-index self-join that exact
    ``jaccard_pairs`` pays — at 100 TB the candidate set from banding is
    orders of magnitude smaller than the all-shared-shingle pair set.
    """
    rows = num_perm // bands
    # One shingling pass feeds BOTH the signatures and the verification step.
    shingled = _shingled_arrays(docs, n, text_col, id_col)
    # persist: CollapseProject would otherwise inline the signature expression
    # into the band-explode lambda, re-evaluating it once per band (16x).
    sigs = _track(_signatures_from_shingled(shingled, num_perm, seed=42))
    banded = _track(_band_index(sigs, bands, rows))  # both self-join sides
    # MATERIALIZE the two corpus-grain join sides before the join plans:
    # Catalyst's static estimate of a not-yet-computed cached projection
    # undershoots the broadcast threshold, and at 500k docs it planned the
    # 8M-row band index AND the 1-GiB shingle table as BroadcastExchanges
    # (driver maxResultSize abort). With the caches computed, join strategy
    # follows the REAL sizes at every scale: tiny corpora still broadcast
    # (fast), large ones plan shuffle joins (the only shape that survives
    # 100 TB). Counting banded materializes the shingled->sigs chain too.
    banded.count()
    a = banded.alias("a")
    b2 = banded.alias("b")
    cands = (
        a.join(
            b2,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .distinct()
    )
    # Exact verification on candidates only: join each pair to its two cached
    # shingle sets and compute J = |A∩B| / (|A| + |B| - |A∩B|). The shingle
    # cache is materialized (above), so these joins also plan from real
    # sizes — broadcast at toy scale, shuffle at corpus scale.
    sa = shingled.select(F.col("doc").alias("doc_a"), F.col("__arr").alias("__arr_a"))
    sb = shingled.select(F.col("doc").alias("doc_b"), F.col("__arr").alias("__arr_b"))
    inter = F.size(F.array_intersect("__arr_a", "__arr_b"))
    union = F.size("__arr_a") + F.size("__arr_b") - inter
    return (
        cands.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (inter.cast("double") / union.cast("double")).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def _band_index(sigs: DataFrame, bands: int, rows: int) -> DataFrame:
    return sigs.select(
        "doc",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda i: F.struct(
                    i.alias("band"),
                    F.concat_ws("-", F.slice(F.col("sig"), i * rows + 1, rows)).alias("bkey"),
                ),
            )
        ).alias("b"),
    ).select("doc", F.col("b.band").alias("band"), F.col("b.bkey").alias("bkey"))


def simhash_sketches(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 64
) -> DataFrame:
    """(id, simhash bigint): per token-hash bit votes folded with aggregate/
    zip_with; bit j of the sketch = sign of the vote sum. Pure column
    expressions, single pass over tokens."""
    token_hashes = F.transform(
        F.array_distinct(F.split(F.col(text_col), r"\s+")), lambda t: F.xxhash64(t)
    )
    # Bit positions are unrolled in Python (shiftright needs a literal count);
    # the per-token vote vector is a fixed 64-wide array expression.
    votes = F.aggregate(
        token_hashes,
        F.array_repeat(F.lit(0).cast("long"), bits),
        lambda acc, h: F.zip_with(
            acc,
            F.array(
                *[
                    F.when(F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
                    for j in range(bits)
                ]
            ),
            lambda x, y: x + y.cast("long"),
        ),
    )
    # Fold votes -> bits with ONE reference to the votes expression (64
    # separate bit columns would re-evaluate the whole vote fold 64x). The
    # powers array supplies 2^j literals; bit 63 is long-min in two's
    # complement.
    powers = F.array(
        *[F.lit((1 << j) if j < bits - 1 else -(1 << (bits - 1))).cast("long") for j in range(bits)]
    )
    sketch = F.aggregate(
        F.zip_with(votes, powers, lambda v, p: F.when(v > 0, p).otherwise(F.lit(0).cast("long"))),
        F.lit(0).cast("long"),
        lambda acc, x: acc.bitwiseOR(x),
    )
    return docs.select(F.col(id_col).alias("doc"), sketch.alias("simhash"))


def simhash_pairs(
    docs: DataFrame,
    max_hamming: int = 10,
    n_blocks: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-dup pairs by simhash hamming distance ≤ max_hamming.

    Pigeonhole candidate generation: 64 bits split into ``n_blocks`` equal
    blocks; any pair within distance n_blocks-1 shares at least one exact
    block, so candidates = equi-join on (block idx, block value), verified
    with bit_count(XOR). Default 16 x 4-bit blocks covers d ≤ 15 — small
    documents vote weakly per bit, so true near-dups land around d≈5-10
    (measured on the test corpus). Narrower blocks mean more candidate
    collisions; at scale, trade block width against max_hamming (8 x 8-bit
    blocks for d ≤ 7 halves the join fan-out)."""
    sk = simhash_sketches(docs, text_col, id_col)
    return hamming_pairs(sk, max_hamming=max_hamming, n_blocks=n_blocks)


def hamming_pairs(
    sketches: DataFrame,
    max_hamming: int = 10,
    n_blocks: int = 16,
    id_col: str = "doc",
    sketch_col: str = "simhash",
) -> DataFrame:
    """The 64-bit hamming-distance pigeonhole join, shared by SimHash text
    near-dup (above) and perceptual image hashes (multimodal/phash.py):
    ``sketches`` is any (id, 64-bit sketch) table; candidates = equi-join on
    (block idx, block value), verified with bit_count(XOR). Returns
    (doc_a, doc_b, hamming). Guarantee: complete for distance <= n_blocks-1
    (any such pair shares at least one exact block)."""
    assert 64 % n_blocks == 0
    width = 64 // n_blocks
    mask = (1 << width) - 1
    sk = sketches.select(
        F.col(id_col).alias("doc"), F.col(sketch_col).alias("simhash")
    )
    # persist (tracked): the block index feeds both sides of the candidate
    # self-join, and sketch construction (64-wide vote folds / image DCT) is
    # the expensive part.
    blocks = _track(sk.select(
        "doc",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("blk"),
                        F.shiftright(F.col("simhash"), i * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("bval"),
                    )
                    for i in range(n_blocks)
                ]
            )
        ).alias("b"),
    ).select("doc", "simhash", F.col("b.blk").alias("blk"), F.col("b.bval").alias("bval")))
    a = blocks.alias("a")
    b = blocks.alias("b")
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.bval") == F.col("b.bval"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"),
        )
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )


def resolve_components(pairs: DataFrame, a_col: str = "doc_a", b_col: str = "doc_b",
                       max_iters: int = 20, n_parts: int = 8) -> DataFrame:
    """Connected components over near-dup pairs → (doc, rep) where rep is the
    minimum doc id in the component — the canonical-representative step that
    turns pairwise near-dup output into "keep one copy per cluster".

    Min-label propagation: every node starts as its own rep; each round a
    node adopts the minimum rep among itself and its neighbors. Converges in
    O(component diameter) rounds — near-dup clusters are shallow (dups of
    dups of one source), so this terminates in a handful of bounded-size
    shuffles; the loop exits at fixpoint (no labels changed) and is capped by
    ``max_iters`` as a runaway guard.

    Scale: each round is one groupBy over the (symmetrized) edge list joined
    to the label table — both keyed by doc id, so at 100 TB this is a
    sequence of co-partitioned shuffles; labels are persisted per round and
    unpersisted after. This is the standard Spark CC pattern (the GraphX /
    GraphFrames algorithm without the library dependency).
    """
    # Iterative loops materialize per round, and cached plans bypass AQE
    # coalescing — so the loop's shuffle width must be set explicitly
    # (``n_parts``; size to the edge count at your scale, not the session's
    # global shuffle.partitions, which e.g. defaults to 200 and would launch
    # 200 tasks per round over a few thousand edges).
    sess = pairs.sparkSession
    saved = sess.conf.get("spark.sql.shuffle.partitions")
    sess.conf.set("spark.sql.shuffle.partitions", str(n_parts))
    try:
        # Materialize the pair derivation ONCE before symmetrizing: the union
        # reads `pairs` twice, and without a computed cache both reads would
        # execute the (potentially heavy) upstream plan concurrently in one
        # job — 2x its peak memory in a small-heap session.
        pairs = _track(pairs)
        pairs.count()
        edges = (
            pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
            .unionByName(pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst")))
            .distinct()
            .persist()
        )
        # materialize the symmetrized edges NOW and drop the pair cache:
        # edges is the only consumer of pairs, and keeping both resident
        # for the whole loop doubled cached bytes — measured to OOM an 8g
        # single-JVM session at 60M edges (bench_linkgraph_skew --sf10) where
        # either cache alone fits comfortably. Unpersist is safe even if
        # the caller re-reads `pairs` (it just recomputes).
        edges.count()
        pairs.unpersist()
        labels = (
            edges.select(F.col("src").alias("doc")).distinct().withColumn("rep", F.col("doc"))
        ).persist()
        persisted = labels  # the handle actually holding cached blocks

        for _ in range(max_iters):
            neighbor_min = (
                edges.join(labels, edges.src == labels.doc)
                .groupBy(F.col("dst").alias("doc"))
                .agg(F.min("rep").alias("nbr_rep"))
            )
            # localCheckpoint, not persist: it materializes the round AND
            # truncates the logical lineage. Without the cut, each round's
            # plan embeds the previous round's tree TWICE (the label join +
            # the neighbor_min join), so the tree grows 2^rounds — a
            # deep-diameter graph (the r9 link graph needs ~10+ rounds)
            # blows the DRIVER heap merely rendering the plan string in a
            # default-memory session. Same blocks-on-executors lifecycle as
            # persist; on a fault-tolerant cluster run use checkpoint() with
            # a reliable dir instead (the GraphFrames convention).
            new_labels = (
                labels.join(neighbor_min, "doc", "left")
                .select(
                    "doc",
                    F.least(
                        F.col("rep"), F.coalesce(F.col("nbr_rep"), F.col("rep"))
                    ).alias("rep"),
                    (F.col("nbr_rep") < F.col("rep")).alias("__changed"),
                )
            ).localCheckpoint()
            changed = new_labels.where(F.col("__changed")).count()
            persisted.unpersist()
            persisted = new_labels
            labels = new_labels.drop("__changed")
            if changed == 0:
                break
        edges.unpersist()
        _CACHED.append(persisted)  # release via release_cached() once consumed
        return labels
    finally:
        sess.conf.set("spark.sql.shuffle.partitions", saved)


def containment_pairs(
    docs: DataFrame,
    threshold: float = 0.9,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Shingle-containment near-dup pairs: C(A,B) = |A∩B| / min(|A|,|B|) ≥ t.

    Containment is the subset-duplicate detector Jaccard misses: a document
    quoted whole inside a much larger one has tiny Jaccard (the union is
    dominated by the big doc) but containment ≈ 1 (Broder 1997's "resemblance
    vs containment" distinction). Same inverted-index candidate generation as
    ``jaccard_pairs`` — only docs sharing a shingle ever meet, the self-join
    key is the 8-byte xxhash64 of the shingle, and the shingle arrays come
    from the shared per-doc cache (computed once across both operators).
    Scale shape is identical to jaccard: one bucketed self-join, no O(n²).
    """
    n_parts = docs.sparkSession.sparkContext.defaultParallelism
    shingled = _shingled_arrays(docs, n, text_col, id_col)
    sizes = shingled.select("doc", F.size("__arr").alias("sz"))
    idx = shingled.select("doc", F.explode("__arr").alias("__s")).select(
        "doc", F.xxhash64("__s").alias("s")
    )
    if max_shingle_df is not None:
        rare = idx.groupBy("s").agg(F.count(F.lit(1)).alias("df")).where(F.col("df") <= max_shingle_df)
        idx = idx.join(rare.select("s"), "s")
    idx = idx.repartition(n_parts, "s")
    a = idx.alias("a")
    b = idx.alias("b")
    common = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    return (
        common.join(sa, F.col("doc_a") == F.col("sa.doc"))
        .join(sb, F.col("doc_b") == F.col("sb.doc"))
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("c").cast("double")
                / F.least(F.col("sa.sz"), F.col("sb.sz")).cast("double")
            ).alias("containment"),
        )
        .where(F.col("containment") >= threshold)
    )
