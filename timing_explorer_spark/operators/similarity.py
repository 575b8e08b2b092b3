"""Similarity search over embedding columns.

Baseline: brute-force cosine top-k — exact, O(|queries| * |corpus|); correct
at test scale and the right tool whenever the query set is small (broadcast
the queries, never the corpus). Scale path: random-hyperplane LSH — bucket
corpus and queries by sign-bit sketches so only same-bucket vectors meet,
turning the quadratic join into a bucketed equi-join (recall measured in
tests/test_similarity.py). Embedding near-dup (cosine ≥ t over all pairs)
reuses the same machinery.

Sparse and candidate work (brute force, LSH, IVF candidate scoring, the
SemDeDup pair stage, ADC sums) is JVM-side column arithmetic
(zip_with/aggregate). Dense algebra is the one exception: seven
Arrow-batched numpy kernels in ``mapInPandas`` (all-pairs NN and near-dup,
IVF assignment and residuals, PQ encoding, the two fused IVF-PQ scans),
each composed from the worker-side helpers below, so every numpy decision
(float64 matrix, zero-safe normalization, centroid scoring, bucket order,
PQ code choice) is written once.
"""

from __future__ import annotations

import functools
import os
import random

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vectors import as_double, cosine_prenormed
from ..functions.vectors import norm as vnorm


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors for each query vector (excluding self-matches):
    broadcast the (small) query side against the corpus, rank per query.
    Output: (query_id, neighbor_id, cos, rank)."""
    # Norms ride each SIDE of the join (one fold per row), so the per-PAIR
    # work is one dot fold instead of three (r12, cosine_prenormed).
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        vnorm(F.col(vec_col)).alias("cn"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        vnorm(F.col(vec_col)).alias("qn"),
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_prenormed(
                F.col("qvec"), F.col("cvec"), F.col("qn"), F.col("cn")
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return scored.select("*", F.row_number().over(w).alias("rank")).where(F.col("rank") <= k)


# ---- Worker-side numpy helpers: the dense kernels below compose these ----


def _matrix(vectors) -> np.ndarray:
    """An Arrow-batched array column (a pandas Series of arrays) as a
    float64 (rows, dim) matrix."""
    return np.vstack(vectors.to_numpy()).astype(np.float64)


def _unit_rows(X: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(X with every row scaled to unit L2 norm, mask of its zero-norm
    rows). A zero row has no direction: it stays the zero vector (its norm
    counts as 1) instead of turning into NaN."""
    norms = np.linalg.norm(X, axis=1, keepdims=True)
    zero = norms[:, 0] == 0
    norms[zero] = 1.0
    return X / norms, zero


class _Centroids:
    """Nearest-centroid scoring against one centroid matrix (IVF coarse
    centroids or one PQ codebook). argmin ||c - x|| == argmax c.x -
    ||c||^2/2, so ``scores`` is one matmul and the nearest centroid has the
    highest score."""

    def __init__(self, centers) -> None:
        self.C = np.asarray(centers, dtype=np.float64)  # (k, d)
        self.half_sq = (self.C * self.C).sum(axis=1) / 2.0

    def scores(self, X: np.ndarray) -> np.ndarray:
        return X @ self.C.T - self.half_sq  # (rows, k)


def _best_first(scores: np.ndarray, n: int) -> np.ndarray:
    """Each row's ``n`` highest-scoring columns, best first (the IVF bucket
    order: argsort of the negated scores, whose tie order argmax need not
    share)."""
    return np.argsort(-scores, axis=1)[:, :n]


def _subspaces(X: np.ndarray, books: list[_Centroids]):
    """(codebook j, the j-th contiguous subvector block of X) pairs."""
    sub = books[0].C.shape[1]
    return [(book, X[:, j * sub : (j + 1) * sub]) for j, book in enumerate(books)]


def _pq_codes(X: np.ndarray, books: list[_Centroids]) -> np.ndarray:
    """(rows, m) int32 PQ codes: code j is the nearest centroid of codebook
    j to the j-th subvector."""
    return np.stack(
        [book.scores(piece).argmax(axis=1) for book, piece in _subspaces(X, books)], axis=1
    ).astype(np.int32)


def _map_batches(df: DataFrame, cols, schema: str, fn) -> DataFrame:
    """``df.select(*cols).mapInPandas``: ``fn`` maps each non-empty pandas
    batch to a dict of output columns."""

    def run(batches):
        import pandas as pd

        for pdf in batches:
            if not pdf.empty:
                yield pd.DataFrame(fn(pdf))

    return df.select(*cols).mapInPandas(run, schema)


def _sql_type(df: DataFrame, col: str) -> str:
    return df.schema[col].dataType.simpleString()


# Per-worker-process cache of the build sides that executor tasks load from
# parquet: (path, id_col, vec_col) -> (stamp, (ids, matrix)). A Python worker
# is reused across tasks, so each worker pays the read once per corpus, which
# is exactly the footprint a Spark broadcast would have on that worker —
# minus the driver copy and the driver→executor transfer. The stamp is the
# path's (st_mtime_ns, st_size), worker_daemon.py's rule: a rewritten file is
# read again and its entry replaced.
_WORKER_MATRIX_CACHE: dict = {}


def _worker_load_matrix(corpus_path: str, id_col: str, vec_col: str):
    """Executor-side: load (ids, float64 matrix) for the build side of a dense
    self-join straight from parquet. Runs ON WORKERS (inside mapInPandas) —
    the driver never materializes the corpus (round-2 verdict, "What's wrong"
    #3: `toPandas()` of the whole corpus would OOM the driver at 100× scale).
    In local mode the path is a local file; on a cluster it is the same
    object-store/DFS path every executor can read — the standard
    "replicated build side by re-read" map-join pattern. A path the worker
    cannot stat (not a local file) has no stamp and is read every call."""
    key = (corpus_path, id_col, vec_col)
    # stat before reading: a write racing the read leaves a stale stamp,
    # so the next call reads again
    try:
        st = os.stat(corpus_path)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    hit = _WORKER_MATRIX_CACHE.get(key)
    if stamp is not None and hit is not None and hit[0] == stamp:
        return hit[1]
    import pyarrow.dataset as ds

    tbl = ds.dataset(corpus_path).to_table(columns=[id_col, vec_col])
    ids = tbl.column(id_col).to_numpy()
    flat = tbl.column(vec_col).combine_chunks().flatten()
    mat = flat.to_numpy(zero_copy_only=False).astype(np.float64).reshape(len(ids), -1)
    if stamp is not None:
        _WORKER_MATRIX_CACHE[key] = (stamp, (ids, mat))
    return ids, mat


def _dense_self_join(
    corpus: DataFrame, id_col: str, vec_col: str, corpus_path: str | None, kernel, schema: str
) -> DataFrame:
    """Run ``kernel(build_ids, build_matrix, batches)`` over the corpus's
    (vid, v) Arrow batches with the whole corpus as the build side. With
    ``corpus_path`` (every registered query) each Python worker loads it
    from parquet (_worker_load_matrix): zero driver materialization.
    Without one (a frame not backed by a file) the driver collects and
    broadcasts it, which bounds it by driver memory (~1M x 64 = 512 MB)."""
    side = corpus.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("v"))
    if corpus_path is None:
        pdf = side.toPandas()
        bc = corpus.sparkSession.sparkContext.broadcast((pdf["vid"].to_numpy(), _matrix(pdf["v"])))
        build = lambda: bc.value  # noqa: E731
    else:
        build = lambda: _worker_load_matrix(corpus_path, id_col, vec_col)  # noqa: E731
    return side.mapInPandas(lambda batches: kernel(*build(), batches), schema)


def nearest_neighbor_all(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    corpus_path: str | None = None,
) -> DataFrame:
    """Top-1 neighbor for EVERY corpus vector (all-pairs cosine), exact.

    Dense linear algebra is the one place where column expressions lose to
    Arrow-batched numpy by orders of magnitude (BLAS matmul vs per-element
    expression eval — measured 88 s vs <2 s at sf0.1), so this uses
    mapInPandas: each partition computes a (batch x N) matmul against the
    full L2-normalized corpus matrix (build side: _dense_self_join). Past
    ~10^7 vectors prefer lsh_topk / ivf_topk — all-pairs exact NN over
    100 TB is not a thing regardless of engine.

    Ties go to the earliest build-side position. A zero vector has no
    direction, so every cosine it takes part in is NaN (NULL), and NaN ranks
    below every number: a query whose cosines are all NaN gets the lowest
    other id with cos NULL — the registered oracle's ``ORDER BY cos DESC,
    neighbor_id`` with NULLs last; a one-vector corpus has no row.

    Each partition is a Python task, and a Python task's fixed cost is not
    the JVM's ~3-5 ms scheduling floor: the worker's per-task setup comes on
    top. On Python < 3.12 that setup re-read pyspark's zip archives, ~0.2 s
    of CPU per task against 2-4 ms of matmul at sf0.01, until the engine's
    worker daemon made the re-read lazy (OPERATORS.md, "Python worker
    daemon", has the per-task cost left).
    """
    return _dense_self_join(
        corpus, id_col, vec_col, corpus_path, _nn_top1,
        "query_id long, neighbor_id long, cos double",
    )


def _nn_top1(b_ids, b_mat, batches):
    import pandas as pd

    b_unit, b_zero = _unit_rows(b_mat)
    b_zero = np.flatnonzero(b_zero)  # usually empty: the masking below is free
    b_pos = {int(i): p for p, i in enumerate(b_ids)}
    for batch in batches:
        q, q_zero = _unit_rows(_matrix(batch["v"]))
        sims = q @ b_unit.T
        sims[:, b_zero] = -np.inf  # NaN cosines rank below every number
        sims[q_zero] = -np.inf
        qids = batch["vid"].to_numpy()
        for row, qid in enumerate(qids):
            sims[row, b_pos[int(qid)]] = -np.inf  # exclude self
        best = sims.argmax(axis=1)
        nid, cos = b_ids[best], sims[np.arange(len(qids)), best]
        dead = cos == -np.inf  # no defined cosine: the lowest other id, NULL
        if dead.any():
            lo = np.sort(b_ids)[:2]
            nid[dead] = np.where(qids[dead] == lo[0], lo[-1], lo[0])
            cos[dead] = np.nan
            keep = nid != qids  # a lone vector has no other id: no row
            qids, nid, cos = qids[keep], nid[keep], cos[keep]
        yield pd.DataFrame({"query_id": qids, "neighbor_id": nid, "cos": cos})


def embedding_neardup_pairs(
    corpus: DataFrame,
    threshold: float = 0.45,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    corpus_path: str | None = None,
) -> DataFrame:
    """All pairs with cosine ≥ threshold (embedding near-duplicate check).

    Dense algebra on the Arrow fast path (same rationale and build side as
    nearest_neighbor_all): each partition computes a (batch x N) matmul
    against the full corpus matrix and emits only its thresholded pairs with
    id_a < id_b — so every unordered pair is scored exactly once and the
    output stays sparse. Replaces a BroadcastNestedLoopJoin with a per-pair
    interpreted HOF fold (measured 85 s -> ~2 s at sf0.1). BLAS pairwise
    summation differs from the sequential fold only in the last ~2 ulps —
    far inside the 9-significant-digit oracle tolerance. A zero vector's
    cosines are NaN and pass no threshold. Past the full matrix, the LSH
    prefilter (lsh_topk)."""
    return _dense_self_join(
        corpus, id_col, vec_col, corpus_path,
        functools.partial(_neardup_pairs, threshold),
        "id_a long, id_b long, cos double",
    )


def _neardup_pairs(threshold, b_ids, b_mat, batches):
    import pandas as pd

    b_norms = np.linalg.norm(b_mat, axis=1)
    for batch in batches:
        q = _matrix(batch["v"])
        qids = batch["vid"].to_numpy()
        cos = (q @ b_mat.T) / np.outer(np.linalg.norm(q, axis=1), b_norms)
        # id_a < id_b keeps each unordered pair exactly once.
        r, c = np.nonzero((cos >= threshold) & (qids[:, None] < b_ids[None, :]))
        yield pd.DataFrame({"id_a": qids[r], "id_b": b_ids[c], "cos": cos[r, c]})


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def lsh_bucket(vec_col, planes: list[list[float]]):
    """Sign-bit sketch of a vector against fixed random hyperplanes -> int
    bucket id. Same-bucket vectors are 'probably close' (cosine LSH)."""
    bits = [
        F.when(
            F.aggregate(
                F.zip_with(as_double(vec_col), F.array(*[F.lit(p) for p in plane]), lambda x, y: x * y),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            > 0,
            F.lit(1 << i),
        ).otherwise(F.lit(0))
        for i, plane in enumerate(planes)
    ]
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 3,
    n_tables: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: OR-amplified cosine LSH. Each of ``n_tables``
    sketches buckets the corpus; a query meets only the union of its buckets.
    The candidate join is an equi-join on (table, bucket) — linear shuffle, no
    cross join — then exact cosine ranks the shortlist. Recall vs
    brute_force_topk is asserted in tests (≥0.8 for top-10 at sf0.01)."""
    tables = [
        (t, _hyperplanes(dim, n_planes, seed=1000 + t)) for t in range(n_tables)
    ]

    def bucketed(df: DataFrame, idname: str, vecname: str) -> DataFrame:
        # Norm computed once per VECTOR, before the per-table explode and
        # the candidate join (r12, cosine_prenormed).
        out = df.select(
            F.col(id_col).alias(idname),
            F.col(vec_col).alias(vecname),
            vnorm(F.col(vec_col)).alias(f"{vecname}_n"),
        )
        pairs = F.array(
            *[
                F.struct(F.lit(t).alias("tbl"), lsh_bucket(F.col(vecname), planes).alias("bkt"))
                for t, planes in tables
            ]
        )
        return out.select(idname, vecname, f"{vecname}_n", F.explode(pairs).alias("tb")).select(
            idname, vecname, f"{vecname}_n",
            F.col("tb.tbl").alias("tbl"), F.col("tb.bkt").alias("bkt"),
        )

    c = bucketed(corpus, "neighbor_id", "cvec")
    q = bucketed(queries, "query_id", "qvec")
    cands = (
        c.join(q, ["tbl", "bkt"])
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "qvec", "qvec_n", "neighbor_id", "cvec", "cvec_n")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        cands.select(
            "query_id",
            "neighbor_id",
            cosine_prenormed(
                F.col("qvec"), F.col("cvec"), F.col("qvec_n"), F.col("cvec_n")
            ).alias("cos"),
        )
        .select("*", F.row_number().over(w).alias("rank"))
        .where(F.col("rank") <= k)
    )


def ivf_train_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    seed: int = 42,
    max_iter: int = 10,
    vec_col: str = "embedding",
    sample_fraction: float | None = None,
) -> list[list[float]]:
    """Train IVF coarse centroids with distributed k-means over L2-normalized
    vectors (pyspark.ml). The model itself is O(n_centroids x dim) — it lives
    on the driver and broadcasts; training is one bounded ml job. At 100 TB
    you train on a sample (``sample_fraction``): centroid quality needs only
    ~100x n_centroids points, not the corpus."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.feature import Normalizer
    from pyspark.ml.functions import array_to_vector

    train = corpus.select(array_to_vector(as_double(F.col(vec_col))).alias("raw"))
    if sample_fraction is not None:
        train = train.sample(fraction=sample_fraction, seed=seed)
    train = Normalizer(p=2.0, inputCol="raw", outputCol="features").transform(train)
    model = KMeans(k=n_centroids, seed=seed, maxIter=max_iter, featuresCol="features").fit(
        train
    )
    # clusterCenters() returns numpy arrays on pyspark>=3.5 connect-free builds
    return [list(map(float, c)) for c in model.clusterCenters()]


def ivf_assign(
    df: DataFrame,
    centers: list[list[float]],
    id_col: str,
    vec_col: str,
    n_probe: int = 1,
    id_alias: str | None = None,
    vec_alias: str | None = None,
) -> DataFrame:
    """Assign each vector to its ``n_probe`` nearest centroids (euclidean on
    the L2-normalized vector == cosine order against fixed centers:
    argmin ||c - x|| == argmax c.x - ||c||^2/2). A zero vector scores
    -||c||^2/2 everywhere, so it lands in the centroid of smallest norm.

    Dense (batch x centroids) scoring is a numpy matmul via Arrow batches —
    the same dense-algebra exception as nearest_neighbor_all; the centroid
    matrix rides the closure (n_centroids x dim doubles, KBs). Output has one
    row per (vector, probed bucket), best bucket first."""
    cq = _Centroids(centers)
    n_probe = min(n_probe, len(centers))
    ida = id_alias or id_col
    va = vec_alias or vec_col

    def assign(pdf):
        order = _best_first(cq.scores(_unit_rows(_matrix(pdf[vec_col]))[0]), n_probe)
        return {
            ida: np.repeat(pdf[id_col].to_numpy(), n_probe),
            va: [v for v in pdf[vec_col] for _ in range(n_probe)],
            "bucket": order.reshape(-1).astype("int32"),
        }

    schema = f"{ida} {_sql_type(df, id_col)}, {va} array<float>, bucket int"
    return _map_batches(df, (id_col, vec_col), schema, assign)


def ivf_residuals(
    df: DataFrame,
    centers: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    id_alias: str | None = None,
) -> DataFrame:
    """(id, bucket, rvec): each vector's IVF residual — L2-normalized vector
    minus its nearest coarse centroid — the quantity residual PQ encodes
    (Jégou et al. 2011 §IV; FAISS IVFPQ's default). Same Arrow-batched dense
    shape as ivf_assign (centroid matrix in the closure, n_probe=1)."""
    cq = _Centroids(centers)
    ida = id_alias or id_col

    def residuals(pdf):
        Xn = _unit_rows(_matrix(pdf[vec_col]))[0]
        best = cq.scores(Xn).argmax(axis=1)
        return {
            ida: pdf[id_col].to_numpy(),
            "bucket": best.astype("int32"),
            "rvec": list(Xn - cq.C[best]),
        }

    schema = f"{ida} {_sql_type(df, id_col)}, bucket int, rvec array<double>"
    return _map_batches(df, (id_col, vec_col), schema, residuals)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centers: list[list[float]] | None = None,
) -> DataFrame:
    """IVF approximate top-k (the FAISS IVF-flat scheme as a DataFrame plan):

      1. coarse k-means centroids (train once, broadcastable model)
      2. corpus partitioned into inverted lists: bucket = nearest centroid
         (one bucket per vector — the corpus is stored once)
      3. each query probes its ``n_probe`` nearest centroids; candidates are
         a bucket equi-join (broadcast the query side), exact cosine ranks.

    Scale: the corpus shuffles once on bucket; n_centroids must grow with the
    corpus (~sqrt(N) lists) to bound list length; skewed lists are split by
    AQE skew-join handling. Recall vs brute force asserted in tests."""
    if centers is None:
        centers = ivf_train_centroids(
            corpus, n_centroids=n_centroids, seed=seed, vec_col=vec_col
        )
    # Norms attached per SIDE row (before the bucket join) so candidate
    # scoring is one dot fold per pair, not three (r12, cosine_prenormed).
    c = ivf_assign(corpus, centers, id_col, vec_col, n_probe=1, id_alias="neighbor_id",
                   vec_alias="cvec").withColumn("cn", vnorm(F.col("cvec")))
    q = ivf_assign(queries, centers, id_col, vec_col, n_probe=n_probe,
                   id_alias="query_id", vec_alias="qvec").withColumn("qn", vnorm(F.col("qvec")))
    cands = (
        c.join(F.broadcast(q), "bucket")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_prenormed(
                F.col("qvec"), F.col("cvec"), F.col("qn"), F.col("cn")
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return cands.select("*", F.row_number().over(w).alias("rank")).where(F.col("rank") <= k)


def ann_save(
    spark,
    path: str,
    centers: list[list[float]] | None = None,
    books: list[list[list[float]]] | None = None,
) -> None:
    """Persist IVF/PQ serving artifacts as parquet tables (the kn_save
    pattern — all IO through Spark writers, the whole artifact on ONE
    filesystem): <path>/centers.parquet (idx, vec) and/or
    <path>/books.parquet (subspace, code, vec). Train once on the big
    cluster, serve from any session via ann_load + ivfpq_topk(centers=,
    books=) / ivf_topk(centers=)."""
    if centers is None and books is None:
        raise ValueError("ann_save: nothing to save (centers and books both None)")
    if centers is not None and not centers:
        raise ValueError("ann_save: centers is empty (pass None to skip)")
    if books is not None and not books:
        raise ValueError("ann_save: books is empty (pass None to skip)")
    if centers is not None:
        spark.createDataFrame(
            [(i, [float(x) for x in c]) for i, c in enumerate(centers)],
            "idx int, vec array<double>",
        ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centers.parquet")
    if books is not None:
        spark.createDataFrame(
            [
                (j, c, [float(x) for x in vec])
                for j, book in enumerate(books)
                for c, vec in enumerate(book)
            ],
            "subspace int, code int, vec array<double>",
        ).coalesce(1).write.mode("overwrite").parquet(f"{path}/books.parquet")


def ann_load(
    spark, path: str
) -> tuple[list[list[float]] | None, list[list[list[float]]] | None]:
    """Load an ann_save artifact: returns (centers, books), either None if
    that half was not saved. Round-trips bit-exactly (pinned in tests).
    Missing halves are detected by attempting the read (filesystem-agnostic
    — works on HDFS/S3 paths the driver cannot stat locally). Only the two
    "nothing there" error classes (PATH_NOT_FOUND / UNABLE_TO_INFER_SCHEMA,
    the latter for an empty directory stub) map to None — a corrupt or
    unreadable artifact re-raises instead of silently loading as absent."""
    from pyspark.errors import AnalysisException

    def _absent(e: AnalysisException) -> bool:
        cond = e.getCondition() or ""
        return cond.startswith("PATH_NOT_FOUND") or cond.startswith(
            "UNABLE_TO_INFER_SCHEMA"
        )

    centers = None
    books = None
    try:
        centers = [
            list(r["vec"])
            for r in spark.read.parquet(f"{path}/centers.parquet")
            .orderBy("idx")
            .collect()
        ]
        if not centers:
            # mirror the books guard (ADVICE r10): an empty-but-present
            # artifact is corruption, and [] is falsy-ambiguous with absence
            raise ValueError(
                f"ann_load: {path}/centers.parquet exists but is empty "
                "(was ann_save called with centers=[]?)"
            )
    except AnalysisException as e:
        if not _absent(e):
            raise
    try:
        rows = (
            spark.read.parquet(f"{path}/books.parquet")
            .orderBy("subspace", "code")
            .collect()
        )
        if not rows:
            raise ValueError(
                f"ann_load: {path}/books.parquet exists but is empty "
                "(was ann_save called with books=[]?)"
            )
        m = max(r["subspace"] for r in rows) + 1
        books = [[] for _ in range(m)]
        for r in rows:
            books[r["subspace"]].append(list(r["vec"]))
    except AnalysisException as e:
        if not _absent(e):
            raise
    return centers, books


def random_projection(
    embs: DataFrame,
    out_dims: int = 8,
    in_dims: int = 64,
    quant: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic quantized random projection: in_dims -> out_dims.

    The Johnson-Lindenstrauss shape used to cheapen downstream similarity
    passes (Achlioptas 2003 showed sparse integer matrices {-1,0,+1}/{±3}
    suffice — no Gaussians needed). Two engineering choices make the operator
    bit-reproducible across engines, partitionings, and replays:

      - the projection matrix is a pure integer formula of (j, d) —
        w(j,d) = (((j*73856093) XOR (d*19349663)) mod 7) - 3, an
        Achlioptas-style bounded integer surrogate (the multipliers are the
        classic spatial-hash primes; XOR mixing keeps rows linearly
        independent, unlike affine-mod-7 formulas whose rows repeat with
        period 7) — so there is no RNG state to ship or seed-sync;
      - inputs are first quantized to integer units (floor(x * quant) —
        floor, not round: round-half rules differ across engines), so the
        accumulation is exact integer arithmetic with no FP-order sensitivity.

    Entirely JVM-side HOF arithmetic (one sequence-aggregate per output dim):
    no shuffle, no Python, embarrassingly parallel over rows.
    """
    emb = F.col(vec_col)

    def proj(j: int):
        def merge(acc, d):
            w = (F.lit(j * 73856093).cast("long").bitwiseXOR((d * 19349663).cast("long")) % 7) - 3
            return acc + F.floor(F.element_at(emb, (d + 1).cast("int")) * quant).cast("long") * w

        return F.aggregate(F.sequence(F.lit(0), F.lit(in_dims - 1)), F.lit(0).cast("long"), merge)

    return embs.select(
        F.col(id_col),
        *[
            (proj(j).cast("double") / F.lit(float(quant))).alias(f"p{j}")
            for j in range(out_dims)
        ],
    )


def semdedup_pairs(
    embs: DataFrame,
    threshold: float = 0.45,
    n_clusters: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centers: list[list[float]] | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup that
    only compares embeddings WITHIN a k-means cluster — the published scale
    recipe for web-corpus semantic dedup (the paper prunes LAION/C4 this
    way; cross-cluster near-dups are rare by construction, and skipping them
    is the accepted recall trade).

    Output: (bucket, id_a, id_b, cos) — within-cluster pairs with exact
    cosine >= threshold (id_a < id_b). Feed into resolve_components +
    keep-best for the full dedup stage (same composition as
    q_semantic_dedup_keep_best, minus the all-pairs scan).

    Scale shape: the corpus shuffles ONCE onto (cluster, salt) keys; the
    pair blow-up is sum over clusters of |c|^2 instead of N^2. Two
    deliberate moves keep the CPU-heavy/byte-light pair stage wide and
    cheap (the same lessons as jaccard_pairs):
      - the self-join is SALTED over defaultParallelism keys — with only
        n_clusters distinct join keys, a plain bucket equi-join lands on
        <= n_clusters tasks and AQE's size-based coalescing folds the
        multi-minute pair block into ~2 (measured at 20k vectors); side A
        keeps its own salt, side B replicates to all salts (tiny: one
        bounded id+vector table), so each pair meets exactly once and the
        work spreads across every core;
      - vectors are L2-NORMALIZED ONCE per row before the join, so the
        per-pair score is a single dot-product fold instead of
        dot + two norm recomputations (3x fewer HOF aggregates on the
        quadratic stage).
    The centroid model is O(k x dim) and broadcasts; the pair stage is
    JVM-side HOF arithmetic (no Python).
    """
    if centers is None:
        centers = ivf_train_centroids(
            embs, n_centroids=n_clusters, seed=seed, vec_col=vec_col
        )
    sc = embs.sparkSession.sparkContext
    n_salt = max(sc.defaultParallelism, 1)
    nrm = F.sqrt(
        F.aggregate(
            as_double(F.col(vec_col)), F.lit(0.0), lambda acc, x: acc + x * x
        )
    )
    assigned = (
        ivf_assign(embs, centers, id_col, vec_col, n_probe=1)
        .select(
            "bucket",
            F.col(id_col),
            F.transform(as_double(F.col(vec_col)), lambda x: x / nrm).alias("__vn"),
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_salt)).alias("__salt"),
        )
        .persist()
    )
    a = assigned.select(
        "bucket", "__salt", F.col(id_col).alias("id_a"), F.col("__vn").alias("__va")
    ).repartition(n_salt, "bucket", "__salt")
    b = assigned.select(
        "bucket",
        F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1))).alias("__salt"),
        F.col(id_col).alias("id_b"),
        F.col("__vn").alias("__vb"),
    ).repartition(n_salt, "bucket", "__salt")
    cos = F.aggregate(
        F.zip_with(F.col("__va"), F.col("__vb"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    # shuffle_hash hint: a broadcast join would execute in the PROBE side's
    # (narrow, source-partitioned) layout and serialize the quadratic pair
    # block onto a couple of tasks; the shuffled hash join reuses the two
    # explicit co-partitioned exchanges above, so the pair compute runs
    # n_salt wide on every run (cold included)
    return (
        a.join(b.hint("shuffle_hash"), ["bucket", "__salt"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("bucket", "id_a", "id_b", cos.alias("cos"))
        .where(F.col("cos") >= F.lit(threshold))
    )


def pq_train_codebooks(
    corpus: DataFrame,
    m: int = 8,
    k_sub: int = 16,
    seed: int = 42,
    vec_col: str = "embedding",
    sample_fraction: float | None = None,
    normalize: bool = True,
) -> list[list[list[float]]]:
    """Product-quantization codebooks (Jégou, Douze, Schmid 2011, "Product
    Quantization for Nearest Neighbor Search"): the L2-normalized vector is
    split into ``m`` contiguous subspaces and an independent ``k_sub``-way
    k-means is trained per subspace. Returns m codebooks of k_sub centroids
    each — m x k_sub x (d/m) floats, a driver-sized model that broadcasts
    (at the defaults on d=64: 8 x 16 x 8 doubles = 8 KB).

    Training is m bounded pyspark.ml jobs over subvector slices (sampled
    with ``sample_fraction`` at scale — codebook quality needs ~100x k_sub
    points per subspace, not the corpus). ``normalize=False`` trains on
    the vectors AS GIVEN — the residual-PQ path (ivf_residuals output must
    not be re-normalized)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.feature import Normalizer
    from pyspark.ml.functions import array_to_vector, vector_to_array

    base = corpus.select(array_to_vector(as_double(F.col(vec_col))).alias("raw"))
    if sample_fraction is not None:
        base = base.sample(fraction=sample_fraction, seed=seed)
    if normalize:
        base = Normalizer(p=2.0, inputCol="raw", outputCol="nrm").transform(base)
        base = base.select(vector_to_array(F.col("nrm")).alias("v"))
    else:
        base = base.select(vector_to_array(F.col("raw")).alias("v"))
    # Persist the (tiny: k_sub*100-ish sampled, or fixture-sized) training
    # frame: every subspace fit re-reads it ~12 times (k-means|| init + 10
    # Lloyd iterations), and without the boundary each of those jobs would
    # re-run the scan + normalize chain — m x 12 redundant passes.
    base = base.persist()
    try:
        # Materialize the WHOLE persisted frame before spawning the fit
        # threads (ADVICE r12): first() computes only one partition, and the
        # concurrent KMeans fits then contend on BlockManager per-partition
        # compute locks for the rest, serializing part of the overlap the
        # thread pool exists to buy.
        base.count()
        row = base.first()
        if row is None:
            raise ValueError(
                "pq_train_codebooks: empty training corpus "
                "(after sample_fraction, if set) — nothing to train on"
            )
        dim = len(row["v"])
        if dim % m != 0:
            raise ValueError(f"dim {dim} not divisible by m={m}")
        sub = dim // m

        # The m subspace fits are INDEPENDENT bounded ml jobs — run them
        # concurrently from a driver thread pool (optimization guide §2.6:
        # overlap independent jobs so the next fit's tasks back-fill the
        # cluster during the current fit's single-task tail). Each fit keeps
        # its own seed/input slice, so the returned codebooks are
        # bit-identical to the former sequential loop (pinned in
        # tests/test_similarity.py); measured 16 sequential fits = 18.6 s ->
        # ~4 s at q_ann_ivfpq_topk's m=16 on local[32].
        def fit(j: int) -> list[list[float]]:
            piece = base.select(
                array_to_vector(F.slice(F.col("v"), j * sub + 1, sub)).alias("features")
            )
            model = KMeans(k=k_sub, seed=seed + j, maxIter=10).fit(piece)
            return [list(map(float, c)) for c in model.clusterCenters()]

        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=min(m, 8)) as pool:
            books = list(pool.map(fit, range(m)))
    finally:
        base.unpersist()
    return books


def pq_encode(
    df: DataFrame,
    books: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    id_alias: str | None = None,
    normalize: bool = True,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Encode vectors to PQ codes: array<int>[m], code j = index of the
    nearest centroid of codebook j for the j-th subvector of the
    L2-normalized vector (``normalize=False`` encodes AS GIVEN — the
    residual path). m x k_sub tiny argmins per row — the same dense
    Arrow-batched exception as ivf_assign; codebooks ride the closure. The
    full vector is DROPPED from the output: codes are m small ints per
    vector (the memory compression that lets 100 TB of embeddings fit an
    ANN serving tier). ``carry_cols`` pass through unchanged — a consumer
    that needs (id, bucket, codes) gets it in THIS scan instead of joining
    the codes back to the source on id (a full-corpus shuffle at scale)."""
    pq = [_Centroids(b) for b in books]
    ida = id_alias or id_col

    def encode(pdf):
        X = _matrix(pdf[vec_col])
        if normalize:
            X = _unit_rows(X)[0]
        out = {ida: pdf[id_col].to_numpy()}
        for c in carry_cols:
            out[c] = pdf[c].to_numpy()
        out["codes"] = list(_pq_codes(X, pq))
        return out

    schema = f"{ida} {_sql_type(df, id_col)}, " + "".join(
        f"{c} {_sql_type(df, c)}, " for c in carry_cols
    ) + "codes array<int>"
    return _map_batches(df, (id_col, *carry_cols, vec_col), schema, encode)


def _pq_index_scan(
    df: DataFrame,
    centers: list[list[float]],
    books: list[list[list[float]]],
    id_col: str,
    vec_col: str,
    id_alias: str,
) -> DataFrame:
    """Fused IVF assign + PQ encode for the corpus side of the raw-vector
    IVF-PQ path: ONE Arrow pass emitting (id, bucket, codes) — the inverted
    index. Replaces ivf_assign(n_probe=1) ⋈ pq_encode on id, which read the
    corpus through the Python boundary twice and zipped the two map-only
    derivations with a full-corpus shuffle join (r12, guide §2.1/§4.2).
    It composes the helpers those two operators call (normalization,
    ivf_assign's argsort bucket order, pq_encode's per-subspace argmax), so
    its output is theirs joined on id (pinned in tests). The full vector
    never crosses back out of Python."""
    cq, pq = _Centroids(centers), [_Centroids(b) for b in books]

    def scan(pdf):
        X = _unit_rows(_matrix(pdf[vec_col]))[0]
        return {
            id_alias: pdf[id_col].to_numpy(),
            "bucket": _best_first(cq.scores(X), 1).reshape(-1).astype("int32"),
            "codes": list(_pq_codes(X, pq)),
        }

    schema = f"{id_alias} {_sql_type(df, id_col)}, bucket int, codes array<int>"
    return _map_batches(df, (id_col, vec_col), schema, scan)


def _pq_probe_scan(
    queries: DataFrame,
    centers: list[list[float]],
    books: list[list[list[float]]],
    id_col: str,
    vec_col: str,
    n_probe: int,
    with_score: bool,
) -> DataFrame:
    """Fused IVF probe assign + ADC lookup table for the query side of
    IVF-PQ: ONE Arrow pass emitting one row per (query, probed bucket) with
    the flattened LUT (one m x k_sub inner-product table) on every row.
    Same helpers and bucket order as ivf_assign(n_probe) (r12, guide
    §2.1/§4.2). ``with_score`` adds ``cscore`` = <q̂, c_bucket>, the exact
    first-order term of the residual-PQ ADC decomposition
    <q̂,x̂> = <q̂,c_b> + <q̂,residual>."""
    cq, pq = _Centroids(centers), [_Centroids(b) for b in books]
    n_probe = min(n_probe, len(centers))
    schema = f"query_id {_sql_type(queries, id_col)}, bucket int" + (
        ", cscore double" if with_score else ""
    ) + ", lut array<double>"

    def probe(pdf):
        X = _unit_rows(_matrix(pdf[vec_col]))[0]
        scores = cq.scores(X)
        order = _best_first(scores, n_probe)
        luts = np.hstack([piece @ book.C.T for book, piece in _subspaces(X, pq)])
        out = {
            "query_id": np.repeat(pdf[id_col].to_numpy(), n_probe),
            "bucket": order.reshape(-1).astype("int32"),
        }
        if with_score:
            dots = scores + cq.half_sq  # <x̂, c> without the -||c||²/2 shift
            out["cscore"] = np.take_along_axis(dots, order, axis=1).reshape(-1)
        out["lut"] = [lut for lut in luts for _ in range(n_probe)]
        return out

    return _map_batches(queries, (id_col, vec_col), schema, probe)


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    m: int = 8,
    k_sub: int = 16,
    refine: int | None = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_fraction: float | None = None,
    centers: list[list[float]] | None = None,
    books: list[list[list[float]]] | None = None,
    residual: bool = False,
) -> DataFrame:
    """IVF-PQ approximate top-k — the design that actually serves
    billion-vector ANN (FAISS IVFPQ; Jégou et al. 2011): IVF coarse lists
    bound WHICH vectors a query meets, PQ codes bound the BYTES each
    candidate costs.

      1. coarse centroids + inverted lists (reused from ivf_topk)
      2. corpus compressed to m-byte-ish PQ codes — the full vectors leave
         the candidate path entirely
      3. query-side ADC lookup tables (one m x k_sub inner-product table
         per query); candidate score = sum of m LUT entries, a pure JVM
         ``aggregate`` over the code array after the bucket equi-join
      4. ``refine``: the ADC top (refine * k) per query re-ranks EXACTLY by
         joining those few candidates back to the full vectors (the
         standard two-stage serving layout; refine=None returns raw ADC
         ranks).

    ``residual=False`` (default) quantizes the RAW normalized vector —
    the documented simplification. ``residual=True`` is the paper's (and
    FAISS's default) RESIDUAL encoding: codes quantize x̂ - c_bucket
    (pooled residual codebooks, trained with normalize=False), and the
    ADC score decomposes exactly as <q̂,x̂> = <q̂,c_b> + <q̂,residual> —
    the first term computed exactly per (query, probed bucket)
    (_pq_probe_scan's cscore), the second from the same LUT sum. Residuals
    are smaller than raw vectors, so the same code budget quantizes finer
    (measured in BENCH_ivfpq_sweep.json: the ADC-only recall gap). Scale
    shape: one corpus shuffle on bucket; LUTs broadcast with the (small)
    query side; the exact-refine join touches refine*k rows per query,
    never a list.

    ``sample_fraction`` bounds TRAINING cost (forwarded to both trainers —
    the coarse k-means and the m per-subspace k-means jobs, m+1 full-corpus
    passes otherwise): centroid/codebook quality needs ~100x k points, not
    the corpus. Output schema is the same for both refine settings:
    (query_id, neighbor_id, score, rank) — score is the exact cosine when
    ``refine`` is set, the raw ADC approximation when refine=None.

    ``centers``/``books`` inject pre-trained artifacts (the serving shape:
    train once, reuse across query batches and operating points — same
    pattern as ivf_topk's ``centers``); when given, m/k_sub/n_centroids
    describe them rather than trigger training."""
    if not residual and centers is None and books is None:
        # Raw-vector codebooks do not depend on the coarse centroids — the
        # two model fits are independent jobs; overlap them (guide §2.6).
        # Each keeps its own seed and input, so both artifacts are identical
        # to the sequential order.
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as pool:
            f_centers = pool.submit(
                ivf_train_centroids, corpus, n_centroids=n_centroids,
                seed=seed, vec_col=vec_col, sample_fraction=sample_fraction,
            )
            books = pq_train_codebooks(
                corpus, m=m, k_sub=k_sub, seed=seed, vec_col=vec_col,
                sample_fraction=sample_fraction,
            )
            centers = f_centers.result()
    if centers is None:
        centers = ivf_train_centroids(
            corpus, n_centroids=n_centroids, seed=seed, vec_col=vec_col,
            sample_fraction=sample_fraction,
        )
    if residual:
        from .dedup import track_cache

        # Persist the residuals: they feed codebook training (m k-means
        # jobs) AND the fused encode scan — without a cache boundary the
        # full corpus-vs-centroid assignment recomputes once per consumer
        # (deterministic, so correct, but a multiple of the dominant dense
        # pass). Released with release_cached().
        res = track_cache(
            ivf_residuals(
                corpus, centers, id_col=id_col, vec_col=vec_col,
                id_alias="neighbor_id",
            )
        )
        if books is None:
            books = pq_train_codebooks(
                res, m=m, k_sub=k_sub, seed=seed, vec_col="rvec",
                sample_fraction=sample_fraction, normalize=False,
            )
        m, k_sub = len(books), len(books[0])
        # carry_cols rides the bucket through the encode scan — the former
        # codes-back-to-res join on neighbor_id (a full-corpus shuffle at
        # scale) is gone (r12, guide §2.1).
        inv = pq_encode(
            res, books, id_col="neighbor_id", vec_col="rvec",
            normalize=False, carry_cols=("bucket",),
        )
        q = _pq_probe_scan(
            queries, centers, books, id_col, vec_col,
            n_probe=n_probe, with_score=True,
        )
    else:
        if books is None:
            books = pq_train_codebooks(
                corpus, m=m, k_sub=k_sub, seed=seed, vec_col=vec_col,
                sample_fraction=sample_fraction,
            )
        m, k_sub = len(books), len(books[0])
        # One fused Arrow pass builds the inverted index (id, bucket,
        # codes) — was assign-scan ⋈ encode-scan on neighbor_id (r12).
        inv = _pq_index_scan(
            corpus, centers, books, id_col, vec_col, id_alias="neighbor_id"
        )
        q = _pq_probe_scan(
            queries, centers, books, id_col, vec_col,
            n_probe=n_probe, with_score=False,
        ).select("query_id", "bucket", F.lit(0.0).alias("cscore"), "lut")

    # ADC score: LUT sum over code entries, plus the exact <q̂, c_bucket>
    # first-order term on the residual path (0 on the raw path)
    adc = F.col("cscore") + F.aggregate(
        F.sequence(F.lit(0), F.lit(m - 1)),
        F.lit(0.0),
        lambda acc, j: acc
        + F.element_at(
            F.col("lut"), j * k_sub + F.element_at(F.col("codes"), j + 1) + 1
        ),
    )
    cands = (
        inv.join(F.broadcast(q), "bucket")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", adc.alias("adc"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("adc"), F.asc("neighbor_id"))
    ranked = cands.select("*", F.row_number().over(w).alias("rank"))
    if refine is None:
        return ranked.where(F.col("rank") <= k).select(
            "query_id", "neighbor_id", F.col("adc").alias("score"), "rank"
        )
    shortlist = ranked.where(F.col("rank") <= refine * k).select(
        "query_id", "neighbor_id"
    )
    nvec = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        vnorm(F.col(vec_col)).alias("cn"),
    )
    qvec = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        vnorm(F.col(vec_col)).alias("qn"),
    )
    # The shortlist is refine*k rows per query by construction — broadcast
    # it so the exact re-rank probes the corpus without shuffling it (the
    # same small-side assumption the bucket join already makes about the
    # query batch; r12, guide §3.1).
    exact = (
        F.broadcast(shortlist).join(nvec, "neighbor_id")
        .join(F.broadcast(qvec), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            cosine_prenormed(
                F.col("qvec"), F.col("cvec"), F.col("qn"), F.col("cn")
            ).alias("score"),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return exact.select("*", F.row_number().over(w2).alias("rank")).where(
        F.col("rank") <= k
    )
