"""ANN quality: LSH top-k recall vs brute force; numpy NN vs expression NN."""

from __future__ import annotations

from pyspark.sql import functions as F

from timing_explorer_spark.operators.similarity import (
    brute_force_topk,
    lsh_topk,
    nearest_neighbor_all,
)
from timing_explorer_spark.sources.tables import load


def test_lsh_topk_recall(spark, sf_oracle):
    emb = load(spark, sf_oracle, "embeddings")
    queries = emb.where(F.col("vec_id") < 20)
    exact = brute_force_topk(emb, queries, k=10).select("query_id", "neighbor_id").collect()
    approx = lsh_topk(emb, queries, k=10).select("query_id", "neighbor_id").collect()
    exact_set = {(r.query_id, r.neighbor_id) for r in exact}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.6, f"LSH top-10 recall too low: {recall:.2f}"


def test_numpy_nn_equals_expression_nn(spark, sf_smoke):
    """The mapInPandas fast path must return the same neighbors as the
    column-expression formulation (modulo fp rounding in cos)."""
    emb = load(spark, sf_smoke, "embeddings").limit(200)
    fast = {
        (r.query_id, r.neighbor_id) for r in nearest_neighbor_all(emb).collect()
    }
    slow = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(emb, emb, k=1).select("query_id", "neighbor_id").collect()
    }
    assert fast == slow


def test_ivf_topk_recall(spark, sf_oracle):
    from timing_explorer_spark.operators.similarity import ivf_topk

    emb = load(spark, sf_oracle, "embeddings")
    queries = emb.where(F.col("vec_id") < 20)
    exact = brute_force_topk(emb, queries, k=10).select("query_id", "neighbor_id").collect()
    approx = ivf_topk(emb, queries, k=10, n_centroids=16, n_probe=4).select(
        "query_id", "neighbor_id"
    ).collect()
    exact_set = {(r.query_id, r.neighbor_id) for r in exact}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    # 4/16 lists probed: standard IVF recall band for this ratio
    assert recall >= 0.5, f"IVF top-10 recall too low: {recall:.2f}"


def test_ivf_probes_bound_candidates(spark, sf_oracle):
    """Every query emits at most k rows and only same/probed-bucket pairs
    (the inverted-list contract: candidates << corpus)."""
    from timing_explorer_spark.operators.similarity import ivf_topk

    emb = load(spark, sf_oracle, "embeddings")
    out = ivf_topk(emb, emb.where(F.col("vec_id") < 5), k=10).collect()
    per_q = {}
    for r in out:
        per_q.setdefault(r.query_id, []).append(r.rank)
    for qid, ranks in per_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
        assert len(ranks) <= 10


def _write_embeddings(path: str, rows: list[tuple[int, list[float]]]) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array([i for i, _ in rows], pa.int64()),
                "embedding": pa.array([v for _, v in rows], pa.list_(pa.float32())),
            }
        ),
        path,
    )


def test_zero_vector_nn_matches_oracle(spark, tmp_path):
    """A zero vector's cosines are NaN/NULL and rank below every number, on
    both build sides: queries 1, 3 and 4 must not pick the zero vector 2,
    and query 2 (all cosines NULL) gets the lowest other id with cos NULL —
    the rows DuckDB gives for the registered oracle."""
    from timing_explorer_spark.plans import all_queries
    from timing_explorer_spark.testing import assert_matches_oracle, duckdb_connection

    path = str(tmp_path / "embeddings.parquet")
    _write_embeddings(path, [(1, [1.0, 0.0]), (2, [0.0, 0.0]), (3, [0.9, 0.1]), (4, [0.0, 1.0])])
    con = duckdb_connection(str(tmp_path))
    oracle = all_queries()["q_embedding_nn"].oracle
    assert con.sql(oracle).order("query_id").fetchall()[1] == (2, 1, None)
    emb = spark.read.parquet(path)
    assert_matches_oracle(nearest_neighbor_all(emb), con, oracle, "broadcast build side")
    assert_matches_oracle(
        nearest_neighbor_all(emb, corpus_path=path), con, oracle, "worker build side"
    )


def test_nn_kernel_lone_vector_has_no_neighbor():
    """The oracle's self-join (a.vec_id <> b.vec_id) gives a one-vector
    corpus no row; the kernel must not answer with the query itself."""
    import numpy as np
    import pandas as pd

    from timing_explorer_spark.operators.similarity import _nn_top1

    batch = pd.DataFrame({"vid": np.array([7]), "v": [np.array([1.0, 0.0], np.float32)]})
    (out,) = _nn_top1(np.array([7]), np.array([[1.0, 0.0]]), [batch])
    assert out.empty


def test_worker_matrix_cache_sees_rewritten_file(tmp_path):
    """A reused Python worker must not serve a rewritten corpus file from
    its cache: the entry is stamped with the file's (mtime_ns, size) and
    replaced, not added to, when the stamp changes."""
    import os

    import numpy as np

    from timing_explorer_spark.operators import similarity as sim

    path = str(tmp_path / "corpus.parquet")
    key = (path, "vec_id", "embedding")
    _write_embeddings(path, [(1, [1.0, 0.0]), (2, [0.0, 1.0])])
    try:
        _, mat = sim._worker_load_matrix(path, "vec_id", "embedding")
        assert mat.tolist() == [[1.0, 0.0], [0.0, 1.0]]
        st = os.stat(path)
        _write_embeddings(path, [(1, [0.0, 1.0]), (2, [1.0, 0.0])])
        os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
        ids, mat = sim._worker_load_matrix(path, "vec_id", "embedding")
        assert ids.tolist() == [1, 2]
        assert np.array_equal(mat, [[0.0, 1.0], [1.0, 0.0]])
        assert [k for k in sim._WORKER_MATRIX_CACHE if k[0] == path] == [key]
    finally:
        sim._WORKER_MATRIX_CACHE.pop(key, None)


def test_fused_pq_scans_equal_their_parts(spark, sf_smoke):
    """_pq_index_scan is ivf_assign(n_probe=1) joined with pq_encode on id
    (same bucket, same codes) and _pq_probe_scan probes ivf_assign's
    buckets in its order. A zero-norm row keeps the bucket of the smallest
    ||c||^2/2, the centroid its all-(-||c||^2/2) scores pick."""
    import numpy as np

    from timing_explorer_spark.operators.similarity import (
        _pq_index_scan,
        _pq_probe_scan,
        ivf_assign,
        pq_encode,
    )

    rng = np.random.default_rng(11)
    centers = rng.normal(size=(16, 64)).tolist()
    books = rng.normal(size=(8, 16, 8)).tolist()
    zero = spark.createDataFrame([(-1, [0.0] * 64)], "vec_id long, embedding array<float>")
    emb = load(spark, sf_smoke, "embeddings").select("vec_id", "embedding").unionByName(zero)

    fused = {
        r.neighbor_id: (r.bucket, list(r.codes))
        for r in _pq_index_scan(emb, centers, books, "vec_id", "embedding", "neighbor_id").collect()
    }
    buckets = {r.vec_id: r.bucket for r in ivf_assign(emb, centers, "vec_id", "embedding").collect()}
    codes = {r.vec_id: list(r.codes) for r in pq_encode(emb, books).collect()}
    assert len(fused) == emb.count() > 1
    assert fused == {i: (buckets[i], codes[i]) for i in buckets}
    half_sq = (np.asarray(centers) ** 2).sum(axis=1) / 2.0
    assert fused[-1][0] == int(np.argmin(half_sq))

    def probed(df, id_col):
        out: dict = {}
        for r in df.collect():
            out.setdefault(r[id_col], []).append(r.bucket)
        return out

    probe = _pq_probe_scan(emb, centers, books, "vec_id", "embedding", 4, with_score=True)
    assert probed(probe, "query_id") == probed(
        ivf_assign(emb, centers, "vec_id", "embedding", n_probe=4), "vec_id"
    )


def test_int8_topk_recall_vs_float(spark, sf_oracle):
    """INT8 scalar quantization must preserve the float dot-product ranking
    almost perfectly (SQ8 loses <1% recall in practice; the quantized score
    itself is exact-integer and oracle-checked — this asserts the RANKING
    survives quantization)."""
    from pyspark.sql import Window

    from timing_explorer_spark.functions.vectors import as_double, dot
    from timing_explorer_spark.plans import all_queries

    emb = load(spark, sf_oracle, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    qs = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    scored = (
        F.broadcast(qs)
        .join(emb, F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            dot(F.col("qv"), F.col("v")).alias("fdot"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("fdot"), "neighbor_id")
    exact = (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 10)
        .collect()
    )
    approx = all_queries()["q_int8_embedding_topk"].build(spark, sf_oracle).collect()
    exact_set = {(r.query_id, r.neighbor_id) for r in exact}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.9, f"int8 top-10 recall vs float ranking too low: {recall:.2f}"


def test_semdedup_recall_and_precision(spark, sf_oracle):
    """SemDeDup within-cluster pairs vs the exact all-pairs scan: every
    emitted pair is exact-cosine-verified (precision 1.0); recall is the
    designed trade — same-cluster near-dups are found, and on this fixture
    the clustered pass recovers most of the exact pair set."""
    from timing_explorer_spark.operators.similarity import (
        embedding_neardup_pairs,
        semdedup_pairs,
    )

    emb = load(spark, sf_oracle, "embeddings")
    exact = {
        (r["id_a"], r["id_b"])
        for r in embedding_neardup_pairs(
            emb, threshold=0.45, corpus_path=f"{sf_oracle}/embeddings.parquet"
        ).collect()
    }
    got = semdedup_pairs(emb, threshold=0.45, n_clusters=4).collect()
    got_pairs = {(r["id_a"], r["id_b"]) for r in got}
    assert got_pairs <= exact  # precision 1.0: every pair is exact-verified
    assert exact  # fixture must actually contain near-dups
    recall = len(got_pairs) / len(exact)
    assert recall >= 0.5, f"semdedup recall {recall:.2f}"
    # every pair carries its exact cosine >= threshold
    assert all(r["cos"] >= 0.45 for r in got)


def test_semdedup_same_seed_deterministic(spark, sf_oracle):
    from timing_explorer_spark.operators.similarity import semdedup_pairs

    emb = load(spark, sf_oracle, "embeddings")
    a = sorted(
        (r["id_a"], r["id_b"]) for r in semdedup_pairs(emb, 0.45, 4).collect()
    )
    b = sorted(
        (r["id_a"], r["id_b"]) for r in semdedup_pairs(emb, 0.45, 4).collect()
    )
    assert a == b


def test_semdedup_pairs_cache_is_released(spark, sf_smoke):
    """Every RDD a q_semdedup_pairs build persists is gone after
    release_cached(): the salted self-join's per-row frame is tracked, not
    left cached for the session's lifetime. Compared as RDD ids, so a
    cleanup of older RDDs during the run cannot hide a leak."""
    from timing_explorer_spark.operators.dedup import release_cached
    from timing_explorer_spark.plans import all_queries

    def persisted() -> set[int]:
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    release_cached()
    before = persisted()
    df = all_queries()["q_semdedup_pairs"].build(spark, sf_smoke)
    df.write.mode("overwrite").format("noop").save()
    assert persisted() - before  # the build did cache something
    release_cached()
    assert persisted() - before == set()


def test_kmeans_cluster_profile_invariants(spark, sf_smoke):
    from timing_explorer_spark.plans import all_queries

    out = all_queries()["q_kmeans_cluster_profile"].build(spark, sf_smoke).collect()
    assert 1 <= len(out) <= 8
    assert abs(sum(r["share"] for r in out) - 1.0) < 1e-9
    for r in out:
        assert r["size"] > 0
        assert -1.0 - 1e-9 <= r["mean_cos_to_center"] <= 1.0 + 1e-9
        assert 0.0 < r["purity"] <= 1.0
    clusters = [r["cluster"] for r in out]
    assert clusters == sorted(clusters)


def test_ivfpq_topk_recall_vs_brute_force(spark, sf_smoke):
    """IVF-PQ (codes-only candidates + ADC + exact refine) must recover the
    brute-force top-10 neighborhood, and the refined scores are EXACT
    cosines. The synthetic near-uniform embeddings are PQ's WORST case (no
    cluster structure to quantize), so the pinned operating point is finer
    than a real corpus needs: m=16 x k_sub=64 (96-bit codes, still 21x
    smaller than the float32 vectors), full probing, refine=8k — measured
    recall 1.0 at this point (0.65 at the FAISS-default-ish m=8 x 16)."""
    from timing_explorer_spark.operators.similarity import (
        brute_force_topk,
        ivfpq_topk,
    )
    from timing_explorer_spark.sources.tables import load

    emb = load(spark, sf_smoke, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(emb, queries, k=10)
        .select("query_id", "neighbor_id")
        .collect()
    }
    approx_rows = ivfpq_topk(
        emb, queries, k=10, n_centroids=8, n_probe=8, m=16, k_sub=64, refine=8
    ).collect()
    approx = {(r["query_id"], r["neighbor_id"]) for r in approx_rows}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.95, f"IVF-PQ recall {recall}"
    # refined scores are exact cosines: spot-check one overlapping pair
    # (unified r8 schema: 'score' for both refine settings)
    cos_by_pair = {(r["query_id"], r["neighbor_id"]): r["score"] for r in approx_rows}
    bf = {
        (r["query_id"], r["neighbor_id"]): r["cos"]
        for r in brute_force_topk(emb, queries, k=10).collect()
    }
    common = exact & approx
    assert common
    for pair in list(common)[:5]:
        assert abs(cos_by_pair[pair] - bf[pair]) < 1e-9


def test_ivfpq_residual_encoding_wins_on_clustered_data(spark):
    """r8: residual=True is the paper's/FAISS's default — codes quantize
    x̂ - c_bucket and the ADC score decomposes exactly as <q̂,x̂> =
    <q̂,c_b> + <q̂,residual>. On CLUSTERED vectors (the regime IVF is for),
    residuals are small, so the same code budget quantizes much finer:
    residual ADC must (a) rank the true neighborhood perfectly where the
    raw encoding cannot, and (b) approximate true cosine with smaller
    error. (On unclustered near-uniform vectors the decomposition buys
    nothing — the default stays residual=False and the operator docstring
    says why.)"""
    import numpy as np

    from timing_explorer_spark.operators.similarity import (
        brute_force_topk,
        ivfpq_topk,
    )

    # 64 tight clusters: more cluster modes than one 16-codeword subspace
    # codebook can memorize, so the RAW encoding must smear across
    # clusters while residuals pool into one small quantizable cloud
    rng = np.random.default_rng(11)
    centers = rng.normal(size=(64, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    vid = 0
    for c in centers:
        for _ in range(40):
            v = c + 0.03 * rng.normal(size=64)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = emb.where(F.col("vec_id") % 320 == 0).limit(8)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(emb, queries, k=5)
        .select("query_id", "neighbor_id")
        .collect()
    }
    errs = {}
    mat = {i: np.asarray(v, dtype=np.float64) for i, v in rows}
    for i in mat:
        mat[i] = mat[i] / np.linalg.norm(mat[i])
    for residual in (False, True):
        got = ivfpq_topk(
            emb, queries, k=5, n_centroids=64, n_probe=2, m=8, k_sub=16,
            refine=None, residual=residual, seed=3,
        ).collect()
        errs[residual] = float(
            np.mean(
                [
                    abs(
                        r["score"]
                        - float(mat[int(r["query_id"])] @ mat[int(r["neighbor_id"])])
                    )
                    for r in got
                ]
            )
        )
    # (a) the decomposition quantizes at least 2x finer on clustered data
    assert errs[True] < errs[False] / 2, (errs, "residual ADC not finer")
    # (b) residual + exact refine recovers the true neighborhood (within a
    # tight cluster the final ranking is the refine stage's job — cos gaps
    # between cluster mates are ~1e-4, below ANY 8-byte code's resolution,
    # so ADC-only recall is chance for raw and residual alike)
    refined = {
        (r["query_id"], r["neighbor_id"])
        for r in ivfpq_topk(
            emb, queries, k=5, n_centroids=64, n_probe=2, m=8, k_sub=16,
            refine=8, residual=True, seed=3,
        ).collect()
    }
    recall = len(exact & refined) / len(exact)
    assert recall >= 0.95, recall


def test_pq_codes_shape_and_determinism(spark, sf_smoke):
    from timing_explorer_spark.operators.similarity import pq_encode, pq_train_codebooks
    from timing_explorer_spark.sources.tables import load

    emb = load(spark, sf_smoke, "embeddings")
    books = pq_train_codebooks(emb, m=8, k_sub=16, seed=7)
    assert len(books) == 8 and all(len(b) == 16 for b in books)
    assert all(len(c) == 8 for b in books for c in b)  # 64/8 sub-dim
    c1 = {r["vec_id"]: list(r["codes"]) for r in pq_encode(emb, books).collect()}
    c2 = {r["vec_id"]: list(r["codes"]) for r in pq_encode(emb, books).collect()}
    assert c1 == c2
    assert all(len(v) == 8 and all(0 <= x < 16 for x in v) for v in c1.values())
