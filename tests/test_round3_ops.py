"""Operator-level tests for the round-3 additions: exact heavy hitters
(Misra-Gries candidates + recount), shingle containment, quantized random
projection, and the TSDB analytics family (M4 / TWA / interpolation / MAD).

The registry oracle gate (test_relational_oracle) already hash-checks every
registered query against DuckDB; these tests pin the OPERATOR properties the
oracle can't see — superset guarantees under adversarial partitioning,
subset-dup recall, distance preservation, downsample fidelity.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from timing_explorer_spark.operators.dedup import containment_pairs, release_cached
from timing_explorer_spark.operators.heavy_hitters import heavy_hitters
from timing_explorer_spark.operators.similarity import random_projection
from timing_explorer_spark.sources.tables import load


@pytest.fixture(autouse=True, scope="module")
def _release_caches():
    yield
    release_cached()


# ---------------------------------------------------------------- heavy hitters
def _exact_counts(items, key_col):
    return {
        r[key_col]: r["c"]
        for r in items.groupBy(key_col).agg(F.count(F.lit(1)).alias("c")).collect()
    }


def test_heavy_hitters_exact_vs_bruteforce(spark):
    """Output == plain GROUP BY/HAVING for a skewed synthetic stream."""
    # Zipf-ish: key k repeated ~N/k times over k in 1..200.
    items = spark.range(200).select((F.col("id") + 1).alias("k")).select(
        F.explode(F.sequence(F.lit(1), (F.lit(2000) / F.col("k")).cast("int"))).alias("rep"),
        F.col("k").cast("string").alias("key"),
    )
    phi = 0.02
    total = items.count()
    got = {r["key"]: r["freq"] for r in heavy_hitters(items, phi=phi).collect()}
    exact = {
        k: c for k, c in _exact_counts(items, "key").items() if c >= math.ceil(phi * total)
    }
    assert got == exact and got  # non-empty, exactly equal (keys AND counts)


def test_heavy_hitters_survives_hostile_partitioning(spark):
    """The MG superset guarantee is partitioning-independent: concentrate the
    heavy key into one partition (sorted layout) and spread it round-robin —
    identical results."""
    items = spark.range(5000).select(
        F.when(F.col("id") % 10 == 0, "hot").otherwise(F.col("id").cast("string")).alias("key")
    )
    base = {r["key"]: r["freq"] for r in heavy_hitters(items, phi=0.05).collect()}
    skewed = {
        r["key"]: r["freq"]
        for r in heavy_hitters(items.orderBy("key"), phi=0.05, spread=3).collect()
    }
    assert base == skewed == {"hot": 500}


# ----------------------------------------------------------------- containment
def test_containment_catches_subset_dup_jaccard_misses(spark):
    """A short doc embedded verbatim in a 10x larger one: containment ≈ 1,
    jaccard far below threshold."""
    from timing_explorer_spark.operators.dedup import jaccard_pairs

    small = "alpha beta gamma delta epsilon zeta eta theta"
    big = " ".join(f"w{i} x{i} y{i}" for i in range(40)) + " " + small
    docs = spark.createDataFrame(
        [(1, small), (2, big), (3, "totally unrelated content here")], ["doc_id", "text"]
    )
    cont = containment_pairs(docs, threshold=0.9, n=3).collect()
    assert [(r["doc_a"], r["doc_b"]) for r in cont] == [(1, 2)]
    assert cont[0]["containment"] == 1.0
    assert jaccard_pairs(docs, threshold=0.8, n=3).count() == 0


# ----------------------------------------------------- random projection (JL)
def test_random_projection_preserves_neighborhoods(spark, sf_smoke):
    """Not a formal JL bound (the matrix is a fixed integer surrogate), but
    the reduced space must keep close pairs closer than random pairs on
    average — the property the 2-stage similarity cascade relies on."""
    import numpy as np

    embs = load(spark, sf_smoke, "embeddings").limit(200)
    reduced = random_projection(embs).orderBy("vec_id").collect()
    full = embs.select("vec_id", "embedding").orderBy("vec_id").collect()
    X = np.array([r["embedding"] for r in full])
    P = np.array([[r[f"p{j}"] for j in range(8)] for r in reduced])
    # sample pairs; compare rank agreement of distances
    rng = np.random.default_rng(7)
    idx = rng.integers(0, len(X), size=(300, 2))
    dx = np.linalg.norm(X[idx[:, 0]] - X[idx[:, 1]], axis=1)
    dp = np.linalg.norm(P[idx[:, 0]] - P[idx[:, 1]], axis=1)
    # Spearman-ish: correlation of distance ranks must be clearly positive.
    # The fixture embeddings are near-isotropic (flat singular spectrum,
    # participation ratio 0.92) — the hardest case for ANY 64->8 projection:
    # a true Gaussian matrix scores ~0.19 here, the integer surrogate ~0.35.
    # Assert clearly-above-noise, not a JL-style bound the data can't support.
    rx = dx.argsort().argsort()
    rp = dp.argsort().argsort()
    corr = np.corrcoef(rx, rp)[0, 1]
    assert corr > 0.2, f"rank correlation too weak: {corr:.3f}"


def test_random_projection_deterministic(spark, sf_smoke):
    embs = load(spark, sf_smoke, "embeddings").limit(50)
    a = random_projection(embs).orderBy("vec_id").collect()
    b = random_projection(embs.repartition(7)).orderBy("vec_id").collect()
    assert a == b


# ------------------------------------------------------------------ TSDB family
def test_m4_downsample_preserves_extremes(spark, sf_smoke):
    """Per bucket: v_min/v_max must equal the true extremes, and first/last
    must be the values at the earliest/latest (ts, event_id)."""
    from timing_explorer_spark.plans.registry import all_queries

    m4 = all_queries()["q_m4_downsample"].build(spark, sf_smoke)
    e = load(spark, sf_smoke, "events")
    bucket_us = 6 * 3600 * 1_000_000
    truth = (
        e.groupBy(
            "event_type",
            F.timestamp_micros(
                F.floor(F.unix_micros("ts") / F.lit(bucket_us)).cast("bigint") * F.lit(bucket_us)
            ).alias("bucket"),
        )
        .agg(F.min("value").alias("tmin"), F.max("value").alias("tmax"), F.count(F.lit(1)).alias("tn"))
    )
    joined = m4.join(truth, ["event_type", "bucket"])
    assert joined.count() == m4.count() == truth.count()
    bad = joined.where(
        (F.col("v_min") != F.col("tmin"))
        | (F.col("v_max") != F.col("tmax"))
        | (F.col("n") != F.col("tn"))
        | (F.col("v_first").isNull())
        | (F.col("v_last").isNull())
    )
    assert bad.count() == 0


def test_time_weighted_avg_bounds(spark, sf_smoke):
    """TWA lies within [min, max] of the day's values and the per-day segment
    durations sum exactly to the day length."""
    from timing_explorer_spark.plans.registry import all_queries

    twa = all_queries()["q_time_weighted_avg"].build(spark, sf_smoke)
    e = load(spark, sf_smoke, "events")
    bounds = e.groupBy("event_type", F.date_trunc("day", "ts").alias("day")).agg(
        F.min("value").alias("lo"), F.max("value").alias("hi")
    )
    j = twa.join(bounds, ["event_type", "day"])
    assert j.where((F.col("twa") < F.col("lo")) | (F.col("twa") > F.col("hi"))).count() == 0


def test_interpolation_exact_on_synthetic_gap(spark):
    """A manufactured gap between two anchors interpolates to the exact
    midpoint values."""
    from pyspark.sql import Window

    rows = [("2024-01-01 00:00:00", 10.0), ("2024-01-01 03:00:00", 40.0)]
    df = spark.createDataFrame(rows, ["b", "v"]).select(
        F.col("b").cast("timestamp").alias("bucket"), F.col("v").alias("mean_value")
    )
    spine = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("2024-01-01 00:00:00").cast("timestamp"),
                F.lit("2024-01-01 03:00:00").cast("timestamp"),
                F.expr("INTERVAL 1 HOUR"),
            )
        ).alias("bucket")
    )
    joined = spine.join(df, "bucket", "left")
    w_prev = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    w_next = Window.orderBy("bucket").rowsBetween(0, Window.unboundedFollowing)
    obs_b = F.when(F.col("mean_value").isNotNull(), F.col("bucket"))
    nav = joined.select(
        "bucket",
        "mean_value",
        F.last("mean_value", ignorenulls=True).over(w_prev).alias("prev_v"),
        F.last(obs_b, ignorenulls=True).over(w_prev).alias("prev_b"),
        F.first("mean_value", ignorenulls=True).over(w_next).alias("next_v"),
        F.first(obs_b, ignorenulls=True).over(w_next).alias("next_b"),
    )
    frac = (F.unix_micros("bucket") - F.unix_micros("prev_b")).cast("double") / (
        F.unix_micros("next_b") - F.unix_micros("prev_b")
    ).cast("double")
    out = nav.select(
        "bucket",
        F.coalesce(
            "mean_value", F.col("prev_v") + (F.col("next_v") - F.col("prev_v")) * frac
        ).alias("filled"),
    ).orderBy("bucket")
    assert [r["filled"] for r in out.collect()] == [10.0, 20.0, 30.0, 40.0]


def test_mad_outliers_flags_injected_spike(spark):
    """Inject extreme spikes into a tight synthetic series; the MAD profile
    must count exactly those."""
    base = [("a", 10.0 + (i % 5) * 0.1) for i in range(95)] + [("a", 1000.0)] * 5
    df = spark.createDataFrame(base, ["event_type", "value"]).withColumn(
        "event_id", F.monotonically_increasing_id()
    )
    # reuse the registered query's logic by mimicking its shape inline
    from pyspark.sql import Window

    w_rank = Window.partitionBy("event_type").orderBy("value")
    w_all = Window.partitionBy("event_type")
    ranked = df.select(
        "event_type",
        "value",
        F.row_number().over(w_rank).alias("rn"),
        F.count(F.lit(1)).over(w_all).alias("n"),
    )
    med = (
        ranked.where(F.col("rn") == F.floor((F.col("n") + 1) / 2))
        .groupBy("event_type")
        .agg(F.max("value").alias("med"))
    )
    devs = df.join(F.broadcast(med), "event_type").select(
        "event_type", "value", F.abs(F.col("value") - F.col("med")).alias("dev")
    )
    w_dev = Window.partitionBy("event_type").orderBy("dev")
    dev_ranked = devs.select(
        "event_type", "dev", F.row_number().over(w_dev).alias("rn"), F.count(F.lit(1)).over(w_all).alias("n")
    )
    mad = (
        dev_ranked.where(F.col("rn") == F.floor((F.col("n") + 1) / 2))
        .groupBy("event_type")
        .agg(F.max("dev").alias("mad"))
    )
    n_out = (
        devs.join(F.broadcast(mad), "event_type")
        .where(F.col("dev") > F.lit(3.5) * F.col("mad"))
        .count()
    )
    assert n_out == 5


# ---------------------------------------------------------------- pagerank
def test_pagerank_mass_and_centrality(spark):
    """On a star graph the hub must out-rank the leaves; total rank mass
    stays near N (bounded below by truncation loss only)."""
    from timing_explorer_spark.operators.graph import pagerank_fixed

    pairs = spark.createDataFrame([(0, i) for i in range(1, 6)], ["doc_a", "doc_b"])
    ranks = {r["doc"]: r["rank"] for r in pagerank_fixed(pairs, iterations=5).collect()}
    assert set(ranks) == set(range(6))
    hub, leaves = ranks[0], [ranks[i] for i in range(1, 6)]
    assert all(hub > leaf for leaf in leaves)
    assert len(set(leaves)) == 1  # symmetry: all leaves identical
    total = sum(ranks.values())
    assert 0.9 * 6 <= total <= 6.0 + 1e-9  # mass conserved up to truncation


def test_pagerank_deterministic_under_partitioning(spark):
    from timing_explorer_spark.operators.graph import pagerank_fixed

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(20)] + [(0, 21), (5, 22)], ["doc_a", "doc_b"]
    )
    a = sorted(map(tuple, pagerank_fixed(pairs, iterations=4).collect()))
    b = sorted(map(tuple, pagerank_fixed(pairs.repartition(13), iterations=4).collect()))
    assert a == b


def test_pagerank_convergence_deltas_shrink(spark):
    """r9: the convergence diagnostic must show the geometric-decay
    signature of power iteration — each round's L1 delta strictly below the
    previous one on a well-connected graph — with L-inf <= L1 by definition,
    and exactly one row per iteration."""
    from timing_explorer_spark.operators.graph import (
        pagerank_directed_convergence,
    )

    # ring + all-spokes-to-hub: IRREGULAR degrees (a perfectly regular
    # graph keeps PageRank uniform and every delta is exactly 0)
    edges = spark.createDataFrame(
        [(i, (i + 1) % 30) for i in range(30)]
        + [(i, 0) for i in range(1, 30)],
        ["src", "dst"],
    )
    rows = sorted(
        pagerank_directed_convergence(edges, iterations=5).collect(),
        key=lambda r: r["iteration"],
    )
    assert [r["iteration"] for r in rows] == [1, 2, 3, 4, 5]
    l1 = [r["l1_delta_units"] for r in rows]
    assert all(a > b for a, b in zip(l1, l1[1:])), l1
    assert all(r["linf_delta_units"] <= r["l1_delta_units"] for r in rows)


def test_pagerank_convergence_deterministic_under_partitioning(spark):
    from timing_explorer_spark.operators.graph import (
        pagerank_directed_convergence,
    )

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(15)] + [(15, 0), (3, 11)], ["src", "dst"]
    )
    a = sorted(map(tuple, pagerank_directed_convergence(edges, 4).collect()))
    b = sorted(
        map(
            tuple,
            pagerank_directed_convergence(edges.repartition(7), 4).collect(),
        )
    )
    assert a == b


def _pagerank_reference(edges, iterations):
    """[{doc: units}] for rounds 0..iterations of the fixed-point recurrence
    in plain Python integers, dangling share included."""
    from timing_explorer_spark.operators.graph import BASE, DAMP_DEN, DAMP_NUM, SCALE

    nodes = {n for e in edges for n in e}
    outs = {n: [d for s, d in edges if s == n] for n in nodes}
    rounds = [{n: SCALE for n in nodes}]
    for _ in range(iterations):
        units = rounds[-1]
        dang = sum(units[n] for n in nodes if not outs[n])
        nxt = {n: BASE + dang * DAMP_NUM // (DAMP_DEN * len(nodes)) for n in nodes}
        for s in nodes:
            for d in outs[s]:
                nxt[d] += units[s] * DAMP_NUM // (DAMP_DEN * len(outs[s]))
        rounds.append(nxt)
    return rounds


def test_pagerank_family_exact_against_reference(spark):
    """Every PageRank entry point equals the integer reference to the unit,
    for 0..3 rounds: the undirected form on a triangle with a tail, the
    directed pair on a graph whose node 5 has no out-links (dangling)."""
    from timing_explorer_spark.operators.graph import (
        SCALE,
        pagerank_directed,
        pagerank_directed_convergence,
        pagerank_fixed,
    )

    def units(df):
        return {r["doc"]: round(r["rank"] * SCALE) for r in df.collect()}

    pairs = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5)]
    directed = [(1, 2), (2, 3), (3, 1), (1, 4), (4, 5), (2, 5), (6, 1)]
    pairs_df = spark.createDataFrame(pairs, ["doc_a", "doc_b"])
    edges_df = spark.createDataFrame(directed, ["src", "dst"])
    und = _pagerank_reference(pairs + [(b, a) for a, b in pairs], 3)
    ref = _pagerank_reference(directed, 3)
    assert any(u != SCALE for u in ref[1].values())
    for it in range(4):
        assert units(pagerank_fixed(pairs_df, it)) == und[it]
        assert units(pagerank_directed(edges_df, it)) == ref[it]
    want = [
        (i, sum(abs(ref[i][n] - ref[i - 1][n]) for n in ref[i]),
         max(abs(ref[i][n] - ref[i - 1][n]) for n in ref[i]))
        for i in range(1, 4)
    ]
    for it in range(1, 4):
        got = sorted(map(tuple, pagerank_directed_convergence(edges_df, it).collect()))
        assert got == want[:it]


def test_pagerank_convergence_rejects_fewer_than_one_round(spark):
    """No round means no delta row: both the Spark operator and its oracle
    refuse ``iterations < 1`` by name instead of failing on an empty list."""
    from timing_explorer_spark.operators.graph import (
        pagerank_directed_convergence,
        pagerank_directed_convergence_oracle_sql,
    )

    edges = spark.createDataFrame([(1, 2)], ["src", "dst"])
    for bad in (0, -2):
        with pytest.raises(ValueError, match=f"iterations.*{bad}"):
            pagerank_directed_convergence(edges, iterations=bad)
        with pytest.raises(ValueError, match=f"iterations.*{bad}"):
            pagerank_directed_convergence_oracle_sql("SELECT 1 AS src, 2 AS dst", bad)


def test_hits_hub_authority_separation(spark):
    """r9: on a bipartite hub->authority fan (h0,h1 each link to a0..a3;
    nothing links to hubs, authorities have no outlinks), HITS must give
    the hubs hub-score 1.0 and authority 0, and the authorities
    authority 1.0 (all equal, max-normalized) and hub 0 — the separation
    PageRank cannot express. Deterministic under repartitioning."""
    from timing_explorer_spark.operators.graph import hits_fixed

    edges = spark.createDataFrame(
        [(h, a) for h in (100, 101) for a in (0, 1, 2, 3)], ["src", "dst"]
    )
    rows = {r["doc"]: (r["authority"], r["hub"]) for r in hits_fixed(edges, 5).collect()}
    assert rows[100] == (0.0, 1.0) and rows[101] == (0.0, 1.0)
    for a in (0, 1, 2, 3):
        assert rows[a] == (1.0, 0.0), rows[a]
    again = {
        r["doc"]: (r["authority"], r["hub"])
        for r in hits_fixed(edges.repartition(5), 5).collect()
    }
    assert again == rows


def test_bfs_depth_exact_and_directed(spark):
    """r9: crawl depth = MIN hop distance from the seed set along edge
    DIRECTION; unreachable docs absent; a shortcut edge must win over the
    long path; deterministic under repartitioning."""
    from timing_explorer_spark.operators.graph import bfs_depth

    # chain 0->1->2->3->4 plus shortcut 0->3; 9->0 points AT the seed but
    # is not reachable FROM it (directionality pin)
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4), (0, 3), (9, 0)], ["src", "dst"]
    )
    seeds = spark.createDataFrame([(0,)], ["doc"])
    got = {r["doc"]: r["depth"] for r in bfs_depth(edges, seeds).collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 1, 4: 2}  # 9 unreachable, absent
    again = {
        r["doc"]: r["depth"]
        for r in bfs_depth(edges.repartition(5), seeds, max_hops=30).collect()
    }
    assert again == got


def test_components_deep_chain_converges_and_bounded_plan(spark):
    """r9 regression: a DEEP-diameter graph (path of 45 nodes — past the
    default max_iters guard) must still resolve to one component when the
    cap is raised, and the per-round localCheckpoint keeps the logical plan
    from growing 2^rounds (the driver-heap blowup a default-memory session
    hit on the link graph)."""
    from timing_explorer_spark.operators.dedup import resolve_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(45)], ["doc_a", "doc_b"]
    )
    labels = resolve_components(pairs, max_iters=60)
    reps = {r["rep"] for r in labels.collect()}
    assert reps == {0}
    # the plan string of the RESULT stays small — lineage was cut per round
    assert len(labels._jdf.queryExecution().simpleString()) < 20_000


# ------------------------------------------------------------------ HLL rollup
def test_hll_rollup_identity_and_accuracy(spark, sf_smoke):
    """Union of hourly HLL partials must equal the direct daily sketch
    (register-wise max identity), and stay within 2% of exact distincts."""
    e = load(spark, sf_smoke, "events")
    hourly = e.groupBy(F.date_trunc("hour", "ts").alias("h"), "event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    merged = hourly.groupBy(F.date_trunc("day", "h").alias("day"), "event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")
    )
    direct = e.groupBy(F.date_trunc("day", "ts").alias("day"), "event_type").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("est"),
        F.countDistinct("user_id").alias("exact"),
    )
    m = {(r["day"], r["event_type"]): r["est"] for r in merged.collect()}
    rows = direct.collect()
    assert m and len(m) == len(rows)
    for r in rows:
        est = m[(r["day"], r["event_type"])]
        assert est == r["est"], "merged sketch != direct sketch"
        assert abs(est - r["exact"]) / max(r["exact"], 1) < 0.02


# ------------------------------------------------------------------------ BPE
def test_bpe_merge_scan_semantics(spark):
    """Exact BPE greedy-scan fusion: 'a a b' fuses the LAST two; 'a b a b'
    fuses both; singletons and empties pass through."""
    from timing_explorer_spark.operators.bpe import JOINER, apply_merge

    df = spark.createDataFrame(
        [("a a b",), ("a b a b",), ("b a b",), ("x",)], ["text"]
    ).select(F.split("text", " ").alias("toks"))
    out = [r["toks"] for r in apply_merge(df, "a", "b").collect()]
    ab = f"a{JOINER}b"
    assert out == [["a", ab], [ab, ab], ["b", ab], ["x"]]


def test_bpe_training_compresses_and_is_deterministic(spark, sf_smoke):
    from pyspark.sql import functions as F2

    from timing_explorer_spark.operators.bpe import bpe_train

    docs = load(spark, sf_smoke, "documents")
    merges_a, toks = bpe_train(docs, 6)
    merges_b, _ = bpe_train(docs.repartition(13), 6)
    assert merges_a == merges_b  # bit-identical training on any layout
    assert len(merges_a) == 6
    assert all(m[3] >= 2 for m in merges_a)
    n0 = docs.select(F2.sum(F2.size(F2.split("text", r"\s+")))).collect()[0][0]
    n1 = toks.select(F2.sum(F2.size("toks"))).collect()[0][0]
    # every merge occurrence removes one token
    assert n1 == n0 - sum(m[3] for m in merges_a) or n1 < n0


def test_bpe_encode_reproduces_training_state(spark, sf_smoke):
    """Applying the trained merge table to raw text must reproduce the
    training loop's final corpus tokenization exactly (the artifact is
    sufficient — no hidden training state)."""
    from timing_explorer_spark.operators.bpe import bpe_encode, bpe_train

    docs = load(spark, sf_smoke, "documents")
    merges, trained = bpe_train(docs, 5)
    encoded = bpe_encode(docs, merges)
    a = [tuple(r["toks"]) for r in trained.collect()]
    b = [tuple(r["toks"]) for r in encoded.collect()]
    assert sorted(a) == sorted(b)


def test_bpe_sampled_training_equivalence(spark):
    """r8 verdict task #5: the scale path is sampled TRAINING + full-corpus
    encode (every merge is a full pair-count pass — O(n_merges x corpus) —
    so training cost must be bounded by sample_fraction, like
    pq_train_codebooks). On a replicated fixture whose pair-frequency ranks
    are scale-invariant and well separated, a half-sample must learn the
    IDENTICAL merge sequence (counts scale, ranks don't), and encoding
    held-out text with the sampled table must equal the full table's
    encoding."""
    from timing_explorer_spark.operators.bpe import bpe_encode, bpe_train

    rows = (
        [("the cat sat on the mat",)] * 120
        + [("big dog ran far away now",)] * 60
        + [("tiny bird flew very high up",)] * 30
    )
    docs = spark.createDataFrame(rows, ["text"]).repartition(8)
    full, _ = bpe_train(docs, 4)
    sampled, _ = bpe_train(docs, 4, sample_fraction=0.5, seed=7)
    assert [(a, b) for _, a, b, _ in full] == [(a, b) for _, a, b, _ in sampled]
    # sampled counts are bounded by the full counts (a strict subset corpus)
    assert all(s[3] <= f[3] for f, s in zip(full, sampled))
    held_out = spark.createDataFrame(
        [("the cat sat on a new mat today",), ("big dog ran far",)], ["text"]
    )
    enc_full = [tuple(r["toks"]) for r in bpe_encode(held_out, full).collect()]
    enc_samp = [tuple(r["toks"]) for r in bpe_encode(held_out, sampled).collect()]
    assert sorted(enc_full) == sorted(enc_samp)


def test_bpe_artifact_roundtrip(spark, sf_smoke, tmp_path):
    """r8: the merge table ships as ONE parquet artifact (the kn_save
    pattern — Spark writers only). save -> load round-trips bit-exactly
    and the loaded table encodes identically."""
    from timing_explorer_spark.operators.bpe import (
        bpe_encode,
        bpe_load,
        bpe_save,
        bpe_train,
    )

    docs = load(spark, sf_smoke, "documents")
    merges, _ = bpe_train(docs, 4)
    path = str(tmp_path / "bpe_model")
    bpe_save(spark, merges, path)
    loaded = bpe_load(spark, path)
    assert loaded == [(r, a, b, c) for r, a, b, c in merges]
    a = sorted(tuple(r["toks"]) for r in bpe_encode(docs.limit(20), merges).collect())
    b = sorted(tuple(r["toks"]) for r in bpe_encode(docs.limit(20), loaded).collect())
    assert a == b


def test_ann_artifact_roundtrip(spark, sf_smoke, tmp_path):
    """r8: IVF centers + PQ codebooks ship as parquet artifacts; load
    round-trips bit-exactly and the loaded artifacts serve identical
    IVF-PQ results (train once, serve anywhere)."""
    from timing_explorer_spark.operators.similarity import (
        ann_load,
        ann_save,
        ivf_train_centroids,
        ivfpq_topk,
        pq_train_codebooks,
    )
    from timing_explorer_spark.sources.tables import load as tload

    emb = tload(spark, sf_smoke, "embeddings")
    centers = ivf_train_centroids(emb, n_centroids=8)
    books = pq_train_codebooks(emb, m=8, k_sub=16)
    path = str(tmp_path / "ann_model")
    ann_save(spark, path, centers=centers, books=books)
    c2, b2 = ann_load(spark, path)
    assert c2 == [[float(x) for x in c] for c in centers]
    assert b2 == [[[float(x) for x in v] for v in book] for book in books]
    queries = emb.where(F.col("vec_id") < 3)
    r1 = sorted(
        (r["query_id"], r["neighbor_id"], round(r["score"], 9))
        for r in ivfpq_topk(
            emb, queries, k=5, n_probe=4, refine=4, centers=centers, books=books
        ).collect()
    )
    r2 = sorted(
        (r["query_id"], r["neighbor_id"], round(r["score"], 9))
        for r in ivfpq_topk(
            emb, queries, k=5, n_probe=4, refine=4, centers=c2, books=b2
        ).collect()
    )
    assert r1 == r2
    # half-artifact load: centers only
    ann_save(spark, str(tmp_path / "c_only"), centers=centers)
    c3, b3 = ann_load(spark, str(tmp_path / "c_only"))
    assert c3 == c2 and b3 is None


def test_ann_artifact_error_paths(spark, tmp_path):
    """r9 (ADVICE): absence maps to None, but a CORRUPT artifact must
    re-raise — only the PATH_NOT_FOUND / UNABLE_TO_INFER_SCHEMA classes
    mean 'that half was not saved' — and empty centers/books are rejected
    at save time instead of producing an artifact that loads as garbage."""
    import pytest

    from timing_explorer_spark.operators.similarity import ann_load, ann_save

    # wholly absent path: both halves None, no error
    assert ann_load(spark, str(tmp_path / "nowhere")) == (None, None)
    # corrupt parquet: must NOT be swallowed as absence
    bad = tmp_path / "bad" / "centers.parquet"
    bad.mkdir(parents=True)
    (bad / "part-00000.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(Exception) as ei:
        ann_load(spark, str(tmp_path / "bad"))
    assert "PATH_NOT_FOUND" not in str(ei.value)
    # empty halves rejected at save
    with pytest.raises(ValueError, match="books is empty"):
        ann_save(spark, str(tmp_path / "e1"), books=[])
    with pytest.raises(ValueError, match="centers is empty"):
        ann_save(spark, str(tmp_path / "e2"), centers=[])


def test_containment_dominates_jaccard(spark, sf_smoke):
    """Mathematical invariant: C(A,B) = |A∩B|/min(|A|,|B|) >= J(A,B) for
    every pair, so the containment threshold can never be LESS selective
    than the same Jaccard threshold on identical candidates."""
    from timing_explorer_spark.operators.dedup import containment_pairs, jaccard_pairs

    docs = load(spark, sf_smoke, "documents")
    j = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in jaccard_pairs(docs, threshold=0.0, n=3).collect()}
    c = {(r["doc_a"], r["doc_b"]): r["containment"] for r in containment_pairs(docs, threshold=0.0, n=3).collect()}
    assert set(j) == set(c) and j  # same candidate pairs (shared index)
    assert all(c[k] >= j[k] - 1e-12 for k in j)


def test_cusum_closed_form_equals_recurrence(spark):
    """q_cusum_changepoints computes S_i = max(0, S_{i-1} + d_i) WITHOUT a
    recurrence, as P_i - min_{j<=i} P_j over prefix sums P. Pin the identity
    against the literal sequential recurrence on randomized deviations."""
    import random

    from pyspark.sql import Window

    rng = random.Random(7)
    for _ in range(10):
        devs = [rng.randint(-50, 50) for _ in range(rng.randint(1, 60))]
        # literal recurrence (both directions)
        s_pos, s_neg, exp_pos, exp_neg = 0, 0, [], []
        for d in devs:
            s_pos = max(0, s_pos + d)
            s_neg = max(0, s_neg - d)
            exp_pos.append(s_pos)
            exp_neg.append(s_neg)
        df = spark.createDataFrame(
            [(i, d) for i, d in enumerate(devs)], "i: long, d: long"
        )
        w = Window.orderBy("i").rowsBetween(Window.unboundedPreceding, 0)
        zero = F.lit(0).cast("long")
        got = (
            df.withColumn("p", F.sum("d").over(w))
            .select(
                "i",
                (F.col("p") - F.least(F.min("p").over(w), zero)).alias("cpos"),
                (F.greatest(F.max("p").over(w), zero) - F.col("p")).alias("cneg"),
            )
            .orderBy("i")
            .collect()
        )
        assert [r.cpos for r in got] == exp_pos
        assert [r.cneg for r in got] == exp_neg


def test_exact_substr_trim_consistent_with_coverage(spark, sf_smoke):
    """The trim op removes EXACTLY the positions the boilerplate-coverage op
    counts: kept_tokens == n_tokens - covered_tokens per document, and the
    corpus genuinely shrinks (some doc has covered spans at this SF)."""
    from timing_explorer_spark.plans import all_queries

    cov = {
        r["doc_id"]: (r["n_tokens"], r["covered_tokens"])
        for r in all_queries()["q_boilerplate_span_coverage"].build(spark, sf_smoke).collect()
    }
    trim = all_queries()["q_exact_substr_trim"].build(spark, sf_smoke).collect()
    assert len(trim) == len(cov)
    removed_any = False
    for r in trim:
        n, covered = cov[r["doc_id"]]
        assert r["n_tokens"] == n
        assert r["kept_tokens"] == n - covered, r["doc_id"]
        removed_any |= covered > 0
    assert removed_any


def test_pagerank_token_budget_approx_matches_exact_shares(spark, sf_oracle):
    """r10 verdict task #2: the approx-percentile variant of the PageRank
    token budget must reproduce the exact NTILE variant's bucket structure
    within quantile tolerance — per-bucket doc SHARE within (largest rank
    tie-group share + the sketch's 1e-4 rank error), and identical
    weight/budget arithmetic given the bucket (sample_rate recomputable
    from the row's own columns)."""
    from timing_explorer_spark.plans import all_queries

    qs = all_queries()
    exact = {r["bucket"]: r for r in qs["q_pagerank_token_budget"].build(spark, sf_oracle).collect()}
    approx = {
        r["bucket"]: r
        for r in qs["q_pagerank_token_budget_approx"].build(spark, sf_oracle).collect()
    }
    assert set(exact) == {1, 2, 3} and set(approx) == {1, 2, 3}
    total = sum(r["n_docs"] for r in exact.values())
    assert total == sum(r["n_docs"] for r in approx.values())
    # the boundary-tie refinement makes bucket sizes match NTILE's to within
    # the sketch's rank error (accuracy 10000) plus a couple of boundary
    # docs from the sketch's pick-an-element semantics
    tol_docs = max(3, int(total * 3e-4))
    for b in (1, 2, 3):
        assert abs(exact[b]["n_docs"] - approx[b]["n_docs"]) <= tol_docs, (
            b,
            exact[b]["n_docs"],
            approx[b]["n_docs"],
        )
        assert approx[b]["weight"] == exact[b]["weight"]
        # budget arithmetic identical given the bucket's own token mass
        r = approx[b]
        want_rate = min(1.0, 100000.0 * r["weight"] / 7.0 / r["n_tokens"])
        assert abs(r["sample_rate"] - want_rate) < 1e-12
        assert abs(r["expected_tokens"] - r["sample_rate"] * r["n_tokens"]) < 1e-9


def test_anchor_terms_nested_markup_kept(spark):
    """r10 verdict task #5: anchors whose inner text carries nested markup
    (<a href=u>use <b>bold</b></a>) — silently dropped by the r9 [^<]*
    grammar — must tokenize via the strip chain; entity decode and
    whitespace collapse ride the same chain; plain anchors unchanged."""
    from timing_explorer_spark.plans.text_pipeline import anchor_term_counts

    pages = spark.createDataFrame(
        [
            (
                1,
                '<a href="https://x.example/p">use <b>bold</b>  tags</a> '
                "<a href='https://x.example/q'>plain &amp; simple</a>",
            ),
            (2, '<a href="https://x.example/p">use <i>italic</i> tags</a>'),
        ],
        ["doc_id", "html"],
    )
    rows = {
        (r["dst_url"], r["term"]): (r["n_mentions"], r["n_src_docs"])
        for r in anchor_term_counts(pages).collect()
    }
    # nested-markup anchor kept: strip chain removes <b>/<i>, collapses the
    # double space, both docs mention (p, use/tags)
    assert rows[("https://x.example/p", "use")] == (2, 2)
    assert rows[("https://x.example/p", "bold")] == (1, 1)
    assert rows[("https://x.example/p", "italic")] == (1, 1)
    assert rows[("https://x.example/p", "tags")] == (2, 2)
    # single-quoted plain anchor: entity decode via the chain ('&' survives
    # as its own whitespace-delimited token)
    assert rows[("https://x.example/q", "plain")] == (1, 1)
    assert rows[("https://x.example/q", "&")] == (1, 1)
    assert rows[("https://x.example/q", "simple")] == (1, 1)
    # no token leaked from the markup itself
    assert not any(t.startswith("<") for (_, t) in rows)


def test_anchor_unclosed_swallows_to_next_close(spark):
    """ADVICE r10 (documented malformed-input trade of the lazy r10
    grammar): an UNCLOSED <a> swallows everything up to the NEXT </a> —
    the swallowed anchor's (href, term) pairs are dropped and its text is
    attributed to the unclosed anchor's URL; anchors AFTER that </a> are
    unaffected. Pinned so any future grammar change is a conscious one."""
    from timing_explorer_spark.plans.text_pipeline import anchor_term_counts

    pages = spark.createDataFrame(
        [
            (
                1,
                '<a href="https://x.example/u1">first '
                '<a href="https://x.example/u2">second</a> '
                '<a href="https://x.example/u3">third</a>',
            )
        ],
        ["doc_id", "html"],
    )
    rows = {
        (r["dst_url"], r["term"]): r["n_mentions"]
        for r in anchor_term_counts(pages).collect()
    }
    urls = {u for (u, _) in rows}
    # the swallowed anchor's URL never surfaces; its text lands on u1
    assert "https://x.example/u2" not in urls
    assert rows[("https://x.example/u1", "first")] == 1
    assert rows[("https://x.example/u1", "second")] == 1
    # recovery after the first </a>: u3 is extracted normally
    assert rows[("https://x.example/u3", "third")] == 1


def test_budget_sampler_deterministic_and_rate_bounded(spark, sf_oracle):
    """r10: the budget-driven sampler must be (a) deterministic — identical
    kept set on re-run (hash-threshold sampling, no RNG), (b) a subset of
    the scored corpus with rates matching the budget table, (c) close to
    the target rate per bucket (multiplicative-hash uniformity — loose
    bound, it's a 32-bit Knuth hash on small ids)."""
    from timing_explorer_spark.plans import all_queries

    qs = all_queries()
    kept1 = {r["doc"]: r for r in qs["q_budget_sampled_corpus"].build(spark, sf_oracle).collect()}
    kept2 = {r["doc"]: r for r in qs["q_budget_sampled_corpus"].build(spark, sf_oracle).collect()}
    assert kept1.keys() == kept2.keys() and kept1
    budget = {
        r["bucket"]: r
        for r in qs["q_pagerank_token_budget"].build(spark, sf_oracle).collect()
    }
    # per-bucket kept counts within a loose binomial-ish band of the rate
    from collections import Counter

    kept_by_bucket = Counter(r["bucket"] for r in kept1.values())
    for b, row in budget.items():
        want = row["sample_rate"] * row["n_docs"]
        got = kept_by_bucket.get(b, 0)
        # 6-sigma binomial band + 2-doc slack (small-n buckets)
        import math

        sigma = math.sqrt(max(want * (1 - row["sample_rate"]), 1.0))
        assert abs(got - want) <= 6 * sigma + 2, (b, got, want)
        # the sampler echoes the budget's rate per bucket
        any_doc = next((r for r in kept1.values() if r["bucket"] == b), None)
        if any_doc is not None:
            assert abs(any_doc["sample_rate"] - row["sample_rate"]) < 1e-12


def test_budget_sampled_corpus_approx_pins(spark, sf_oracle):
    """r11 verdict task #1: the scale-safe (approx-bucket) budget sampler.
    Pins: (a) deterministic across reruns; (b) its kept set differs from
    the EXACT sampler only through two exactly-characterized channels —
    docs whose bucket assignment drifted (bounded by the sketch's rank
    error) and docs whose keep hash falls between the two variants' rates
    for their bucket (the rate shift induced by drifted token mass);
    (c) same-bucket kept rows carry identical (bucket, n_tokens);
    (d) the sampler's own plan has NO Window operator anywhere (the whole
    point — the exact variant's global NTILE is gone from this path)."""
    from timing_explorer_spark.plans import all_queries
    from timing_explorer_spark.plans.text_pipeline import (
        _budget_rates,
        _budget_rates_parallel,
        _budget_scored,
        _budget_scored_approx,
    )

    qs = all_queries()
    build = qs["q_budget_sampled_corpus_approx"].build
    df = build(spark, sf_oracle)
    # (d) zero Windows in the optimized plan (localCheckpoint cuts the
    # upstream PageRank loop, which is itself window-free)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "Window" not in plan, plan[:1500]
    kept_a = {r["doc"]: r for r in df.collect()}
    kept_a2 = {r["doc"]: r for r in build(spark, sf_oracle).collect()}
    assert kept_a.keys() == kept_a2.keys() and kept_a  # (a)
    kept_e = {
        r["doc"]: r
        for r in qs["q_budget_sampled_corpus"].build(spark, sf_oracle).collect()
    }
    scored_e = _budget_scored(spark, sf_oracle)
    be = {r["doc"]: r["bucket"] for r in scored_e.collect()}
    scored_a = _budget_scored_approx(spark, sf_oracle)
    ba = {r["doc"]: r["bucket"] for r in scored_a.collect()}
    assert be.keys() == ba.keys()
    drift = {d for d in be if be[d] != ba[d]}
    assert len(drift) <= max(3, int(len(be) * 3e-4))  # (b) bound 1
    rates_e = {
        r["bucket"]: r["sample_rate"] for r in _budget_rates(scored_e).collect()
    }
    rates_a = {
        r["bucket"]: r["sample_rate"]
        for r in _budget_rates_parallel(scored_a).collect()
    }
    for d in kept_a.keys() ^ kept_e.keys():
        if d in drift:
            continue  # bucket changed — keep decision legitimately differs
        # same bucket in both variants: the flip must come from the rate
        # band between the two variants' rates for that bucket
        b = be[d]
        lo, hi = sorted((rates_e[b], rates_a[b]))
        h = (d * 2654435761) % 4294967296 / 4294967296.0
        assert lo <= h < hi, (d, b, h, lo, hi)
    for d in (kept_a.keys() & kept_e.keys()) - drift:  # (c)
        assert kept_a[d]["bucket"] == kept_e[d]["bucket"]
        assert kept_a[d]["n_tokens"] == kept_e[d]["n_tokens"]


def test_corpus_assembly_e2e_stage_reconciliation(spark, sf_oracle):
    """r11 verdict task #4: the end-to-end corpus-assembly flagship. Every
    stage's row count must reconcile with its neighbors — the composition
    contract (each COMPONENT is oracle-matched or pinned by its own
    registered query; this pins that chaining them loses nothing
    unaccounted): cleaned >= neardeduped >= capped; scored == capped (the
    link fixture ranks every page, so the bucket join drops nothing);
    sampled is a keep-rule-verifiable subset of scored; packed token mass
    == sampled token mass with contiguous seq ids."""
    from collections import Counter

    from timing_explorer_spark.plans.text_pipeline import (
        _E2E_SOURCE_CAP,
        corpus_assembly_stages,
    )

    st = corpus_assembly_stages(spark, sf_oracle)
    n = {k: st[k].count() for k in ("cleaned", "neardeduped", "capped")}
    assert n["cleaned"] >= n["neardeduped"] >= n["capped"] > 0
    # the cap actually bites per source and never exceeds the cap
    per_src = Counter(
        r["source"] for r in st["capped"].select("source").collect()
    )
    assert max(per_src.values()) <= _E2E_SOURCE_CAP
    scored = st["scored"].collect()
    assert len(scored) == n["capped"]  # full rank coverage — nothing dropped
    assert {r["bucket"] for r in scored} <= {1, 2, 3}
    sampled = st["sampled"].collect()
    scored_docs = {r["doc"] for r in scored}
    assert {r["doc"] for r in sampled} <= scored_docs
    for r in sampled:  # the deterministic keep rule, re-verified per row
        h = (r["doc"] * 2654435761) % 4294967296
        assert h < r["sample_rate"] * 4294967296.0
    packed = st["packed"].collect()
    assert sum(r["total_tokens"] for r in packed) == sum(
        r["n_tokens"] for r in sampled
    )
    assert sum(r["n_docs"] for r in packed) == len(sampled)
    seq_ids = sorted(r["seq_id"] for r in packed)
    assert seq_ids == list(range(len(seq_ids)))  # contiguous packing


def test_registrable_domain_psl_subset(spark):
    """r11: eTLD+1 extraction — longest-suffix match against the embedded
    public-suffix subset, as a map-only column expression. Pins the
    multi-label suffixes (co.uk-style), port stripping, case folding,
    deep subdomain folding, and the documented degenerate behaviors
    (lone label and bare public suffix return themselves)."""
    from timing_explorer_spark.operators.html_extract import registrable_domain

    cases = {
        "www.bbc.co.uk": "bbc.co.uk",
        "a.b.news.bbc.co.uk": "bbc.co.uk",
        "cdn.other.net:443": "other.net",
        "docs.other.net": "other.net",
        "Example.COM:8080": "example.com",
        "a.b.c.example.com": "example.com",
        "x.com.au": "x.com.au",  # com.au is the suffix, x is the registrable label
        "shop.x.com.au": "x.com.au",
        "localhost": "localhost",  # lone label: returns itself
        "co.uk": "co.uk",  # bare public suffix: returns itself (documented)
    }
    df = spark.createDataFrame([(h,) for h in cases], "h string")
    got = {
        r["h"]: r["d"]
        for r in df.select(
            "h", registrable_domain(F.col("h")).alias("d")
        ).collect()
    }
    assert got == cases


_SPINE_RECURSIVE_SQL = """
    WITH RECURSIVE months(m) AS (
        SELECT DATE_TRUNC('MONTH', MIN(o_orderdate)) FROM __spine_orders
        UNION ALL
        SELECT m + INTERVAL 1 MONTH FROM months
        WHERE m < (SELECT DATE_TRUNC('MONTH', MAX(o_orderdate)) FROM __spine_orders)
    )
    SELECT CAST(m AS DATE) AS month, COUNT(o_orderkey) AS n_orders
    FROM months LEFT JOIN __spine_orders ON DATE_TRUNC('MONTH', o_orderdate) = m
    GROUP BY m
"""

_SPINE_SEQUENCE_SQL = """
    WITH bounds AS (
        SELECT DATE_TRUNC('MONTH', MIN(o_orderdate)) AS lo,
               DATE_TRUNC('MONTH', MAX(o_orderdate)) AS hi
        FROM __spine_orders
    ),
    months AS (
        SELECT explode_outer(sequence(lo, hi, INTERVAL '1' MONTH)) AS m
        FROM bounds
    )
    SELECT CAST(m AS DATE) AS month, COUNT(o_orderkey) AS n_orders
    FROM months LEFT JOIN __spine_orders ON DATE_TRUNC('MONTH', o_orderdate) = m
    GROUP BY m
"""


def test_month_spine_sequence_matches_recursive_cte(spark):
    """r12 optimization: q_recursive_month_spine's bounds+sequence() plan is
    row-identical to the standard-SQL WITH RECURSIVE formulation it replaced
    (the recursion ran one distributed job per month — ~81 iterations at the
    fixtures, each re-evaluating the MAX scalar subquery; the sequence form
    is a single bounds aggregate). The recursive original runs live here on
    a gap-heavy synthetic table so the Spark 4 recursive-CTE surface stays
    exercised; the registered builder itself is hash-pinned against the
    unchanged recursive DuckDB oracle by the registry gate."""
    rows = [
        (k, f"2030-{1 + (7 * k) % 12:02d}-{1 + (k * 11) % 28:02d}", 2030 + k % 3)
        for k in range(40)
    ]
    spark.createDataFrame(
        [(k, f"{y}-{d[5:]}") for (k, d, y) in rows], "o_orderkey long, ds string"
    ).selectExpr("o_orderkey", "CAST(ds AS TIMESTAMP) AS o_orderdate").createOrReplaceTempView(
        "__spine_orders"
    )
    key = lambda r: (str(r["month"]), r["n_orders"])  # noqa: E731
    got = sorted(key(r) for r in spark.sql(_SPINE_SEQUENCE_SQL).collect())
    recursive = sorted(key(r) for r in spark.sql(_SPINE_RECURSIVE_SQL).collect())
    assert got == recursive
    assert len(got) > 12  # multi-year spine, gap months included at count 0
    assert any(n == 0 for _, n in got)

    # Empty-input parity: the recursive anchor yields a single NULL month;
    # explode_outer preserves exactly that (a bare explode would drop it).
    spark.sql("SELECT * FROM __spine_orders WHERE FALSE").createOrReplaceTempView(
        "__spine_orders"
    )
    got_empty = [key(r) for r in spark.sql(_SPINE_SEQUENCE_SQL).collect()]
    rec_empty = [key(r) for r in spark.sql(_SPINE_RECURSIVE_SQL).collect()]
    assert got_empty == rec_empty == [("None", 0)]
