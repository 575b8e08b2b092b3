"""Quality checks for the hash-sketch dedup operators (the ones the driver
only rows-only-checks): LSH recall vs exact Jaccard, simhash properties."""

from __future__ import annotations

from pyspark.sql import functions as F

from timing_explorer_spark.operators.dedup import (
    jaccard_pairs,
    minhash_lsh_pairs,
    simhash_pairs,
    simhash_sketches,
)
from timing_explorer_spark.sources.tables import load


def test_minhash_lsh_recall_is_total_at_sf001(spark, sf_oracle):
    """The q_minhash_lsh_neardup oracle attachment rests on this: at J≥0.8
    the 16x4 LSH S-curve must recover EVERY exact pair (driver compares
    against the exact-Jaccard SQL)."""
    docs = load(spark, sf_oracle, "documents")
    exact = {(r.doc_a, r.doc_b) for r in jaccard_pairs(docs, 0.8).collect()}
    lsh = {(r.doc_a, r.doc_b) for r in minhash_lsh_pairs(docs, 0.8).collect()}
    assert exact, "test data should contain near-duplicate pairs"
    assert lsh == exact  # 100% recall AND exact precision (verified pairs)


def test_simhash_recovers_strong_neardups(spark, sf_oracle):
    """Strong near-dups (trigram Jaccard ≥ 0.9) should mostly fall within the
    simhash hamming threshold. Unigram simhash on short docs votes weakly per
    bit (measured d≈0-10, with rare word-set outliers), so assert ≥80% recall
    rather than perfection."""
    docs = load(spark, sf_oracle, "documents")
    strong = {(r.doc_a, r.doc_b) for r in jaccard_pairs(docs, 0.9).collect()}
    sh = {(r.doc_a, r.doc_b) for r in simhash_pairs(docs, max_hamming=10).collect()}
    assert strong
    recall = len(strong & sh) / len(strong)
    assert recall >= 0.8, f"simhash recall {recall:.2f}; missed {sorted(strong - sh)[:5]}"


def test_simhash_deterministic(spark, sf_smoke):
    docs = load(spark, sf_smoke, "documents").limit(50)
    a = {(r.doc, r.simhash) for r in simhash_sketches(docs).collect()}
    b = {(r.doc, r.simhash) for r in simhash_sketches(docs).collect()}
    assert a == b


def test_jaccard_shingle_df_cap_keeps_high_pairs(spark, sf_smoke):
    """The scale knob (max_shingle_df) must not lose truly-near pairs whose
    shingles are rare; with a generous cap the J≥0.8 output is unchanged."""
    docs = load(spark, sf_smoke, "documents")
    full = {(r.doc_a, r.doc_b) for r in jaccard_pairs(docs, 0.8).collect()}
    capped = {
        (r.doc_a, r.doc_b)
        for r in jaccard_pairs(docs, 0.8, max_shingle_df=1000).collect()
    }
    assert capped == full


def test_resolve_components_equals_union_find(spark, sf_smoke):
    """Spark min-label propagation == reference union-find on the same pairs."""
    from timing_explorer_spark.operators.dedup import jaccard_pairs, resolve_components
    from timing_explorer_spark.sources.tables import load

    pairs = jaccard_pairs(load(spark, sf_smoke, "documents"), threshold=0.8, n=3)
    collected = [(r.doc_a, r.doc_b) for r in pairs.collect()]
    got = {(r.doc, r.rep) for r in resolve_components(pairs).collect()}

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in collected:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {(n, find(n)) for n in parent}
    assert got == expected


def test_minhash_lsh_equals_exact_at_sf01(spark):
    """Scale spot-check at sf0.1 (where the affine-permutation min-wise
    independence bug first surfaced as a silently missed pair): LSH output
    must equal the exact-Jaccard pair set, not just at the tiny SFs."""
    from timing_explorer_spark.operators.dedup import (
        jaccard_pairs,
        minhash_lsh_pairs,
        release_cached,
    )

    docs = load(spark, "/root/testdata/sf0.1", "documents")
    try:
        exact = {(r.doc_a, r.doc_b) for r in jaccard_pairs(docs, threshold=0.8).collect()}
        lsh = {(r.doc_a, r.doc_b) for r in minhash_lsh_pairs(docs, threshold=0.8).collect()}
        assert lsh == exact, (
            f"missed={sorted(exact - lsh)[:5]} extra={sorted(lsh - exact)[:5]}"
        )
    finally:
        release_cached()


def test_minhash_joins_plan_from_materialized_stats(spark):
    """Stats-accuracy pin (found at 500k docs, round 6): Catalyst's static
    estimate of a NOT-yet-computed cached projection undershoots the
    broadcast threshold — at 500k docs it planned the 8M-row band index and
    the 1-GiB shingle table as BroadcastExchanges and aborted on
    spark.driver.maxResultSize. minhash_lsh_pairs therefore MATERIALIZES the
    corpus-grain caches before the joins plan, so join strategy follows the
    REAL sizes at every scale: this toy corpus must broadcast (fast), and
    the caches must already be computed when the function returns (that is
    the mechanism — scripts/bench_sf1_llm.py --sf10 asserts the 500k-scale half:
    zero broadcasts there)."""
    import re

    from timing_explorer_spark.operators.dedup import minhash_lsh_pairs, release_cached

    release_cached()
    docs = spark.createDataFrame(
        [(i, f"w{i} w{i+1} w{i+2} w{i+3} w{i+4} common words here") for i in range(50)],
        "doc_id long, text string",
    )
    df = minhash_lsh_pairs(docs, threshold=0.8)
    # the corpus-grain caches were computed BEFORE the result was acted on
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    assert any(i.numCachedPartitions() > 0 for i in infos), "caches not materialized"
    plan = df._jdf.queryExecution().executedPlan().toString()
    # tiny corpus + real stats -> the broadcast plan (the fast one here)
    assert re.search(r"BroadcastExchange", plan)
    release_cached()
