"""Distributed prefix-scan operators (operators/prefix.py): the two-phase
range-partitioned scan must equal the naive single-partition window bit for
bit, for any partition count — and actually plan as a range exchange, not a
collapse to one task."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from timing_explorer_spark.operators.prefix import global_rank, running_total
from timing_explorer_spark.sources.tables import load


def _naive_running(df):
    w = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return df.select("t", F.sum("d").over(w).alias("running_total"))


def test_running_total_matches_naive_window(spark, sf_smoke):
    e = load(spark, sf_smoke, "events")
    agg = e.groupBy(F.col("ts").alias("t")).agg(F.sum(F.lit(1)).alias("d"))
    expect = sorted((r["t"], r["running_total"]) for r in _naive_running(agg).collect())
    for n_parts in (2, 8):
        got = sorted(
            (r["t"], r["running_total"])
            for r in running_total(agg, ["t"], "d", n_parts=n_parts).select("t", "running_total").collect()
        )
        assert got == expect, f"n_parts={n_parts}"


def test_global_rank_matches_row_number(spark, sf_smoke):
    e = load(spark, sf_smoke, "events").select("event_id", "ts")
    w = Window.orderBy("ts", "event_id")
    expect = sorted(
        (r["event_id"], r["rk"])
        for r in e.select("event_id", F.row_number().over(w).alias("rk")).collect()
    )
    got = sorted(
        (r["event_id"], r["rk"])
        for r in global_rank(e, ["ts", "event_id"], n_parts=5).select("event_id", "rk").collect()
    )
    assert got == expect


def test_prefix_scan_plans_range_exchange(spark, sf_smoke):
    """The heavy input goes through a RANGE exchange (partition-parallel),
    and the only single-partition work is the per-partition offset table
    (one row per partition)."""
    e = load(spark, sf_smoke, "events")
    agg = e.groupBy(F.col("ts").alias("t")).agg(F.sum(F.lit(1)).alias("d"))
    plan = running_total(agg, ["t"], "d")._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in plan
    # the big-side local scan is partitioned by __pid, never a global window
    assert "partial_sum" in plan or "Window" in plan


def test_prefix_scan_under_cluster_confs(spark, sf_smoke):
    """The two-phase scan must stay correct under deployment-style confs
    (AQE on, 200 shuffle partitions): partition-id bookkeeping relies on
    exchange reuse between the offsets subtree and the output subtree, so
    adaptive re-planning must not skew the offsets."""
    saved = {
        "spark.sql.adaptive.enabled": spark.conf.get("spark.sql.adaptive.enabled"),
        "spark.sql.shuffle.partitions": spark.conf.get("spark.sql.shuffle.partitions"),
    }
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.shuffle.partitions", "200")
        e = load(spark, sf_smoke, "events")
        agg = e.groupBy(F.col("ts").alias("t")).agg(F.sum(F.lit(1)).alias("d"))
        expect = sorted((r["t"], r["running_total"]) for r in _naive_running(agg).collect())
        got = sorted(
            (r["t"], r["running_total"])
            for r in running_total(agg, ["t"], "d", n_parts=7).select("t", "running_total").collect()
        )
        assert got == expect
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_sequence_packing_distributed_scan(spark, sf_smoke):
    """q_sequence_packing's running token offset must plan as the two-phase
    scan: a rangepartitioning exchange for the data path, with the only
    ORDER-BY-without-PARTITION-BY window running over the per-partition
    offset table (one row per partition, driver-scale)."""
    from timing_explorer_spark.plans import all_queries

    df = all_queries()["q_sequence_packing"].build(spark, sf_smoke)
    je = df._jdf.queryExecution()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plan = je.explainString(mode)
    assert "rangepartitioning" in plan
    # the big-side window is partitioned by __pid, never a global sort
    assert "partitionBy=[__pid" in plan.replace(" ", "") or "__pid" in plan


def test_prefix_scan_string_key_matches_naive_window(spark, sf_smoke):
    """A string leading order key (fixed-length md5 hex) range-partitions
    and stays bit-identical to the naive window."""
    e = load(spark, sf_smoke, "events").select(
        "event_id", F.md5(F.col("event_id").cast("string")).alias("k")
    )
    d = e.withColumn("v", F.lit(1))
    naive_w = Window.orderBy("k", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    expect = sorted(
        (r["event_id"], r["c"])
        for r in d.select("event_id", F.sum("v").over(naive_w).alias("c")).collect()
    )
    got_df = running_total(d, ["k", "event_id"], "v", alias="c", n_parts=7)
    got = sorted((r["event_id"], r["c"]) for r in got_df.select("event_id", "c").collect())
    assert got == expect
    assert "rangepartitioning(k" in got_df._jdf.queryExecution().executedPlan().toString()


def test_running_total_rejects_float_value(spark):
    """ADVICE r12: a float value column would make partition totals depend
    on partial-sum arrival order — must fail loudly."""
    import pytest as _pytest

    df = spark.range(10).select(
        F.col("id").alias("t"), (F.col("id") * 1.5).alias("d")
    )
    with _pytest.raises(TypeError, match="exactly-summable"):
        running_total(df, ["t"], "d")
