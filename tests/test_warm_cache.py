"""warm_cache contract: the loader serves the pinned copy transparently,
bucketed caching changes only the physical plan, projection-aware caching
prunes safely, and drop_warm_cache restores the on-disk view."""

from __future__ import annotations

import ast
import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from timing_explorer_spark.sources.tables import drop_warm_cache, load, warm_cache

SF = "/root/testdata/sf0.001"


def test_warm_cache_transparent_and_restorable(spark):
    try:
        plain = {tuple(r) for r in load(spark, SF, "nation").collect()}
        warm_cache(spark, SF, tables=("nation",), n_partitions=4)
        cached_df = load(spark, SF, "nation")
        assert "InMemoryRelation" in cached_df._jdf.queryExecution().executedPlan().toString()
        assert {tuple(r) for r in cached_df.collect()} == plain
    finally:
        drop_warm_cache(spark, SF)
    restored = load(spark, SF, "nation")
    assert "InMemoryRelation" not in restored._jdf.queryExecution().executedPlan().toString()
    assert {tuple(r) for r in restored.collect()} == plain


def test_warm_cache_bucketed_join_is_exchange_free(spark):
    """partition_keys: both join sides cached HASH-partitioned on the key ->
    the join plans with NO Exchange between the cached relations and the
    join (the bucketed-layout property the bench relies on)."""
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    prefer = spark.conf.get("spark.sql.join.preferSortMergeJoin", "true")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.join.preferSortMergeJoin", "false")
        warm_cache(
            spark,
            SF,
            tables=("orders", "lineitem"),
            n_partitions=4,
            partition_keys={"orders": "o_orderkey", "lineitem": "l_orderkey"},
        )
        o, li = load(spark, SF, "orders"), load(spark, SF, "lineitem")
        j = li.join(o, li.l_orderkey == o.o_orderkey).groupBy().count()
        n = j.collect()[0]["count"]
        assert n > 0
        plan = j._jdf.queryExecution().executedPlan().toString()
        final = plan.split("== Initial Plan ==")[0]
        assert "ShuffledHashJoin" in final or "SortMergeJoin" in final
        # The only hash-partitioning exchanges are the REPARTITION_BY_NUM
        # ones INSIDE the InMemoryRelations (paid once at warm time). The
        # join itself requires none: a join-demanded exchange would read
        # "Exchange hashpartitioning(..) ENSURE_REQUIREMENTS". (The global
        # agg's SinglePartition exchange is unrelated to the join key.)
        for line in final.splitlines():
            if "hashpartitioning" in line and "Exchange" in line:
                assert "REPARTITION_BY_NUM" in line, line
    finally:
        drop_warm_cache(spark, SF)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
        spark.conf.set("spark.sql.join.preferSortMergeJoin", prefer)


def test_warm_cache_projection_pruning(spark):
    """drop_columns: the pinned copy excludes the wide column; queries over
    remaining columns match the on-disk data, a query touching the dropped
    column fails fast, and dropping the cache restores the full schema."""
    try:
        full_count = load(spark, SF, "events").count()
        warm_cache(
            spark,
            SF,
            tables=("events",),
            n_partitions=4,
            drop_columns={"events": ("props",)},
        )
        e = load(spark, SF, "events")
        assert "props" not in e.columns
        assert e.count() == full_count
        with pytest.raises(Exception):
            e.select("props").collect()
    finally:
        drop_warm_cache(spark, SF)
    assert "props" in load(spark, SF, "events").columns


def test_warm_cache_per_table_partition_counts(spark):
    """partition_counts sizes each table's cached copy independently (the
    size-tracked partitioning rule: dims at 1-2 partitions, facts at full
    width) while results stay identical to the on-disk data."""
    try:
        disk_counts = {t: load(spark, SF, t).count() for t in ("region", "lineitem")}
        warm_cache(
            spark,
            SF,
            tables=("region", "lineitem"),
            n_partitions=8,
            partition_counts={"region": 1},
            partition_keys={"lineitem": "l_orderkey"},
        )
        r = load(spark, SF, "region")
        li = load(spark, SF, "lineitem")
        assert r.rdd.getNumPartitions() == 1
        assert li.rdd.getNumPartitions() == 8  # falls back to n_partitions
        assert r.count() == disk_counts["region"]
        assert li.count() == disk_counts["lineitem"]
    finally:
        drop_warm_cache(spark, SF)


def test_benchmark_layout_matches_bench():
    """perfbench keeps its own copy of the pinned-cache layout (it may not
    import bench.py); it must stay equal to bench.WARM_CACHE_LAYOUT."""
    root = Path(__file__).resolve().parent.parent
    tree = ast.parse((root / "perfbench" / "workloads.py").read_text())
    (call,) = [
        node.value
        for node in tree.body
        if isinstance(node, ast.Assign) and [t.id for t in node.targets] == ["WARM_CACHE_ARGS"]
    ]
    perfbench_args = {kw.arg: ast.literal_eval(kw.value) for kw in call.keywords}
    sys.path.insert(0, str(root))
    from bench import WARM_CACHE_LAYOUT

    assert perfbench_args == WARM_CACHE_LAYOUT
