#!/usr/bin/env python
"""Spark vs DuckDB on the five stage-floor-bound headline queries at sf1,
or at sf10 with ``--sf10``.

At sf0.1 these five queries are sub-0.3 s absolute against Spark's ~0.1 s
stage-launch floor, so their ratio to DuckDB conflates fixed task-launch
cost with per-row throughput. sf1 (10x-tiled sf0.1, lineitem 6M rows) shows
where the crossover lands; at sf10 (100x, lineitem 60M, events 10M) each
query runs seconds, the floor is <5% of runtime and the ratio is clean: a
query within 2x of DuckDB-native GRADUATES, one above carries a per-row CPU
profile (stage executor CPU / fact rows) so its plan can be judged
exchange-minimal. Both engines read the SAME parquet (scripts/make_sf1.py)
with the same thread count.

Method (the repo's noise protocol): an untimed codegen pass, then per query
the blocks INTERLEAVE Spark / DuckDB-native twice (S1 D1 S2 D2, min of 3
runs each), so JIT warming or host drift shows up as S1-vs-S2 / D1-vs-D2
disagreement instead of biasing one engine; DuckDB also runs over parquet
views (storage re-decoded per run). One more profiled Spark execution
gives the CPU profile, and a trivial 2-stage job measures the scheduling
floor. Scale-specific layout, shuffle widths, broadcast threshold and heap
live in SCALES; conf A/Bs go through scripts/ab.py.

Prints ONE JSON line; the sf10 line is recorded as BENCH_sf10.json.

Usage: python scripts/bench_sf1.py [--sf10] [fixture_dir]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stage_audit  # noqa: E402
from make_sf1 import make_sf1, make_sf10  # noqa: E402

# query -> the fact table its scan reads (the CPU profile's row denominator)
FACT_TABLE = {
    "q01_pricing_summary": "lineitem",
    "q03_shipping_priority": "lineitem",
    "q05_local_supplier_volume": "lineitem",
    "q_asof_join_last_click": "events",
    "q_events_per_window": "events",
}

# Partition counts track TABLE SIZE (r5 grid, min-of-5 hot blocks): every
# task costs ~3-5 ms of scheduling before any work, so the 1M-row sf1
# events table wants 8 partitions (32 -> 8 measured 0.247 -> 0.084 s on the
# window query), while the 6M-row lineitem scans still win with full
# 32-way width (q01 0.34 s at 8 partitions vs 0.17 s at 32). The DIMENSIONS
# matter just as much: every broadcast-hash-join build re-scans its cached
# dim per execution, so a 5-row region cached across 32 partitions pays 32
# task launches per build (sizing dims to 1-8 partitions measured q05
# 0.48 -> 0.37 s). Deployment analog: the 128 MB split-size rule.
#
# Shuffle widths apply the same rule on the REDUCE side: post-partial-agg
# exchanges carry tiny row counts, so fewer reduce tasks = less floor; the
# asof join's per-user carry-forward window does real reduce-side work and
# keeps more width.
#
# Broadcast threshold: at sf1 the filtered orders side is ~20 MB, and
# re-broadcasting 685k rows per execution loses to the co-partitioned
# exchange-free ShuffledHashJoin of the bucketed cache (8 MB measured q05
# 0.585 -> 0.431 s, q03 0.542 -> 0.231 s). At sf10 the 2-int customer
# projection is ~24 MB; below 32 MB q05 pays a 6M-row exchange on custkey.
#
# sf10 caches uncompressed: the dictionary/RLE-compressed in-memory batches
# pay per-batch decompression in every scan loop, and the pinned working
# set fits memory uncompressed; its lineitem needs the 48 GB heap.
SCALES = {
    "sf1": {
        "metric": "sf1_crossover",
        "sf": 1.0,
        "make": make_sf1,
        "heap": None,
        "broadcast_mb": 8,
        "cache_compressed": "true",
        "tables": ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events"),
        "partition_counts": {"region": 1, "nation": 1, "supplier": 2, "customer": 8, "part": 8, "events": 8},
        "shuffle_width": {
            "q01_pricing_summary": 8,
            "q03_shipping_priority": 8,
            "q05_local_supplier_volume": 8,
            "q_asof_join_last_click": 16,
            "q_events_per_window": 4,
        },
        "note": (
            "10x-tiled sf0.1 (scripts/make_sf1.py); interleaved S1 D1 S2 D2 blocks "
            "(min-of-3 each), duckdb over parquet views and native tables"
        ),
    },
    "sf10": {
        "metric": "sf10_decider",
        "sf": 10.0,
        "make": make_sf10,
        "heap": "48g",
        "broadcast_mb": 32,
        "cache_compressed": "false",
        "tables": ("region", "nation", "customer", "supplier", "orders", "lineitem", "events"),
        "partition_counts": {"region": 1, "nation": 1, "supplier": 2, "customer": 8, "events": 32},
        "shuffle_width": {
            "q01_pricing_summary": 8,
            "q03_shipping_priority": 16,
            "q05_local_supplier_volume": 16,
            "q_asof_join_last_click": 32,
            "q_events_per_window": 8,
        },
        "note": (
            "100x-tiled sf0.1 (scripts/make_sf1.py --sf10); interleaved S1 D1 S2 D2 "
            "blocks (min-of-3 each), both engines the same thread count, duckdb native tables"
        ),
    },
}


def main() -> int:
    mode = "sf10" if "--sf10" in sys.argv else "sf1"
    scale = SCALES[mode]
    if scale["heap"]:  # read when the JVM launches
        os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", scale["heap"])
    sf_dir = scale["make"](*[a for a in sys.argv[1:] if not a.startswith("--")][:1])

    from bench import bench_session  # same confs as the recorded bench
    from pyspark.sql import functions as F

    from timing_explorer_spark.plans import all_queries
    from timing_explorer_spark.session import default_parallelism
    from timing_explorer_spark.sources.tables import warm_cache
    from timing_explorer_spark.testing import duckdb_connection, duckdb_native_connection

    spark = bench_session(f"timing-explorer-spark-bench-{mode}")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(scale["broadcast_mb"] * 1024 * 1024))
    spark.conf.set("spark.sql.inMemoryColumnarStorage.compressed", scale["cache_compressed"])
    specs = {n: s for n, s in all_queries().items() if n in FACT_TABLE}
    warm_cache(
        spark,
        sf_dir,
        tables=scale["tables"],
        n_partitions=32,
        partition_counts=scale["partition_counts"],
        partition_keys={"lineitem": "l_orderkey", "orders": "o_orderkey", "events": "user_id"},
        drop_columns={"events": ("props",)},  # projection-aware cache (bench.py)
    )
    width = scale["shuffle_width"]

    def save(df) -> None:
        df.write.mode("overwrite").format("noop").save()

    def timed(n: int, run) -> list[float]:
        runs = []
        for _ in range(n):
            t0 = time.monotonic()
            run()
            runs.append(time.monotonic() - t0)
        return runs

    plans = {n: s.build(spark, sf_dir) for n, s in specs.items()}
    for name, df in plans.items():  # untimed codegen/JIT + cache-materialize pass
        spark.conf.set("spark.sql.shuffle.partitions", str(width[name]))
        save(df)

    t0 = time.monotonic()
    native = duckdb_native_connection(sf_dir)
    duck_load_sec = round(time.monotonic() - t0, 1)
    views = duckdb_connection(sf_dir)
    for con in (native, views):
        con.execute(f"PRAGMA threads={default_parallelism()}")
        for spec in specs.values():  # DuckDB warm-up, untimed
            con.execute(spec.oracle).fetchall()

    spark_t, spread, blocks, duck_t, duck_native_t, profiles = {}, {}, {}, {}, {}, {}
    for name in sorted(specs):
        df, sql = plans[name], specs[name].oracle
        spark.conf.set("spark.sql.shuffle.partitions", str(width[name]))
        s1 = timed(3, lambda: save(df))
        d1 = min(timed(3, lambda: native.execute(sql).fetchall()))
        s2 = timed(3, lambda: save(df))
        d2 = min(timed(3, lambda: native.execute(sql).fetchall()))
        blocks[name] = {k: round(v, 3) for k, v in (("S1", min(s1)), ("D1", d1), ("S2", min(s2)), ("D2", d2))}
        spark_t[name] = round(min(s1 + s2), 3)
        # [min, max] hot band, the co-tenant-noise witness (bench.py
        # queries_hot_spread): a wide band means the host moved, not the plan
        spread[name] = [spark_t[name], round(max(s1 + s2), 3)]
        duck_native_t[name] = round(min(d1, d2), 3)
        duck_t[name] = round(min(timed(3, lambda: views.execute(sql).fetchall())), 3)
        # per-row CPU profile: one more execution, its stages' executor CPU
        since = stage_audit.mark(spark)
        save(df)
        found = stage_audit.stages(spark, since)
        cpu_ns = sum(s["cpu_ms"] for s in found) * 1e6
        fact_rows = native.execute(f"SELECT count(*) FROM {FACT_TABLE[name]}").fetchone()[0]
        profiles[name] = {
            "stages": len(found),
            "total_cpu_sec": round(cpu_ns / 1e9, 3),
            "cpu_us_per_fact_row": round(cpu_ns / 1e3 / fact_rows, 4),
            "shuffle_write_bytes": sum(s["shuffle_write_bytes"] for s in found),
            "top_stages": [
                {k: s[k] for k in ("stage", "name", "cpu_ms", "tasks")}
                for s in sorted(found, key=lambda s: -s["cpu_ms"])[:4]
            ],
        }

    # The measured SCHEDULING FLOOR: a trivial 2-stage job (32 map + 8
    # reduce tasks over a cached 32-partition, 32-row table - the task shape
    # of q01/q03 with no per-row work). Whatever this costs is pure
    # local-mode task/stage launch overhead; a cluster pays it once per
    # stage regardless of data volume, and DuckDB's morsel scheduler has no
    # equivalent fixed cost.
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    tiny = spark.range(0, 32, 1, 32).persist()
    tiny.count()
    floor_df = tiny.groupBy((F.col("id") % 4).alias("g")).count()
    save(floor_df)
    floor_sec = round(min(timed(5, lambda: save(floor_df))), 3)
    tiny.unpersist()

    ratios = {n: round(spark_t[n] / duck_native_t[n], 2) for n in spark_t}
    print(
        json.dumps(
            {
                "metric": scale["metric"],
                "unit": "sec",
                "sf": scale["sf"],
                "note": scale["note"],
                "levers": {k: scale[k] for k in ("broadcast_mb", "cache_compressed")},
                "spark": spark_t,
                "spark_hot_spread": spread,
                "spark_total": round(sum(spark_t.values()), 3),
                "blocks": blocks,
                "duckdb": duck_t,
                "duckdb_total": round(sum(duck_t.values()), 3),
                "duckdb_native": duck_native_t,
                "duckdb_native_total": round(sum(duck_native_t.values()), 3),
                "ratio_spark_over_duckdb": {n: round(spark_t[n] / duck_t[n], 2) for n in spark_t},
                "ratio_spark_over_duckdb_native": ratios,
                # (query - scheduling floor) / duckdb_native: the per-row work
                # ratio once the fixed local-mode launch cost is subtracted
                "ratio_marginal_over_duckdb_native": {
                    n: round(max(spark_t[n] - floor_sec, 0.0) / duck_native_t[n], 2) for n in spark_t
                },
                "graduates": sorted(n for n, r in ratios.items() if r <= 2.0),
                "scheduling_floor_sec": floor_sec,
                "floor_share_of_runtime": {n: round(floor_sec / spark_t[n], 3) for n in spark_t},
                "cpu_profile": profiles,
                "duckdb_native_load_sec": duck_load_sec,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
