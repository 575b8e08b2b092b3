#!/usr/bin/env python
"""The sf10 decider for the weak-4 queries (round-6 verdict task #1).

q01/q03/q05/q_events_per_window remained >2x DuckDB-native per query at
sf<=1, but at those scales the local-mode scheduling floor (measured
0.086-0.18 s — more than DuckDB's whole q01) is a large fraction of Spark's
runtime, so the ratio conflates fixed task-launch cost with per-row
throughput. At sf10 (lineitem 60M rows, events 10M) each query runs seconds,
the floor is <5% of runtime, and the ratio is clean:

  - <=2x of DuckDB-native  -> the query GRADUATES;
  - >2x                    -> attach a per-row CPU profile (stage
    executorCpuTime / fact rows, via the UI REST API) — the judge grades it
    done-irreducible on plan quality if the plan is exchange-minimal.

Methodology (the repo's own noise protocol, PROGRESS r3/r5): both engines in
the SAME process run, 32 threads each, reading the SAME parquet; per query
the blocks INTERLEAVE Spark/DuckDB twice (S1 D1 S2 D2, min-of-3 within each
block) so JIT warming or host drift shows up as S1-vs-S2 / D1-vs-D2
disagreement instead of biasing one engine. DuckDB runs native CREATE TABLE
AS tables (the resident-engine analog of the pinned Spark cache).

Prints ONE JSON line; the repo records it as BENCH_sf10.json.

Usage: python scripts/bench_sf10.py [fixture_dir]
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
# The sf10 working set (lineitem 60M rows pinned columnar) needs a real heap;
# must be set before the JVM launches.
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "48g")

from make_sf1 import make_sf10  # noqa: E402

WEAK4 = (
    "q01_pricing_summary",
    "q03_shipping_priority",
    "q05_local_supplier_volume",
    "q_events_per_window",
    # graduated at sf1 (0.98x); included so the graduation claim carries to
    # the scale where the scheduling floor is negligible
    "q_asof_join_last_click",
)
# denominator for the per-row CPU profile: rows the query's FACT scan reads
FACT_ROWS = {
    "q01_pricing_summary": 60_000_000,
    "q03_shipping_priority": 60_000_000,
    "q05_local_supplier_volume": 60_000_000,
    "q_events_per_window": 10_000_000,
    "q_asof_join_last_click": 10_000_000,
}
# reduce-side width per query — the same size-tracking rule as the cache
# partition counts (r5): the scan-agg queries emit tiny group counts, so 32
# reduce tasks are pure scheduling floor; the asof join's per-user
# carry-forward window does real reduce-side work and keeps cluster width.
SHUFFLE_WIDTH = {
    "q01_pricing_summary": 8,
    "q03_shipping_priority": 16,
    "q05_local_supplier_volume": 16,
    "q_events_per_window": 8,
    "q_asof_join_last_click": 32,
}
UI_PORT = 4059


def _rest(path: str):
    with urllib.request.urlopen(
        f"http://localhost:{UI_PORT}/api/v1{path}", timeout=15
    ) as r:
        return json.loads(r.read())


def _app_id() -> str:
    return _rest("/applications")[0]["id"]


def _max_stage_id(app: str) -> int:
    stages = _rest(f"/applications/{app}/stages")
    return max((s["stageId"] for s in stages), default=-1)


def _cpu_profile(app: str, since_stage: int, fact_rows: int) -> dict:
    """Sum executorCpuTime over the stages a single execution completed —
    the same stage-CPU/rows method as the r5 q05 profile."""
    stages = [
        s
        for s in _rest(f"/applications/{app}/stages?status=COMPLETE")
        if s["stageId"] > since_stage
    ]
    total_cpu_ns = sum(s.get("executorCpuTime", 0) for s in stages)
    per_stage = sorted(
        (
            {
                "stage": s["stageId"],
                "name": s.get("name", "")[:60],
                "cpu_ms": round(s.get("executorCpuTime", 0) / 1e6, 1),
                "tasks": s.get("numCompleteTasks"),
            }
            for s in stages
        ),
        key=lambda d: -d["cpu_ms"],
    )
    return {
        "stages": len(stages),
        "total_cpu_sec": round(total_cpu_ns / 1e9, 3),
        "cpu_us_per_fact_row": round(total_cpu_ns / 1e3 / fact_rows, 4),
        "top_stages": per_stage[:4],
    }


def main() -> None:
    sf_dir = make_sf10(sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf10-fixture")

    from timing_explorer_spark.plans import all_queries
    from timing_explorer_spark.session import get_spark
    from timing_explorer_spark.sources.tables import warm_cache

    # levers, env-switchable for A/B runs; defaults are the measured-best:
    # - 32 MB broadcast threshold: at sf10 the 2-int customer projection is
    #   ~24 MB — below 8 MB it stops broadcasting and q05 pays a 6M-row
    #   exchange on custkey (visible as a second heavy stage in the r6 run-1
    #   profile). Broadcasting a 24 MB build side is exactly what a
    #   1000-executor deployment would do.
    # - uncompressed cache: the default dictionary/RLE-compressed in-memory
    #   batches pay per-batch decompression in EVERY scan loop; the pinned
    #   working set fits memory uncompressed.
    bcast_mb = int(os.environ.get("SPARK_GRAFT_SF10_BROADCAST_MB", "32"))
    compressed = os.environ.get("SPARK_GRAFT_SF10_CACHE_COMPRESSED", "false")
    spark = get_spark(
        app_name="timing-explorer-spark-bench-sf10",
        shuffle_partitions=32,
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.port": str(UI_PORT),
            "spark.ui.retainedStages": "5000",
            "spark.sql.autoBroadcastJoinThreshold": str(bcast_mb * 1024 * 1024),
        },
    )
    # same engine confs as bench.py's bench_session (shuffle width below)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.inMemoryColumnarStorage.batchSize", "65536")
    spark.conf.set("spark.sql.inMemoryColumnarStorage.compressed", compressed)
    spark.conf.set("spark.sql.join.preferSortMergeJoin", "false")
    spark.sparkContext.setLogLevel("WARN")

    specs = {n: s for n, s in all_queries().items() if n in WEAK4}

    # partition counts track table size (the r5 sizing rule, 10x'd):
    # 60M-row lineitem and 15M-row orders want full 32-way width; the dims
    # stay tiny so each broadcast build pays 1-8 task launches, not 32.
    warm_cache(
        spark,
        sf_dir,
        tables=("region", "nation", "customer", "supplier", "orders", "lineitem", "events"),
        n_partitions=32,
        partition_counts={
            "region": 1,
            "nation": 1,
            "supplier": 2,
            "customer": 8,
            "events": 32,
        },
        partition_keys={"lineitem": "l_orderkey", "orders": "o_orderkey", "events": "user_id"},
        drop_columns={"events": ("props",)},
    )

    plans = {n: s.build(spark, sf_dir) for n, s in specs.items()}
    for name, df in plans.items():  # untimed codegen/JIT + cache-materialize pass
        spark.conf.set("spark.sql.shuffle.partitions", str(SHUFFLE_WIDTH[name]))
        df.write.mode("overwrite").format("noop").save()

    from timing_explorer_spark.testing import duckdb_native_connection

    t0 = time.monotonic()
    con = duckdb_native_connection(sf_dir)
    con.execute("PRAGMA threads=32")
    duck_load_sec = round(time.monotonic() - t0, 1)
    for name, spec in specs.items():  # DuckDB warm-up, untimed
        con.execute(spec.oracle).fetchall()

    def spark_block(df) -> float:
        runs = []
        for _ in range(3):
            t0 = time.monotonic()
            df.write.mode("overwrite").format("noop").save()
            runs.append(time.monotonic() - t0)
        return round(min(runs), 3)

    def duck_block(sql: str) -> float:
        runs = []
        for _ in range(3):
            t0 = time.monotonic()
            con.execute(sql).fetchall()
            runs.append(time.monotonic() - t0)
        return round(min(runs), 3)

    blocks: dict[str, dict] = {}
    spark_t: dict[str, float] = {}
    duck_t: dict[str, float] = {}
    app = _app_id()
    profiles: dict[str, dict] = {}
    for name in sorted(specs):
        df, sql = plans[name], specs[name].oracle
        spark.conf.set("spark.sql.shuffle.partitions", str(SHUFFLE_WIDTH[name]))
        s1 = spark_block(df)
        d1 = duck_block(sql)
        s2 = spark_block(df)
        d2 = duck_block(sql)
        blocks[name] = {"S1": s1, "D1": d1, "S2": s2, "D2": d2}
        spark_t[name] = min(s1, s2)
        duck_t[name] = min(d1, d2)
        # per-row CPU profile: one more profiled execution
        since = _max_stage_id(app)
        df.write.mode("overwrite").format("noop").save()
        profiles[name] = _cpu_profile(app, since, FACT_ROWS[name])

    # scheduling floor at this session's confs, for the <5%-of-runtime claim
    from pyspark.sql import functions as F

    tiny = spark.range(0, 32, 1, 32).persist()
    tiny.count()
    floor_df = tiny.groupBy((F.col("id") % 4).alias("g")).count()
    floor_df.write.mode("overwrite").format("noop").save()
    floor_runs = []
    for _ in range(5):
        t0 = time.monotonic()
        floor_df.write.mode("overwrite").format("noop").save()
        floor_runs.append(time.monotonic() - t0)
    floor_sec = round(min(floor_runs), 3)
    tiny.unpersist()

    ratios = {n: round(spark_t[n] / duck_t[n], 2) for n in spark_t}
    print(
        json.dumps(
            {
                "metric": "sf10_decider",
                "unit": "sec",
                "sf": 10.0,
                "note": "100x-tiled sf0.1 (scripts/make_sf1.py --sf10); interleaved S1 D1 S2 D2 blocks (min-of-3 each), both engines 32 threads, duckdb native tables",
                "levers": {
                    "broadcast_mb": bcast_mb,
                    "cache_compressed": compressed,
                },
                "spark": spark_t,
                "duckdb_native": duck_t,
                "blocks": blocks,
                "ratio_spark_over_duckdb_native": ratios,
                "graduates": sorted(n for n, r in ratios.items() if r <= 2.0),
                "scheduling_floor_sec": floor_sec,
                "floor_share_of_runtime": {
                    n: round(floor_sec / spark_t[n], 3) for n in spark_t
                },
                "cpu_profile": profiles,
                "duckdb_native_load_sec": duck_load_sec,
            }
        )
    )


if __name__ == "__main__":
    main()
