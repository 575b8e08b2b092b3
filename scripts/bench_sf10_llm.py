#!/usr/bin/env python
"""Dedup-family scale probe at 500k documents (sf10 tiling).

bench_sf1_llm.py measures the LLM ops at 50k docs; this probe pushes the
FLAGSHIP dedup chain another 10x — 500,000 documents where EVERY document
sits in a 100-copy exact-duplicate group (verbatim tiling), the densest
near-dup cluster shape a crawl snapshot produces (~24.7M true pairs):

  - exact dedup: one md5 shuffle, group size 100
  - MinHash+LSH: banded candidates + exact verify over ~24.7M candidate
    pairs — proves the candidate-set discipline (no all-pairs) at a scale
    where an all-pairs join would be 1.25e11 comparisons
  - connected components over the ~24.7M-edge pair graph (100-cliques
    converge in one propagation round)

Per op: wall seconds (rebuild per run — these materialize in build()),
total shuffle write bytes, and REST per-task skew (max/median per stage,
bound 4x — the same methodology as bench_sf1_llm). ONE JSON line; recorded
as BENCH_sf10_llm.json.

Usage: python scripts/bench_sf10_llm.py [fixture_dir]
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "48g")

from make_sf1 import make_sf10  # noqa: E402

# (name, builder) — components run over the MINHASH candidate pairs, not
# the exact inverted-index pairs: at 100-copy dup groups every shingle has
# df >= 100, so the exact index's per-shingle pair fan-out is the known hot
# spot its max_shingle_df cap exists for; the LSH chain is the shape a
# 500k+/100 TB corpus actually runs (candidates -> verify -> components).
def _ops():
    from timing_explorer_spark.operators.dedup import (
        minhash_lsh_pairs,
        resolve_components,
    )
    from timing_explorer_spark.operators.similarity import (
        ivf_topk,
        lsh_topk,
        semdedup_pairs,
    )
    from timing_explorer_spark.plans import all_queries
    from timing_explorer_spark.sources.tables import load

    specs = all_queries()

    def _lsh(spark, d):
        emb = load(spark, d, "embeddings")
        return lsh_topk(emb, emb.limit(16), k=10)

    def _ivf(spark, d):
        emb = load(spark, d, "embeddings")
        return ivf_topk(emb, emb.limit(16), k=10, n_centroids=64)

    def _semdedup(spark, d):
        # 256 clusters keep the within-cluster pair grain ~ sum(size^2) at
        # ~150M comparisons for 200k vectors (the paper's knob: clusters
        # scale with corpus so cluster size stays bounded)
        return semdedup_pairs(
            load(spark, d, "embeddings"), threshold=0.99, n_clusters=256
        )

    return (
        ("exact_dedup_500k", lambda spark, d: specs["q_exact_dedup_docs"].build(spark, d)),
        ("minhash_lsh_500k", lambda spark, d: specs["q_minhash_lsh_neardup"].build(spark, d)),
        (
            "lsh_components_500k",
            lambda spark, d: resolve_components(
                minhash_lsh_pairs(load(spark, d, "documents"), threshold=0.8)
            ),
        ),
        # embedding family at 200k vectors (10x the sf1 probe)
        ("ann_lsh_topk_200k", _lsh),
        ("ann_ivf_topk_200k", _ivf),
        ("semdedup_200k", _semdedup),
    )
UI_PORT = 4060
MAX_OVER_MEDIAN = 4.0
MIN_STAGE_SHUFFLE = 8 * 1024 * 1024


def _rest(path: str):
    with urllib.request.urlopen(
        f"http://localhost:{UI_PORT}/api/v1{path}", timeout=15
    ) as r:
        return json.loads(r.read())


def _app_id() -> str:
    return _rest("/applications")[0]["id"]


def _worst_skew(app: str, since_stage: int) -> dict | None:
    worst = None
    for s in _rest(f"/applications/{app}/stages?status=COMPLETE"):
        if s["stageId"] <= since_stage:
            continue
        try:
            summ = _rest(
                f"/applications/{app}/stages/{s['stageId']}/{s['attemptId']}/taskSummary"
                "?quantiles=0.5,1.0"
            )
        except Exception:  # noqa: BLE001
            continue
        read = summ.get("shuffleReadMetrics", {}).get("readBytes")
        if not read or float(read[1]) < MIN_STAGE_SHUFFLE:
            continue
        ratio = float(read[1]) / max(float(read[0]), 1.0)
        if worst is None or ratio > worst["ratio"]:
            worst = {
                "stage": s["stageId"],
                "name": s.get("name", "")[:60],
                "median_task_shuffle_read": int(float(read[0])),
                "max_task_shuffle_read": int(float(read[1])),
                "ratio": round(ratio, 2),
            }
    return worst


def _shuffle_write(app: str) -> int:
    return sum(
        s.get("shuffleWriteBytes", 0)
        for s in _rest(f"/applications/{app}/stages?status=COMPLETE")
    )


def main() -> int:
    sf_dir = make_sf10(sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf10-fixture")

    from timing_explorer_spark.operators.dedup import release_cached
    from timing_explorer_spark.session import get_spark

    spark = get_spark(
        app_name="timing-explorer-spark-bench-sf10-llm",
        shuffle_partitions=64,  # real reduce work at this scale
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.port": str(UI_PORT),
            "spark.ui.retainedStages": "5000",
        },
    )
    spark.sparkContext.setLogLevel("WARN")
    app = _app_id()

    only = os.environ.get("SPARK_GRAFT_SF10_OPS")
    selected = [
        (n, b) for n, b in _ops() if only is None or n in only.split(",")
    ]
    out: dict[str, dict] = {}
    violations = []

    def _ann_recall(spark, topk_df) -> float:
        """Top-10 recall vs exact brute force for the SAME 16 queries —
        ground truth is 16 x 200k cosines (cheap), so the recall claim
        holds at this scale, not just the sf1 20k probe."""
        from timing_explorer_spark.operators.similarity import brute_force_topk
        from timing_explorer_spark.sources.tables import load

        emb = load(spark, sf_dir, "embeddings")
        truth = brute_force_topk(emb, emb.limit(16), k=10)
        t = {(r["query_id"], r["neighbor_id"]) for r in truth.collect()}
        g = {(r["query_id"], r["neighbor_id"]) for r in topk_df.collect()}
        return round(len(t & g) / len(t), 3)

    for name, build in selected:
        release_cached()
        since = max(
            (s["stageId"] for s in _rest(f"/applications/{app}/stages")), default=-1
        )
        w0 = _shuffle_write(app)
        t0 = time.monotonic()
        df = build(spark, sf_dir)
        if name.startswith(("minhash", "lsh_components")):
            # the 500k-scale half of the stats-accuracy pin
            # (tests/test_dedup.py::test_minhash_joins_plan_from_materialized_stats):
            # with the corpus-grain caches materialized, NO join in the
            # chain may plan a broadcast at this size
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "BroadcastExchange" not in plan, f"{name}: corpus-sized broadcast"
        n_rows = df.count()
        wall = round(time.monotonic() - t0, 1)
        skew = _worst_skew(app, since)
        out[name] = {
            "wall_sec": wall,
            "rows": n_rows,
            "shuffle_write_bytes": _shuffle_write(app) - w0,
            "worst_task_skew": skew,
        }
        if name.startswith("ann_"):
            out[name]["top10_recall_vs_bruteforce"] = _ann_recall(spark, df)
        if skew and skew["ratio"] > MAX_OVER_MEDIAN:
            violations.append({"op": name, **skew})
    release_cached()

    print(
        json.dumps(
            {
                "metric": "sf10_dedup_scale_probe",
                "unit": "sec",
                "sf": 10.0,
                "corpus": "500k docs, verbatim 100-copy dup groups (make_sf10 tiling)",
                "task_skew_bound": MAX_OVER_MEDIAN,
                "ops": out,
                "skew_violations": violations,
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
