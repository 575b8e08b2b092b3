#!/usr/bin/env python
"""LLM heavy-op scale evidence at sf1, or the dedup family at sf10 with
``--sf10``.

sf1: the dedup/BPE/packing/similarity operators carry "bucketed, no
all-pairs" design claims verified on 500-5000-doc toys; this measures them
on the 50k-doc sf1 corpus (scripts/make_sf1.py tiles sf0.1 10x with text
kept verbatim — a heavily-duplicated crawl: every doc has 10 copies, the
adversarial shape for dedup) and the 20k near-duplicate embeddings.

sf10: the flagship dedup chain another 10x — 500,000 documents where EVERY
document sits in a 100-copy exact-duplicate group (~24.7M true pairs; an
all-pairs join would be 1.25e11 comparisons) — plus the embedding family at
200k vectors.

Per op: wall seconds, total shuffle write bytes, and per-task skew from the
status store (scripts/stage_audit.py): for every completed stage with
meaningful shuffle read, max-task vs median-task shuffle read bytes. The
run FAILS (nonzero exit) if any stage exceeds 4x the median — the measured
form of the "no task dominates" claim — or if an op of NO_BROADCAST_OPS
plans a BroadcastExchange (``plan_violations``); either way the JSON line
prints first, with every op measured.

Prints ONE JSON line; sf1 is recorded in BENCH_sf1.json's top level, sf10
as BENCH_sf10_llm.json.

Usage: python scripts/bench_sf1_llm.py [--sf10] [fixture_dir] [op,op,...]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stage_audit  # noqa: E402
from make_sf1 import make_sf1, make_sf10  # noqa: E402

# Training-style queries do their distributed work EAGERLY inside build()
# (EM / GD loops that collect per-round artifacts); for these, every timed
# run is a full rebuild — the honest cost of the op — rather than a replay
# of a one-row summary plan.
EAGER_OPS = (
    "q_neardup_components",
    "q_bpe_merge_table",
    # leakage-safe component splits over the x10-duplicated 50k corpus
    # (jaccard pairs + components + split + report, all paid per run)
    "q_leakage_safe_split",
    # unigram-LM EM at 50k docs: the bounded-histogram claim measured (the
    # tiled corpus has the same distinct-word grain as sf0.1 by design)
    "q_unigram_lm_vocab",
    # CCNet scoring: train on the reference slice, perplexity-score all 50k
    "q_ccnet_perplexity_buckets",
    # relational logistic regression: 8 GD iterations over 50k-doc features
    "q_quality_classifier_train",
    # PCA sufficient-statistics fit over the 20k x 64 embeddings
    "q_embedding_pca_variance",
    # modified Kneser-Ney 5-gram training + KN-CCNet scoring at 50k docs:
    # the gram-TYPE grain claim measured (raw events scale x10, the type
    # tables must not)
    "q_kneser_ney_lm",
    "q_ccnet_ppl_kn",
)
# The 500k-scale half of tests/test_dedup.py::
# test_minhash_joins_plan_from_materialized_stats: with the corpus-grain
# caches its build materialized, no join of these sf10 ops may plan a
# broadcast. Each records `broadcast_exchange`; one that broadcast is listed
# under `plan_violations` and fails the run after the JSON line prints.
NO_BROADCAST_OPS = ("minhash_lsh_500k", "lsh_components_500k")
# Replayed ops: built once, then one cold and two warm executions.
OPS = (
    "q_jaccard_neardup_pairs",
    "q_minhash_lsh_neardup",
    "q_sequence_packing",
    # similarity over the 20k near-duplicate-tiled embeddings: brute-force
    # baseline + the LSH scale path
    "q_embedding_nn",
    "q_ann_lsh_topk",
    # DSIR selection (one fact shuffle + K-bucket grain) and SemDeDup
    # (within-cluster pairs only)
    "q_dsir_importance_weights",
    "q_semdedup_pairs",
    # ExactSubstr trim — the heaviest shuffle shape in the repo (the span
    # table is ~N_tokens rows; the x10 corpus makes every boilerplate span
    # hit df>=3, the adversarial removal load)
    "q_exact_substr_trim",
    # CCNet paragraph dedup — every later document copy sheds ALL
    # paragraphs (the window's group width is the duplication count)
    "q_paragraph_dedup",
    # the six-stage composed cleanup recipe (3 exchanges end to end)
    "q_corpus_prep_v2",
    # the crawl flagship — WARC encode/parse + strip + mojibake + paragraph
    # dedup + gates + exact dedup + mixture rates, end to end
    "q_crawl_to_corpus",
)


def sf1_ops() -> list[tuple[str, str, object]]:
    from timing_explorer_spark.plans import all_queries

    specs = all_queries()
    eager = [(n, "eager", specs[n].build) for n in EAGER_OPS]
    return eager + [(n, "replay", specs[n].build) for n in OPS]


def sf10_ops() -> list[tuple[str, str, object]]:
    """Each sf10 op is built and counted once. Components run over the
    MINHASH candidate pairs: at 100-copy groups every shingle has df >= 100,
    the exact index's known hot spot; candidates -> verify -> components is
    the shape a 100 TB corpus runs."""
    from timing_explorer_spark.operators.dedup import minhash_lsh_pairs, resolve_components
    from timing_explorer_spark.operators.similarity import ivf_topk, lsh_topk, semdedup_pairs
    from timing_explorer_spark.plans import all_queries
    from timing_explorer_spark.sources.tables import load

    specs = all_queries()

    def emb(spark, d):
        return load(spark, d, "embeddings")

    return [
        ("exact_dedup_500k", "once", specs["q_exact_dedup_docs"].build),
        ("minhash_lsh_500k", "once", specs["q_minhash_lsh_neardup"].build),
        (
            "lsh_components_500k",
            "once",
            lambda s, d: resolve_components(minhash_lsh_pairs(load(s, d, "documents"), threshold=0.8)),
        ),
        ("ann_lsh_topk_200k", "once", lambda s, d: lsh_topk(emb(s, d), emb(s, d).limit(16), k=10)),
        (
            "ann_ivf_topk_200k",
            "once",
            lambda s, d: ivf_topk(emb(s, d), emb(s, d).limit(16), k=10, n_centroids=64),
        ),
        # 256 clusters keep the within-cluster pair grain ~ sum(size^2) at
        # ~150M comparisons for 200k vectors (clusters scale with the corpus)
        ("semdedup_200k", "once", lambda s, d: semdedup_pairs(emb(s, d), threshold=0.99, n_clusters=256)),
    ]


SCALES = {
    "sf1": {
        "metric": "sf1_llm_ops",
        "sf": 1.0,
        "make": make_sf1,
        "heap": None,
        "shuffle_partitions": 32,
        "conf": {"spark.sql.autoBroadcastJoinThreshold": str(32 * 1024 * 1024)},
        "min_read": 4 * 1024 * 1024,  # below this a stage is task-floor noise
        "ops": sf1_ops,
        "corpus": (
            "50k docs (10x-tiled sf0.1, verbatim text: every doc x10 copies); "
            "20k embeddings (near-duplicate perturbed replicas)"
        ),
    },
    "sf10": {
        "metric": "sf10_dedup_scale_probe",
        "sf": 10.0,
        "make": make_sf10,
        "heap": "48g",
        "shuffle_partitions": 64,  # real reduce work at this scale
        "conf": {},
        "min_read": 8 * 1024 * 1024,
        "ops": sf10_ops,
        "corpus": (
            "500k docs (verbatim 100-copy dup groups) + "
            "200k embeddings (per-replica perturbed near-dup families)"
        ),
    },
}


def recall(truth, got) -> float:
    t = {(r["query_id"], r["neighbor_id"]) for r in truth.select("query_id", "neighbor_id").collect()}
    g = {(r["query_id"], r["neighbor_id"]) for r in got.select("query_id", "neighbor_id").collect()}
    return round(len(t & g) / len(t), 3)


def main() -> int:
    mode = "sf10" if "--sf10" in sys.argv else "sf1"
    scale = SCALES[mode]
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    if scale["heap"]:  # read when the JVM launches
        os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", scale["heap"])
    sf_dir = scale["make"](*args[:1])

    from timing_explorer_spark.operators.dedup import release_cached
    from timing_explorer_spark.operators.similarity import brute_force_topk
    from timing_explorer_spark.session import get_spark
    from timing_explorer_spark.sources.tables import load

    spark = get_spark(
        app_name=f"timing-explorer-spark-bench-{mode}-llm",
        shuffle_partitions=scale["shuffle_partitions"],
        extra_conf={**stage_audit.RETAIN, **scale["conf"]},
    )
    spark.sparkContext.setLogLevel("WARN")

    def save(df) -> None:
        df.write.mode("overwrite").format("noop").save()

    def run(name: str, kind: str, build) -> tuple[dict, int, object]:
        """(timing record, executions, last frame) of one op."""
        if kind == "once":
            t0 = time.monotonic()
            df = build(spark, sf_dir)
            plan = {}
            if name in NO_BROADCAST_OPS:
                executed = df._jdf.queryExecution().executedPlan().toString()
                plan["broadcast_exchange"] = "BroadcastExchange" in executed
            rows = df.count()
            return {"wall_sec": round(time.monotonic() - t0, 1), "rows": rows, **plan}, 1, df
        runs = []
        df = build(spark, sf_dir) if kind == "replay" else None
        for _ in range(3):
            t0 = time.monotonic()
            save(df if df is not None else build(spark, sf_dir))
            runs.append(time.monotonic() - t0)
            if kind == "eager":
                release_cached()
        rec = {"cold_sec": round(runs[0], 3), "warm_sec": round(min(runs[1:]), 3)}
        if kind == "eager":
            rec["timing"] = "full rebuild per run (eager training op)"
        return rec, 3 if kind == "eager" else 1, df

    selected = args[1].split(",") if len(args) > 1 else None
    results: dict[str, dict] = {}
    violations: list[dict] = []
    plan_violations: list[str] = []
    for name, kind, build in scale["ops"]():
        if selected is not None and name not in selected:
            continue
        release_cached()  # each op pays its own materialized intermediates
        since = stage_audit.mark(spark)
        rec, executions, df = run(name, kind, build)
        if rec.get("broadcast_exchange"):
            plan_violations.append(name)
        audit = stage_audit.audit(stage_audit.stages(spark, since), min_read=scale["min_read"])
        violations.extend({"op": name, **k} for k in audit["violations"])
        results[name] = {
            **rec,
            "shuffle_write_bytes": audit["shuffle_write_bytes"] // executions,
            "stages": audit["stages"],
            "stages_profiled": audit["stages_profiled"],
            "worst_task_skew": audit["worst_task_skew"],
        }
        if name.startswith("ann_"):
            # top-10 recall vs exact brute force for the SAME 16 queries —
            # ground truth is 16 x 200k cosines, so the claim holds at scale
            emb = load(spark, sf_dir, "embeddings")
            results[name]["top10_recall_vs_bruteforce"] = recall(
                brute_force_topk(emb, emb.limit(16), k=10), df
            )
        release_cached()

    out = {
        "metric": scale["metric"],
        "unit": "sec",
        "sf": scale["sf"],
        "corpus": scale["corpus"],
        "task_skew_bound": stage_audit.SKEW_BOUND,
        "ops": results,
        "skew_violations": violations,
        "plan_violations": plan_violations,
    }
    if mode == "sf1":
        # ANN quality AT SCALE over the 20k near-duplicate-tiled vectors
        # (pytest pins the same bounds at 2k): LSH, and IVF-PQ codes-only
        # candidates + exact refine at tests/test_similarity.py's pinned
        # operating point (near-uniform vectors are PQ's worst case)
        from pyspark.sql import functions as F

        from timing_explorer_spark.operators.similarity import ivfpq_topk, lsh_topk

        emb = load(spark, sf_dir, "embeddings")
        queries = emb.where(F.col("vec_id") < 20)
        exact = brute_force_topk(emb, queries, k=10)
        out["lsh_top10_recall_at_20k"] = recall(exact, lsh_topk(emb, queries, k=10))
        pq = ivfpq_topk(emb, queries, k=10, n_centroids=32, n_probe=16, m=16, k_sub=64, refine=8)
        out["ivfpq_top10_recall_at_20k"] = recall(exact, pq)
    print(json.dumps(out))
    return 1 if violations or plan_violations else 0


if __name__ == "__main__":
    raise SystemExit(main())
