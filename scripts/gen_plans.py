#!/usr/bin/env python
"""Regenerate PLANS.md: reviewed physical plans for the headline queries.

Reuses the WANT annotations already present in PLANS.md (the reviewed
property per query) and re-renders each plan tree under the CURRENT bench
session confs and warm-cache layout (bench.WARM_CACHE_LAYOUT), so the doc
never drifts from what bench.py actually runs.

Usage: python scripts/gen_plans.py   (writes /root/repo/PLANS.md in place)
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

HEADER = """# PLANS — reviewed physical plans (headline queries, sf0.1 bench confs)

Per the build rule "explain every operator and iterate until it's the plan
you'd want": the tree below each query is the physical plan under the bench
session (8 shuffle partitions, 32 MB broadcast threshold, AQE off at this
micro-scale, ShuffledHashJoin preferred over SortMergeJoin when the build
side fits — see bench.py), over bench.py's warm cache
(`WARM_CACHE_LAYOUT`): fact tables HASH-BUCKETED by their dominant join
key, partition counts sized per table (dims 1-2, events 4, facts 16) and
`events.props` dropped from the pinned copy (at sf0.1 the filtered dims
still broadcast; the co-partitioned exchange-free SHJ shapes appear at
sf1 — scripts/bench_sf1.py). The WANT line records the property the plan
was reviewed against; plan-shape tests in `tests/test_plans_scale.py`
enforce the load-bearing ones in CI. Regenerate with
`python scripts/gen_plans.py`.
"""


def existing_wants(path: str) -> dict[str, str]:
    wants: dict[str, str] = {}
    if not os.path.exists(path):
        return wants
    name = None
    for line in open(path):
        m = re.match(r"^## (\S+)", line)
        if m:
            name = m.group(1)
        elif name and line.startswith("WANT:"):
            wants[name] = line[len("WANT:") :].strip()
    return wants


def plan_tree(df) -> str:
    """The numbered operator tree from explain('formatted'), details elided."""
    formatted = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    tree = formatted.split("\n\n")[0]
    return tree.strip()


def main() -> None:
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out_path = os.path.join(repo, "PLANS.md")
    wants = existing_wants(out_path)

    from bench import WARM_CACHE_LAYOUT, bench_session
    from timing_explorer_spark.plans import all_queries

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = bench_session(app_name="gen-plans")  # same confs as bench.py
    spark.sparkContext.setLogLevel("ERROR")

    # bench.py's warm-cache layout, so the rendered plans are the ones bench
    # actually measures — co-partitioned ShuffledHashJoins appear only with it.
    from timing_explorer_spark.sources.tables import warm_cache

    warm_cache(spark, sf_dir, **WARM_CACHE_LAYOUT)

    # Headline queries plus reviewed non-headline plans worth documenting
    # (scale-critical shapes: skew, broadcast semi-join, decorrelation).
    extra = (
        "q21_waiting_suppliers",
        "q_benchmark_contamination",
        "q_salted_hot_key_agg",
        "q_minhash_lsh_neardup",
        "q_event_funnel",
        "q_concurrent_events",
        "q_equidepth_histogram",
        "q_zscore_outliers",
        "q_scd2_intervals",
        "q_pareto_revenue",
        "q_type_affinity",
        # Round-3 additions worth a reviewed plan.
        "q_m4_downsample",
        "q_time_weighted_avg",
        "q_vocab_heavy_hitters",
        "q_embedding_rp_project",
        "q_bigram_surprisal",
        "q_subsequence_search",
        "q_cusum_changepoints",
        "q_lttb_downsample",
        "q_boilerplate_span_coverage",
        "q_int8_embedding_topk",
        # Statistical suite members with scale-load-bearing shapes.
        "q_kl_source_divergence",
        "q_doclen_gini",
        "q_acf_hourly",
        "q_interarrival_profile",
        "q_cross_source_dup",
        "q_seasonal_naive_mase",
        "q_weighted_median_price",
        "q_kaplan_meier",
        # Round-4: real media decode (Arrow-batched decode-in-place).
        "q_media_wav_stats",
        "q_media_ppm_stats",
        # Round-6: crawl front-end, Kneser-Ney, BM25, perceptual dedup.
        "q_kn_ngram_counts",
        "q_ccnet_ppl_kn",
        "q_html_extract",
        "q_html_boilerplate",
        "q_warc_extract",
        "q_warc_html_pipeline",
        "q_url_canonicalize",
        "q_bm25_search",
        "q_media_phash_neardup",
        "q_media_audio_neardup",
        "q_langid_nb",
        "q_squeeze_repeats",
        # Round-7: crawl-cleanup additions.
        "q_fix_mojibake",
        "q_blocklist_filter",
        "q_paragraph_dedup",
        "q_exact_substr_trim",
        "q_corpus_prep_v2",
        "q_ann_ivfpq_topk",
        "q_blocklist_semijoin",
        # Round-8: the crawl flagship + its KN quality leg; link graph.
        "q_crawl_to_corpus",
        "q_crawl_to_corpus_ppl",
        "q_link_graph",
        "q_link_pagerank",
        "q_link_pagerank_directed",
        # Round-9: crawl-quality loop closed (rank-weighted budget,
        # components, anchor signal, convergence diagnostic).
        "q_pagerank_token_budget",
        "q_link_components",
        "q_anchor_terms",
        "q_link_pagerank_convergence",
        "q_link_hits",
        "q_link_degree_stats",
        "q_link_crawl_depth",
        # Round-10: the 100 TB form of the token budget (no global sort).
        "q_pagerank_token_budget_approx",
        # Round-11: the scale-safe row-emitting sampler + the end-to-end
        # corpus-assembly flagship.
        "q_budget_sampled_corpus",
        "q_budget_sampled_corpus_approx",
        "q_host_capped_sample",
        "q_corpus_assembly_e2e",
    )
    qs = all_queries()
    specs = {n: s for n, s in qs.items() if s.headline or n in extra}
    sections = [HEADER]
    for name, spec in sorted(specs.items()):
        df = spec.build(spark, sf_dir)
        want = wants.get(name, "(unreviewed — add the property this plan must hold)")
        sections.append(f"## {name}\n\nWANT: {want}\n\n```\n{plan_tree(df)}\n```\n")
    with open(out_path, "w") as f:
        f.write("\n".join(sections))
    print(f"wrote {out_path} ({len(specs)} plans)")


if __name__ == "__main__":
    main()
