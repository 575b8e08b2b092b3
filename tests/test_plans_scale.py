"""Physical-plan shape assertions: the properties that make queries survive a
100x scale-up, checked against the actual optimized plans (not prose).

Cited from timing_explorer_spark/plans/relational.py's scale notes. Each test
inspects `.explain("formatted")` output:
  - filters/pruning reach the parquet scan (PushedFilters / ReadSchema)
  - dimension joins are broadcast (no shuffle of the fact side)
  - no query ever plans a CartesianProduct / BroadcastNestedLoopJoin except
    the deliberate 1-row scalar broadcasts
  - the hot path stays inside WholeStageCodegen
"""

from __future__ import annotations

import pytest

from timing_explorer_spark.plans import all_queries


def plan_of_df(spark, df) -> str:
    je = df._jdf.queryExecution()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return je.explainString(mode)


def plan_of(spark, name: str, sf_dir: str) -> str:
    return plan_of_df(spark, all_queries()[name].build(spark, sf_dir))


def test_q06_filters_pushed_to_scan(spark, sf_smoke):
    plan = plan_of(spark, "q06_forecast_revenue", sf_smoke)
    assert "PushedFilters:" in plan
    # Every conjunct of the WHERE reaches the parquet reader.
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln][0]
    for needle in ("l_shipdate", "l_discount", "l_quantity"):
        assert needle in pushed, f"{needle} not pushed: {pushed}"


def test_q06_column_pruning(spark, sf_smoke):
    plan = plan_of(spark, "q06_forecast_revenue", sf_smoke)
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    # Only the 4 referenced columns are read, not all 11 lineitem columns.
    assert "l_extendedprice" in read and "l_discount" in read
    for absent in ("l_orderkey", "l_partkey", "l_comment", "l_returnflag"):
        assert absent not in read, f"unpruned column {absent}: {read}"


def test_q05_dimensions_broadcast(spark, sf_smoke):
    plan = plan_of(spark, "q05_local_supplier_volume", sf_smoke)
    # 5 broadcast joins (orders/customer may also convert under AQE at tiny
    # SF, but supplier/nation/region MUST broadcast at any SF).
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan or plan.count("SortMergeJoin") <= 2
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize(
    "name",
    [
        "q01_pricing_summary",
        "q03_shipping_priority",
        "q05_local_supplier_volume",
        "q07_nation_volume",
        "q09_product_profit",
        "q10_returned_items",
        "q16_part_supplier_variety",
        "q18_large_volume_customers",
        "q_top_customers",
        "q_asof_join_last_click",
        "q_interval_join_close_events",
        "q_jaccard_neardup_pairs",
        "q_containment_neardup",
        "q_sensor_correlation",
    ],
)
def test_no_cartesian_products(spark, sf_smoke, name):
    plan = plan_of(spark, name, sf_smoke)
    assert "CartesianProduct" not in plan, f"{name} plans a cartesian product"


@pytest.mark.parametrize(
    # Queries whose only nested-loop join is a deliberate 1-row scalar
    # broadcast (threshold/max cross joins) — assert nothing bigger sneaks in.
    "name",
    ["q11_top_revenue_suppliers", "q15_top_supplier", "q22_idle_customers"],
)
def test_scalar_cross_joins_are_broadcast(spark, sf_smoke, name):
    plan = plan_of(spark, name, sf_smoke)
    assert "CartesianProduct" not in plan
    # The 1-row side must arrive via BroadcastExchange / BroadcastNestedLoop.
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_q01_whole_stage_codegen(spark, sf_smoke):
    # Under AQE the formatted pre-execution plan hides codegen stages; the
    # "codegen" explain mode compiles them and reports the subtree count.
    df = all_queries()["q01_pricing_summary"].build(spark, sf_smoke)
    je = df._jdf.queryExecution()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("codegen")
    plan = je.explainString(mode)
    assert "WholeStageCodegen" in plan
    # The fixed-point unit conversion must not fall out of codegen (no
    # BatchEvalPython / row-at-a-time Python UDF in the hot path).
    assert "BatchEvalPython" not in plan
    assert "PythonUDF" not in plan


@pytest.mark.parametrize(
    "name",
    ["q01_pricing_summary", "q03_shipping_priority", "q_events_per_window",
     "q_time_bucket_avg", "q_exact_dedup_docs", "q_token_stats",
     "q_m4_downsample", "q_time_weighted_avg", "q_gap_fill_interpolate",
     "q_mad_outliers", "q_sensor_correlation", "q_embedding_rp_project"],
)
def test_no_python_udfs_in_relational_hot_paths(spark, sf_smoke, name):
    """Relational/text queries stay JVM-side end to end. (Pandas UDFs are
    allowed only where declared: multimodal decode, similarity scoring.)"""
    plan = plan_of(spark, name, sf_smoke)
    assert "BatchEvalPython" not in plan, f"{name} uses a row-wise Python UDF"


def test_partial_aggregation_before_shuffle(spark, sf_smoke):
    """q01's aggregate runs map-side partial (HashAggregate below the
    Exchange), so the shuffle carries |groups x partitions| rows — and the
    whole query is ONE HashAggregate pair around ONE Exchange (the r4-verdict
    single-exchange rewrite: split-accumulator long sums are algebraic, so no
    second aggregation level exists)."""
    plan = plan_of(spark, "q01_pricing_summary", sf_smoke)
    # formatted explain repeats each node in the detail section; count only
    # the tree rendering ("+-"/"  *" prefixed lines)
    tree = [
        ln
        for ln in plan.splitlines()
        if ("HashAggregate" in ln or "Exchange" in ln) and ("+-" in ln or ln.lstrip().startswith("*"))
    ]
    joined = "\n".join(tree)
    assert joined.count("HashAggregate") == 2  # partial + final, nothing more
    assert joined.count("Exchange") == 1  # the single merge shuffle


def test_runtime_bloom_filter_injection(spark, sf_smoke):
    """Spark's InjectRuntimeFilter plants a bloom pre-filter on the large
    side of a selective join (the engine-native version of manual bloom
    pruning) — assert it fires once thresholds match the local data scale."""
    from pyspark.sql import functions as F

    from timing_explorer_spark.sources.tables import load

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "50MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1KB",
        # Runtime filters only apply to SHUFFLE joins (a broadcast join
        # already filters implicitly); at test scale everything would
        # broadcast, so force the shuffle path the filter exists for.
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        l = load(spark, sf_smoke, "lineitem")
        o = load(spark, sf_smoke, "orders").where(F.col("o_totalprice") > 400000)
        df = l.join(o, l.l_orderkey == o.o_orderkey).select("l_orderkey", "o_totalprice")
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan or "bloom" in plan.lower(), plan[:1500]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_contamination_benchmark_broadcasts(spark, sf_smoke):
    """q_benchmark_contamination: the benchmark gram set must broadcast so
    candidate grams never shuffle (map-side semi-join at 100 TB)."""
    plan = plan_of(spark, "q_benchmark_contamination", sf_smoke)
    assert "BroadcastExchange" in plan
    assert "BroadcastHashJoin" in plan


def test_q21_single_lineitem_rollup(spark, sf_smoke):
    """q21: the EXISTS/NOT-EXISTS decorrelation must NOT plan a three-way
    lineitem self-join — one order-keyed aggregation feeds the filter."""
    tree = plan_of(spark, "q21_waiting_suppliers", sf_smoke).split("\n\n")[0]
    # lineitem x2 (lines + order rollup), orders x2 (broadcast), supplier x1
    assert tree.count("Scan parquet") <= 5


def test_partitioned_layout_prunes(spark, sf_smoke, tmp_path):
    """The 100 TB layout (TESTDATA.md: facts date-partitioned on disk) made
    concrete: lineitem written partitioned by ship year, a one-year query
    must prune to that partition at PLANNING time (PartitionFilters on the
    scan), reading a fraction of the files."""
    from pyspark.sql import functions as F

    from timing_explorer_spark.sources.tables import load

    out = str(tmp_path / "lineitem_by_year")
    (
        load(spark, sf_smoke, "lineitem")
        .withColumn("ship_year", F.year("l_shipdate"))
        .write.mode("overwrite")
        .partitionBy("ship_year")
        .parquet(out)
    )
    df = (
        spark.read.parquet(out)
        .where(F.col("ship_year") == 2001)
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    je = df._jdf.queryExecution()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plan = je.explainString(mode)
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and "ship_year" in pf[0], plan[:1500]
    # and the pruned result equals the unpartitioned filter
    expected = (
        load(spark, sf_smoke, "lineitem")
        .where(F.year("l_shipdate") == 2001)
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert sorted(map(tuple, df.collect())) == sorted(map(tuple, expected.collect()))


def test_zscore_moment_table_broadcasts(spark, sf_smoke):
    """q_zscore_outliers joins the per-type moment table back to the fact
    stream — that side is tiny at any scale and must broadcast (the score
    pass stays map-side; a shuffle here would re-exchange the whole fact
    table just to attach 3 doubles per key)."""
    plan = plan_of(spark, "q_zscore_outliers", sf_smoke)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_stratified_sample_uses_windowgroup_limit(spark, sf_smoke):
    """q_stratified_sample_k's rank<=k filter must plan as a window TopK
    (WindowGroupLimit pushdown): each stratum keeps a bounded k-row heap
    per partition instead of fully sorting every stratum — the property
    that makes fixed-quota sampling O(k) state at 100 TB."""
    plan = plan_of(spark, "q_stratified_sample_k", sf_smoke)
    assert "WindowGroupLimit" in plan


def test_type_affinity_has_no_join(spark, sf_smoke):
    """q_type_affinity must stay self-join-free: the pair expansion happens
    in array HOFs over each user's bounded type set, so the physical plan
    contains aggregation + generate but NO join operator at all."""
    plan = plan_of(spark, "q_type_affinity", sf_smoke)
    assert "Join" not in plan, plan
    assert "Generate" in plan  # the explode of HOF-built pairs


def test_weighted_sample_uses_windowgroup_limit(spark, sf_smoke):
    """The weighted draw's rank<=k must plan as WindowGroupLimit (bounded
    per-stratum state), same as the uniform stratified sampler."""
    plan = plan_of(spark, "q_weighted_sample", sf_smoke)
    assert "WindowGroupLimit" in plan


def test_exact_similarity_has_no_driver_collect(spark, sf_smoke, monkeypatch):
    """q_embedding_nn / q_embedding_neardup must never materialize the corpus
    on the driver (round-2 verdict "What's wrong" #3): the dense build side is
    loaded by each WORKER from parquet (_worker_load_matrix). Any driver-side
    toPandas/collect during build+execute fails this test."""
    import pyspark.sql.classic.dataframe as cdf

    def _boom(self, *a, **k):  # noqa: ANN001
        raise AssertionError("driver-side materialization in registered similarity path")

    monkeypatch.setattr(cdf.DataFrame, "toPandas", _boom)
    monkeypatch.setattr(cdf.DataFrame, "collect", _boom)
    for name in ("q_embedding_nn", "q_embedding_neardup"):
        out = all_queries()[name].build(spark, sf_smoke)
        assert out.count() > 0  # executes the mapInPandas path end-to-end


def test_heavy_hitters_recount_broadcasts_candidates(spark, sf_smoke):
    """The exact-recount pass must semi-join the stream against a BROADCAST
    candidate set (map-side tail filtering — the long tail never shuffles)."""
    plan = plan_of(spark, "q_vocab_heavy_hitters", sf_smoke)
    assert "BroadcastExchange" in plan
    assert "LeftSemi" in plan


# Queries whose plans legitimately contain Python (Arrow-batched dense
# algebra / MG candidate generation / media fingerprinting) — everything
# else must be JVM-only.
_SANCTIONED_PYTHON = {
    "q_embedding_nn",
    "q_embedding_topk",
    "q_embedding_neardup",
    "q_knn_classify",
    "q_semantic_dedup_keep_best",
    "q_ann_lsh_topk",
    "q_ann_ivf_topk",
    # IVF-PQ: the fused _pq_index_scan/_pq_probe_scan bucket scoring, dense
    # codebook argmins/LUTs (Arrow-batched; ADC scoring itself is JVM)
    "q_ann_ivfpq_topk",
    # same ivf_assign dense-algebra batch scoring (centroid matrix in the
    # closure), surfaced as a clustering report
    "q_kmeans_cluster_profile",
    # SemDeDup: ivf_assign's Arrow matmul centroid scoring (the sanctioned
    # dense-algebra shape); the pair stage itself is JVM HOF cosine
    "q_semdedup_pairs",
    "q_vocab_heavy_hitters",
    "q_cms_word_freq",
    "q_media_fingerprints",
    "q_media_features",
    "q_media_exact_dedup",
    # real codec decode (multimodal/codecs.py): Arrow-batched mapInPandas,
    # decode-in-place where the bytes live — the sanctioned Python shape
    "q_media_wav_stats",
    # decode + rFFT where the bytes live (multimodal/binary_ops.wav_spectral)
    "q_media_spectral",
    "q_media_ppm_stats",
    "q_media_bmp_stats",
    # per-series Nelder-Mead-fitted smoothing over the bounded GROUP BY
    # time() aggregate (applyInPandas; raw facts never reach Python)
    "q_influxql_holt_winters",
    # unigram tokenizer inference: Arrow-batched Viterbi DP over the bounded
    # distinct-word histogram only (operators/unigram.py); corpus rows never
    # reach Python — the dictionary-encoding join brings pieces back
    "q_unigram_tokenize_stats",
    # CCNet perplexity scoring: same bounded dictionary-DP contract as
    # q_unigram_tokenize_stats (operators/unigram.py::doc_perplexity)
    "q_ccnet_perplexity_buckets",
    # perceptual hashing: Arrow-batched mapInPandas BMP decode + numpy DCT
    # where the bytes live (multimodal/phash.py) — the sanctioned multimodal
    # decode shape; the candidate join itself is the JVM pigeonhole join
    "q_media_phash_neardup",
    # WARC container walk: the Content-Length record scan is inherently
    # sequential per blob, so it runs Arrow-batched where the bytes live
    # (sources/warc.py); at scale parallelism is per WARC file
    "q_warc_extract",
    "q_warc_html_pipeline",
    # same walk plus the stdlib-zlib gzip member-chain decompression —
    # still Arrow-batched where the bytes live (r7, .warc.gz)
    "q_warc_gz_extract",
    # the r8 crawl flagship rides the same WARC container walk (the only
    # Python in its plan); every cleanup stage downstream is JVM
    "q_crawl_to_corpus",
    # same WARC walk + the bounded dictionary KN scorer DP (the
    # q_ccnet_perplexity_buckets contract: distinct-gram grain only)
    "q_crawl_to_corpus_ppl",
    # audio fingerprinting: Arrow-batched WAV decode + rfft where the bytes
    # live (multimodal/audio_fp.py); candidate join is JVM pigeonhole
    "q_media_audio_neardup",
}

# Queries whose only nested-loop/cartesian shape is a deliberate 1-row
# scalar broadcast (thresholds, totals) or a broadcast band join.
_SANCTIONED_NESTED_LOOP = {
    "q11_top_revenue_suppliers",
    "q15_top_supplier",
    # NB lang-ID: the cross joins carry the |langs|-row label set and two
    # 1-row scalars (vocab size, doc total) — the deliberate tiny-broadcast
    # shape; the model join itself is a (tri, lang) hash equi-join
    "q_langid_nb",
    "q17_small_quantity_revenue",
    "q22_idle_customers",
    "q_range_lookup_join",
    "q_revenue_share",
    # brute-force top-k: the BOUNDED query-vector set broadcasts against the
    # corpus and scoring stays map-side — the deliberate small-queries shape
    "q_embedding_topk",
    "q_knn_classify",
    "q_hard_negatives",
    "q_zscore_outliers",
    "q_benchmark_contamination",
    "q_rfm_segmentation",
    "q_pareto_revenue",
    "q_equidepth_histogram",
    "q_weighted_sample",
    "q_vocab_heavy_hitters",
    "q_cms_word_freq",
    "q_subsequence_search",
    # 1-row max-abs scale broadcast + bounded query-set broadcast
    "q_int8_embedding_topk",
    "q_mixture_token_budget",
    # r10: the 3-row bucket aggregate crossJoins its own 1-row total-weight
    # aggregate (class (b) scalar attachment — replaces the exact variant's
    # unpartitioned scalar window; never fact rows)
    "q_pagerank_token_budget_approx",
    # r11: the same 3-row x 1-row scalar crossJoin via _budget_rates_parallel
    # (the approx sampler and the e2e flagship compose it)
    "q_budget_sampled_corpus_approx",
    "q_corpus_assembly_e2e",
    "q_quality_expectations",
    "q_sequence_packing",
    "q_concurrent_events",
    "q_word_logfreq_score",
    "q_tfidf_top_terms",
    # KS grid: deliberate #sources x #distinct-values broadcast cross join
    # (both sides are bounded grains) + 1-row corpus-total broadcast
    "q_ks_source_drift",
    # InfluxQL fill spine crossed with the distinct tag set: O(days x #tags)
    # broadcast — the translator's multi-series gap-fill contract
    "q_influxql_spread_series",
    # same contract, two tags: spine x distinct (event_type, region) tuples
    "q_influxql_multi_tag_fill",
    # observation horizon + cohort total: two deliberate 1-row broadcasts
    "q_kaplan_meier",
    # DSIR: 1-row distribution-totals broadcast onto the bounded K-bucket
    # count table (K=4096) — never onto fact rows
    "q_dsir_importance_weights",
    "q_dsir_resample",
    # corpus bigram total: 1-row broadcast onto the capped top-50
    "q_bigram_pmi",
    # <=40-row checkpoint broadcast range-joined against word/doc grains
    "q_heaps_law",
    # contingency grid: margin-aggregate cross product (r x c, tiny) + 1-row
    # corpus-total and dims broadcasts — never fact rows
    "q_chi2_lang_source",
    # 1-row seasonal-centering-mean broadcast onto the 24-row hod grain
    "q_stl_decompose",
    # directed PageRank: two deliberate 1-row broadcasts per round (the
    # dangling-mass total and the node count) — never fact-sized
    "q_link_pagerank_directed",
}


# Queries whose plans contain an UNPARTITIONED window (all rows of the
# window's input flow to one task). Sanctioned because each such window
# operates on a BOUNDED intermediate, never on raw fact rows — the classes:
#  (a) bounded time-bucket series (per-day/hour aggregate between the
#      query's fixed time range): q_cusum_changepoints, q_theil_sen_trend,
#      q_sax_symbols, q_gap_fill_interpolate, q_cumulative_distinct_users,
#      q_kaplan_meier, q_influxql_moving_average, q_influxql_elapsed
#      (InfluxQL transformations are defined over the $timeFilter-bounded
#      aggregated series), q_event_transitions, q_concurrent_events
#  (b) bounded group/value grids (distinct brands, sources, digit bins,
#      quantile boundaries, vocab caps): q02_cheapest_part_per_brand,
#      q20_dominant_suppliers, q_tfidf_top_terms, q_equidepth_histogram,
#      q_benford_order_totals, q_zipf_slope, q_kl_source_divergence,
#      q_ks_source_drift, q_winsorized_stats, q_mad_outliers,
#      q_weighted_median_price, q_key_skew_report, q_mixture_token_budget
#  (c) global ordered prefix-scans over per-entity AGGREGATES (a Lorenz
#      curve / packing offset is inherently a global cumulative order;
#      the window input is one row per entity/chunk, already reduced):
#      q_pareto_revenue, q_sequence_packing, q_neardup_keep_best,
#      q_semantic_dedup_keep_best
#  (d) series-cardinality ranking for InfluxQL SLIMIT/SOFFSET
#      (row_number over the DISTINCT tag values only — the series set,
#      never data rows; functions/influxql.py::_series_filter):
#      q_influxql_slimit
# At 100 TB, class (c) would switch to the two-pass distributed prefix-scan
# (per-partition totals broadcast as offsets — the pattern
# plans/text_pipeline.py::q_sequence_packing documents); (a)/(b) stay
# single-task by cardinality. NEW unpartitioned windows fail this audit.
_SANCTIONED_GLOBAL_WINDOW = {
    # cumulative explained-variance over the k (=8) PCA components — the
    # window input is the O(k) model table, never the vector corpus
    "q_embedding_pca_variance",
    "q02_cheapest_part_per_brand",
    "q20_dominant_suppliers",
    "q_concurrent_events",
    "q_tfidf_top_terms",
    "q_mixture_token_budget",
    # r11: temperature mixture — two windows over the same |sources|-row
    # aggregate (class (b); never fact rows)
    "q_mixture_temperature",
    # the flagship's mixture stage: the same |sources|-row aggregate window
    # as q_mixture_token_budget (class (b); never fact rows)
    "q_crawl_to_corpus",
    # r9: NTILE over the DOC-GRAIN rank table (orders smaller than the
    # token corpus; swap for approx-percentile thresholds at true 100 TB —
    # documented in the query doc + PLANS.md WANT), plus the 3-row budget
    # window (class (b))
    "q_pagerank_token_budget",
    # r10: the budget SAMPLER composes the exact variant's rates, so it
    # inherits the same documented NTILE trade (the scalable path swaps in
    # q_pagerank_token_budget_approx's thresholds — that query plans NO
    # window at all, verified in its PLANS.md WANT)
    "q_budget_sampled_corpus",
    # r11: the e2e flagship's packing tail is the two-phase prefix scan —
    # its only global window is the O(n_partitions)-row offsets table,
    # exactly q_sequence_packing's sanctioned class (c) shape; every other
    # window in the chain is source-/host-partitioned
    "q_corpus_assembly_e2e",
    "q_pareto_revenue",
    "q_key_skew_report",
    "q_event_transitions",
    "q_influxql_moving_average",
    "q_influxql_elapsed",
    "q_influxql_slimit",
    "q_sequence_packing",
    "q_neardup_keep_best",
    "q_semantic_dedup_keep_best",
    "q_equidepth_histogram",
    "q_weighted_median_price",
    "q_benford_order_totals",
    "q_gap_fill_interpolate",
    "q_mad_outliers",
    "q_cusum_changepoints",
    "q_theil_sen_trend",
    "q_sax_symbols",
    "q_winsorized_stats",
    "q_zipf_slope",
    "q_kl_source_divergence",
    "q_ks_source_drift",
    "q_cumulative_distinct_users",
    "q_kaplan_meier",
    # hypothesis_suite: rank window over the bounded distinct-cents value
    # histogram (≤ ~50k rows at any SF), never the fact table
    "q_mann_whitney_u",
    # hypothesis_suite: moving-average windows over the O(time-range)
    # hourly spine grain
    "q_stl_decompose",
}


def _unpartitioned_windows(df) -> int:
    """Count Window nodes with an empty partition spec in the executed plan.

    WindowExec renders `Window [exprs], [partSpec], [orderSpec]` — an empty
    partition spec collapses the render to two top-level bracket groups, so
    fewer than two `], [` separators on the node line means global window.
    """
    s = df._jdf.queryExecution().executedPlan().toString()
    return sum(
        1
        for line in s.splitlines()
        if "Window [" in line and line.count("], [") < 2
    )


def test_plan_audit_all_queries(spark, smoke_query):
    """Whole-registry physical-plan audit — the sweeping scale guarantees:
    no query ever plans a CartesianProduct; BroadcastNestedLoopJoin appears
    only in sanctioned scalar/band-join shapes; row-wise Python appears only
    in the sanctioned Arrow-batched operators; unpartitioned (global)
    windows appear only over sanctioned bounded intermediates. Covers every
    registered query, not just the PLANS.md sample."""
    failures = []
    for name in all_queries():
        try:
            # build ONCE and explain the same frame (r13 suite-wall-time cut:
            # plan_of(name) re-ran spec.build, and trainer builds execute the
            # full training actions — the audit paid every trainer twice);
            # the frame is shared with test_relational_oracle's checks
            df = smoke_query(name)
            plan = plan_of_df(spark, df)
        except Exception as exc:  # noqa: BLE001
            failures.append(f"{name}: plan build failed: {exc}")
            continue
        if "CartesianProduct" in plan:
            failures.append(f"{name}: CartesianProduct")
        if "BroadcastNestedLoopJoin" in plan and name not in _SANCTIONED_NESTED_LOOP:
            failures.append(f"{name}: unsanctioned BroadcastNestedLoopJoin")
        has_python = (
            ("BatchEvalPython" in plan)
            or ("MapInPandas" in plan)
            or ("ArrowEvalPython" in plan)
            or ("FlatMapGroupsInPandas" in plan)  # applyInPandas
        )
        if has_python and name not in _SANCTIONED_PYTHON:
            failures.append(f"{name}: unsanctioned Python in plan")
        if _unpartitioned_windows(df) and name not in _SANCTIONED_GLOBAL_WINDOW:
            failures.append(f"{name}: unsanctioned unpartitioned Window")
    assert not failures, "\n".join(failures)
