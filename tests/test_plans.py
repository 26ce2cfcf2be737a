"""Execution-shape guardrails: assert the plans we designed for scale.

Correctness tests can stay green while a plan silently degrades (e.g. a
broadcast join falling back to sort-merge + shuffle of the fact table).
These tests pin the intended physical shape of headline queries.
"""

from __future__ import annotations

from automated_data_pipeline_python_spark.plans import plan_report
from automated_data_pipeline_python_spark.queries import QUERIES
from tests.conftest import SF_CORRECT as SF


def _not_python_free(catalog_plans, names) -> list[str]:
    return [n for n in names if not catalog_plans[n].report.python_free]


def test_q1_filter_pushed_to_scan(catalog_plans):
    r = catalog_plans["q1_pricing_summary"].report
    assert r.scans == 1
    assert r.scans_with_pushed_filters == 1
    assert r.python_free
    # scan -> partial agg -> single exchange -> final agg
    assert r.exchanges == 1


def test_q3_broadcasts_dimensions(catalog_plans):
    r = catalog_plans["q3_shipping_priority"].report
    assert r.broadcast_joins >= 1  # customer side must broadcast
    assert r.python_free


def test_q5_star_join_broadcasts_all_dims(catalog_plans):
    r = catalog_plans["q5_region_revenue"].report
    # customer/supplier/nation/region broadcast; only orders<->lineitem
    # may shuffle.
    assert r.broadcast_joins >= 4
    assert r.sort_merge_joins <= 1
    assert r.python_free


def test_part_filters_pushed(catalog_plans):
    r = catalog_plans["filter_in_like_between"].report
    assert r.scans_with_pushed_filters == 1
    assert r.exchanges == 0  # pure scan+filter: no shuffle at all


def test_asof_join_headline_is_python_free(catalog_plans):
    # union + running-window formulation: pure JVM, one shuffle on the key
    r = catalog_plans["join_asof_purchase_click"].report
    assert r.python_free
    assert r.exchanges == 1


def test_asof_join_cogroup_is_single_python_stage(catalog_plans):
    r = catalog_plans["join_asof_arrow_cogroup"].report
    # exactly one Arrow cogroup boundary; everything else JVM
    assert r.python_evals == 1


def test_text_and_vector_queries_are_python_free(catalog_plans):
    assert catalog_plans["text_quality_scores"].report.python_free
    assert catalog_plans["knn_bruteforce_topk"].report.python_free


def test_training_ops_plan_shapes(catalog_plans):
    """The scale claims in queries/training.py, pinned:
    sampling is map-only (zero exchanges), packing shuffles once (the
    per-source window), contamination broadcasts the eval-set side, and
    every training op stays JVM-side."""
    sample = catalog_plans["sample_stratified_deterministic"].report
    assert sample.exchanges == 0
    assert sample.python_free

    pack = catalog_plans["pack_sequences_chunked"].report
    assert pack.exchanges == 1
    assert pack.python_free

    contam = catalog_plans["contamination_ngram_overlap"].report
    assert contam.broadcast_joins >= 1
    assert contam.sort_merge_joins == 0
    assert contam.python_free

    repeat = catalog_plans["text_repetition_scores"].report
    assert repeat.python_free


def test_curation_gate_plan_shapes(catalog_plans):
    """queries/curation2.py scale claims, pinned: the logistic gate is
    a single-scan projection (its one exchange is load_scaled's
    documented small-corpus fan-out, not a computation shuffle); the
    surprisal scorer joins the broadcast-sized vocab — no sort-merge
    join of the token stream; both stay JVM-side."""
    gate = catalog_plans["quality_logistic_filter"].report
    assert gate.scans == 1
    assert gate.exchanges <= 1
    assert gate.python_free

    surp = catalog_plans["doc_unigram_surprisal"].report
    assert surp.sort_merge_joins == 0
    assert surp.broadcast_joins >= 1
    assert surp.python_free


def test_capped_dedup_stays_broadcast_and_python_free(catalog_plans):
    """The hot-list anti-join must not reshuffle the shingle relation
    into a sort-merge join, and no Python appears anywhere."""
    r = catalog_plans["dedup_ngram_jaccard_capped"].report
    assert r.broadcast_joins >= 1
    assert r.python_free


def test_whole_stage_codegen_active(spark):
    # Under AQE the codegen spans only appear in the final (executed)
    # plan, so run the query before inspecting.
    for name in ("q1_pricing_summary", "q3_shipping_priority"):
        df = QUERIES[name].fn(spark, SF)
        df.collect()
        assert plan_report(df).codegen_spans >= 1, name


def test_round5_additions_python_free(catalog_plans):
    """The LM-construction, pipe-syntax and sequence-analytics queries
    are pure Catalyst plans — no Python boundary anywhere."""
    assert _not_python_free(catalog_plans, (
        "dedup_substring_windows",
        "lm_bigram_entropy",
        "bpe_pair_merge_counts",
        "text_zipf_slope",
        "pipe_syntax_nation_value",
        "events_path_patterns",
        "events_ohlc_hourly",
        "text_token_pmi",
        "ann_ndcg_eval",
        "events_retention_cohorts",
        "events_twap_hourly",
        "sample_weighted_reservoir",
        "events_rolling_wau",
        "embedding_power_iteration",
        "events_markov_transitions",
        "rfm_customer_segments",
        "sample_train_val_test",
        "contamination_semantic",
        "basket_brand_lift",
        "events_funnel_timing",
    )) == []


def test_ohlc_single_exchange_for_both_ranks(catalog_plans):
    """Both row_number directions and the final agg share the
    (event_type, hour) partitioning — one shuffle total."""
    r = catalog_plans["events_ohlc_hourly"].report
    assert r.exchanges <= 1, r.text


def test_substring_windows_materializes_the_hash_stage(catalog_plans):
    """The shingle+SHA relation is referenced twice; it must come from
    the materialized checkpoint (0 file scans in the tail plan), not
    re-execute per reference."""
    r = catalog_plans["dedup_substring_windows"].report
    assert r.scans == 0, "tail should read the checkpointed RDD"
    assert "sha2" not in r.text, "hash stage must not re-execute in the tail"


def test_rolling_wau_has_no_nested_loop_join(catalog_plans):
    """The 7-day window is an explode + equi-join — a range-join
    formulation would compile to BroadcastNestedLoopJoin and evaluate
    |activity| x |days| predicate pairs."""
    r = catalog_plans["events_rolling_wau"].report
    assert "BroadcastNestedLoopJoin" not in r.text
    assert "CartesianProduct" not in r.text


def test_timeseries_and_graph_additions_python_free(catalog_plans):
    """The time-series, graph, and skew-diagnostic queries are pure
    Catalyst plans — no Python boundary anywhere."""
    assert _not_python_free(catalog_plans, (
        "events_ewma_daily",
        "events_activity_streaks",
        "events_interarrival_stats",
        "events_daily_acf",
        "events_last_touch_attribution",
        "graph_brand_pagerank",
        "graph_brand_triangles",
        "dq_key_skew_report",
    )) == []


def test_skew_report_topk_is_distributed(catalog_plans):
    """The top-10 share must compile to TakeOrderedAndProject
    (per-partition top-k + merge), never a global-ORDER window that
    would move the whole 10^9-key count relation to one partition."""
    r = catalog_plans["dq_key_skew_report"].report
    assert "TakeOrderedAndProject" in r.text
    assert "Window" not in r.text


def test_pagerank_tail_reads_checkpointed_edges(catalog_plans):
    """The edge list feeds four stages; it must come from the one
    materialized checkpoint, not re-run the lineitem-part join per
    reference (Spark inlines CTEs)."""
    r = catalog_plans["graph_brand_pagerank"].report
    assert r.scans == 0, "tail should read the checkpointed edge RDD"


def test_experiment_and_warehouse_additions_python_free(catalog_plans):
    assert _not_python_free(catalog_plans, (
        "events_cusum_changepoints",
        "events_ab_test_lift",
        "orders_cohort_ltv",
        "warehouse_incremental_agg",
    )) == []


def test_incremental_agg_prunes_history_at_the_scan(catalog_plans):
    """The delta branch's date filter must reach the parquet reader —
    that pushdown is the entire point of incremental maintenance (the
    refresh reads the delta partitions, not 100 TB of history)."""
    r = catalog_plans["warehouse_incremental_agg"].report
    assert r.scans == 2
    assert r.scans_with_pushed_filters == 2


def test_runtime_bloom_filter_join_pruning_available(spark):
    """At 100 TB the fact-side scan of a selective join should be
    pre-filtered by a runtime bloom filter built from the dimension
    side (Spark's runtime row-level filtering) rather than shuffling
    every row to the join. The feature only fires above size
    thresholds, so at sf0.01 we lower them to prove the engine's plans
    are ELIGIBLE — no hand-built bloom operator needed (the SQL-callable
    bloom_filter_agg is not in the public function registry)."""
    tune = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtimeFilter.number.threshold": "10",
    }
    saved = {k: spark.conf.get(k, None) for k in tune}
    try:
        for k, v in tune.items():
            spark.conf.set(k, v)
        li = spark.read.parquet(f"{SF}/lineitem.parquet")
        o = spark.read.parquet(f"{SF}/orders.parquet").filter(
            "o_orderpriority = '1-URGENT'"
        )
        j = li.join(o, li.l_orderkey == o.o_orderkey).groupBy(
            "l_returnflag"
        ).count()
        optimized = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in optimized, "bloom filter not injected"
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_retrieval_and_drift_additions_python_free(catalog_plans):
    """The session-3 retrieval/drift/curation-eval queries are pure
    Catalyst plans — no Python boundary anywhere."""
    assert _not_python_free(catalog_plans, (
        "text_bm25_ranking",
        "text_inverted_postings",
        "embedding_hard_negatives",
        "dq_benford_first_digit",
        "events_mad_outliers",
        "corpus_source_kl_divergence",
        "dq_mutual_information",
        "events_psi_value_drift",
        "lang_id_confusion",
        "sample_importance_dsir",
        "quality_gopher_rules",
    )) == []


def test_bm25_and_dsir_topk_are_distributed(catalog_plans):
    """Both top-k selections must compile to TakeOrderedAndProject
    (per-partition top-k + merge); the rank window is allowed only
    AFTER the LIMIT, where it orders k rows, never the scored corpus."""
    for name in ("text_bm25_ranking", "sample_importance_dsir"):
        assert "TakeOrderedAndProject" in catalog_plans[name].final, name


def test_sketch_forecast_attribution_additions_python_free(catalog_plans):
    """The session-3 sketch/forecast/attribution batch stays pure
    Catalyst — recursion, bit arithmetic, and window weighting all
    compile to JVM plans."""
    assert _not_python_free(catalog_plans, (
        "events_bitmap_retention",
        "events_seasonality_profile",
        "orders_pareto_concentration",
        "sketch_count_min_terms",
        "sketch_bloom_prefilter",
        "events_holt_forecast",
        "events_forecast_backtest",
        "events_multi_touch_attribution",
    )) == []


def test_robust_stats_additions_python_free(catalog_plans):
    assert _not_python_free(catalog_plans, (
        "param_marker_priority_stats",
        "events_theil_sen_trend",
        "orders_interpurchase_survival",
        "dedup_ngram_containment",
        "text_term_burstiness",
    )) == []


def test_experiment_session_additions_python_free(catalog_plans):
    assert _not_python_free(catalog_plans, (
        "events_cuped_adjustment",
        "events_winsorized_stats",
        "scd2_as_of_snapshot",
        "events_session_bounce_rate",
    )) == []


def test_corpus_stats_additions_python_free(catalog_plans):
    assert _not_python_free(catalog_plans, (
        "text_heaps_vocab_growth",
        "embedding_class_separability",
        "events_dau_mau_stickiness",
    )) == []


def test_stickiness_has_no_nested_loop_join(catalog_plans):
    """The MAU expansion must stay equi-join (explode + hash join) —
    a day-spine RANGE join would compile to BroadcastNestedLoopJoin."""
    r = catalog_plans["events_dau_mau_stickiness"].report
    assert "NestedLoop" not in r.text


def test_reachability_js_concurrency_python_free(catalog_plans):
    assert _not_python_free(catalog_plans, (
        "graph_brand_reachability",
        "corpus_source_js_matrix",
        "events_peak_concurrency",
    )) == []


def test_feature_hhi_estimator_python_free(catalog_plans):
    assert _not_python_free(catalog_plans, (
        "events_lag_feature_matrix",
        "orders_hhi_concentration",
        "dedup_minhash_estimate_accuracy",
    )) == []


def test_abc_anomaly_simpson_python_free(catalog_plans):
    assert _not_python_free(catalog_plans, (
        "lineitem_abc_classification",
        "events_seasonal_anomalies",
        "corpus_simpson_diversity",
    )) == []


def test_oov_chi2_python_free(catalog_plans):
    assert _not_python_free(catalog_plans, ("vocab_coverage_oov_curve", "dq_chi2_independence")) == []


def test_governance_and_latency_histogram_python_free(catalog_plans):
    """dq_k_anonymity joins two scale-growing tables (customer, orders)
    — no hint, AQE picks the strategy; the latency histogram's only
    corpus-sized stage is the lag window's user_id shuffle."""
    assert _not_python_free(catalog_plans, ("dq_k_anonymity", "events_latency_decade_histogram")) == []


def test_compaction_plan_windows_only_the_day_relation(catalog_plans):
    """The planner's running total must run on the per-day relation,
    not the event stream: one scan, no python, and the plan's window
    sits above the day aggregation."""
    r = catalog_plans["warehouse_compaction_plan"].report
    assert r.python_free
    assert r.scans == 1


def test_rake_and_link_prediction_python_free(catalog_plans):
    """RAKE's only corpus-sized stages are the explode and one
    doc-keyed window; link prediction's pair work is bounded by
    brands x top-k. Neither may touch Python."""
    assert _not_python_free(catalog_plans, ("text_rake_phrases", "graph_link_prediction")) == []


def test_prefix_filter_skyline_histogram_shapes(catalog_plans):
    """The PPJoin prefix filter, the window skyline, and the histogram
    quantile sketch stay Python-free; the skyline's two window frames
    share one partitioning+ordering, so the plan carries exactly ONE
    Window operator (the single-pass property its scale story claims)."""
    assert _not_python_free(catalog_plans, (
        "dedup_prefix_filter_join",
        "sketch_histogram_quantiles",
        "part_skyline_pareto",
    )) == []
    plan = catalog_plans["part_skyline_pareto"].final
    assert plan.count("Window") - plan.count("WindowGroupLimit") == 1


def test_calibration_sketch_dv_python_free(catalog_plans):
    """Calibration bins, linear counting, and deletion vectors are
    pure JVM plans; the DV probe joins on (month, word), never
    row-to-row."""
    assert _not_python_free(catalog_plans, (
        "quality_calibration_bins",
        "sketch_linear_counting",
        "warehouse_deletion_vectors",
    )) == []


def test_auc_cem_qnorm_python_free(catalog_plans):
    """AUC never materializes pairs, CEM windows run over the USER
    relation, and quantile-normalize must not contain an unpartitioned
    corpus-wide row_number — its only global window is the
    distinct-value CDF. All Python-free."""
    assert _not_python_free(catalog_plans, (
        "quality_auc_rank",
        "events_cem_matching",
        "feature_quantile_normalize",
    )) == []


def test_bpe_and_sssp_python_free(catalog_plans):
    """The BPE training rounds and the Bellman-Ford relaxation are
    pure JVM plans; BPE's per-round corpus is checkpointed, so the
    final plan reads materialized rounds, not the whole chain."""
    assert _not_python_free(catalog_plans, ("bpe_train_merge_rounds", "graph_weighted_sssp")) == []


def test_cep_and_perplexity_python_free(catalog_plans):
    """The CEP interval join and NOT-EXISTS veto both ride user_id
    equi-keys; the perplexity train/eval joins ride bigram keys. No
    Python, no cartesian products."""
    assert _not_python_free(catalog_plans, ("events_cep_absence_pattern", "lm_heldout_perplexity")) == []


def test_kmv_freshness_rules_python_free(catalog_plans):
    """KMV sketches, the freshness monitor, and association rules are
    pure JVM plans; KMV set-ops' k-min picks must plan as TakeOrdered
    (no unpartitioned rank window over the hash sets)."""
    assert _not_python_free(catalog_plans, (
        "sketch_kmv_distinct",
        "sketch_kmv_set_ops",
        "dq_freshness_sla",
        "orders_association_rules",
    )) == []
    plan = catalog_plans["sketch_kmv_set_ops"].final
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan


def test_power_and_hysteresis_python_free(catalog_plans):
    """Power analysis is one aggregation + closed form; the hysteresis
    alarm carries state through user-partitioned LOCF windows only."""
    assert _not_python_free(catalog_plans, ("events_power_analysis", "events_hysteresis_alerts")) == []
    assert _not_python_free(catalog_plans, (
        "orders_ship_latency_percentiles",
        "events_new_vs_returning_dau",
        "events_trajectory_similarity",
        "events_three_way_interval_join",
        "lineitem_price_index_laspeyres",
        "rag_reciprocal_rank_fusion",
        "ann_lsh_multiprobe_topk",
    )) == []


def test_ann_dim_truncation_stable_plan_facts(spark):
    """Pin executed-plan facts of the ANN truncation eval. Its
    exchange/codegen counts move with exchange reuse, and AQE picks
    joins at run time (see the PLANS.md reading guide), so only scans,
    pushed filters, python stages and the absence of a sort-merge join
    are pinned. The query localCheckpoints its shared truth subtree, so
    the executed (post-AQE, post-materialize) plan is the one that
    matters: every pre-checkpoint scan collapses into the materialized
    block and the remaining joins are small enough to broadcast."""
    df = QUERIES["ann_dim_truncation_recall"].fn(spark, SF)
    df.collect()
    r = plan_report(df)
    assert r.python_free
    assert r.scans == 2 and r.scans_with_pushed_filters == 2
    assert r.sort_merge_joins == 0


def test_lakehouse_layout_queries_plan_shapes(catalog_plans):
    """zorder is a pure projection (map-only — the zval feeds the
    clustered write's own exchange); the zone-map report is one scan
    whose window runs over the per-month relation."""
    r = catalog_plans["warehouse_zorder_clustering"].report
    assert r.python_free and r.scans == 1 and r.exchanges == 0
    r = catalog_plans["warehouse_zone_map_skipping"].report
    assert r.python_free and r.scans == 1


def test_ols_two_factor_is_one_aggregation_pass(catalog_plans):
    """The closed-form fit collects all 9 moments in ONE scan + one
    final-merge exchange; a second scan would mean the normal-equation
    moments were not fused."""
    r = catalog_plans["lineitem_ols_two_factor"].report
    assert r.python_free
    assert r.scans == 1
    assert r.sort_merge_joins == 0 and r.broadcast_joins == 0


def test_multimodal_plans_are_map_only(catalog_plans):
    """Frame-sample and audio-segment PLANS never hash-shuffle: the
    offset plan pipelines straight into the codec stage, so a keyed
    exchange here would mean decoded-media bytes crossing the wire at
    100 TB. The one allowed exchange is load_scaled's round-robin
    fan-out of a single-split scan (parallelism, not semantics)."""
    import re

    for name in (
        "multimodal_frame_sample_plan",
        "multimodal_audio_segments",
        "multimodal_image_tile_plan",
    ):
        r = catalog_plans[name].report
        assert r.python_free, name
        keyed = [
            ln
            for ln in r.text.splitlines()
            if re.search(r"\bExchange\b", ln)
            and "Reused" not in ln
            and "RoundRobinPartitioning" not in ln
        ]
        assert keyed == [], (name, keyed)


def test_session4_additions_python_free(catalog_plans):
    """Sequential-decision, CF, calibration, TextRank, CDC, MERGE:
    all pure DataFrame/SQL — a python stage in any of them would mean
    the operator fell off the JVM fast path."""
    assert _not_python_free(catalog_plans, (
        "events_ucb_bandit_replay",
        "events_sprt_ab_trajectory",
        "events_crosscorr_lead_lag",
        "reco_item_item_cosine",
        "events_holt_winters_weekly",
        "warehouse_merge_upsert",
        "quality_brier_decomposition",
        "text_textrank_keywords",
        "dedup_cdc_chunks",
        "events_bootstrap_ci_mean",
        "events_ks_two_sample",
        "events_kleinberg_bursts",
        "join_asof_nearest",
        "graph_brand_kcore",
        "text_token_llr",
        "retrieval_maxsim_colbert",
        "lm_unigram_em_round",
    )) == []


def test_session5_batch6_python_free(catalog_plans):
    """Kneser-Ney bigrams, greedy k-center selection, rank-1 ALS:
    all pure DataFrame/SQL — a python stage in any of them would mean
    the operator fell off the JVM fast path."""
    assert _not_python_free(catalog_plans, (
        "lm_kneser_ney_bigram",
        "selection_kcenter_greedy",
        "reco_als_rank1_round",
        "quality_isotonic_calibration",
        "quality_conformal_interval",
        "agg_spearman_rank_corr",
        "dq_mahalanobis_outliers",
        "er_sorted_neighborhood",
    )) == []


def test_als_join_keys_not_cartesian(catalog_plans):
    """Every ALS stage joins on the (u) or (b) key — a cartesian
    product would mean the rating matrix went pairwise."""
    r = catalog_plans["reco_als_rank1_round"].report
    assert "CartesianProduct" not in r.text


def test_item_item_cf_pair_join_not_cartesian(catalog_plans):
    """The capped self-join must be an equi-join on the user key —
    a cartesian/nested-loop product here is the quadratic blowup the
    per-user cap exists to prevent."""
    r = catalog_plans["reco_item_item_cosine"].report
    assert "CartesianProduct" not in r.text
    assert "BroadcastNestedLoopJoin" not in r.text


def test_q15_no_window_and_python_free(catalog_plans):
    """Round-6 rewrite pin: q15's max-revenue selection must stay a
    scalar aggregate broadcast-joined back — the previous global-window
    max single-partitioned a supplier-sized relation. No Window node of
    any kind belongs in this plan."""
    r = catalog_plans["q15_top_supplier"].report
    assert "Window" not in r.text
    assert r.python_free
    assert r.broadcast_joins >= 1  # the 1-row max joins back broadcast


def test_round7_additions_python_free(catalog_plans):
    """CUSUM, interpolation, t-closeness, Levenshtein ER, MAP/MRR,
    WordPiece, PPR, CvM, Croston, Platt, Mann-Kendall, runs test,
    Kuiper: all pure DataFrame/SQL — a python stage in any of them
    would mean the operator fell off the JVM fast path. (Their
    no-cartesian pin is test_catalog_cartesian_audit: only
    dq_t_closeness's bounded QI-group x priority spine is listed there.
    quality_platt_scaling's calibration-bin build is an eagerly
    materialized checkpoint; the sweep's spy records that stage for the
    window audit, tests/test_global_window_allowlist.py.)"""
    assert _not_python_free(catalog_plans, (
        "events_cusum_changepoint",
        "events_linear_interpolation",
        "dq_t_closeness",
        "er_levenshtein_blocked",
        "reco_map_mrr_eval",
        "lm_wordpiece_greedy",
        "graph_personalized_pagerank",
        "events_cramer_von_mises",
        "lineitem_croston_demand",
        "quality_platt_scaling",
        "events_mann_kendall_trend",
        "events_kuiper_two_sample",
        "events_runs_test",
    )) == []


def test_round8_additions_python_free(catalog_plans):
    """Wasserstein, Page-Hinkley, Gini, EB shrinkage, MMR, UniMax: all
    pure DataFrame/SQL. MMR's bounded selection steps and the
    one-row-frame joins (EB prior, UniMax fill level, W1 totals) are
    planner-chosen tiny joins, not F.broadcast hints; a cartesian
    product is allowed only for rag_mmr_rerank's 12x12 candidate sim
    grid and the one-row total/prior frames (the sanctioned
    bounded-grid class)."""
    assert _not_python_free(catalog_plans, (
        "events_wasserstein_distance",
        "events_page_hinkley_drift",
        "text_gini_token_concentration",
        "mlstats_eb_beta_shrinkage",
        "rag_mmr_rerank",
        "mixture_unimax_budget",
        "feature_target_encode_oof",
        "events_ipw_ate",
        "events_qini_uplift_curve",
        "events_did_estimator",
        "embedding_centroid_drift",
        "events_markov_entropy_rate",
        "text_burrows_delta",
        "lineitem_newsvendor_stock",
        "text_ql_dirichlet_ranking",
        "lineitem_eoq_reorder_point",
        "text_readability_flesch",
        "lineitem_abc_xyz_matrix",
    )) == []


def test_round9_additions_python_free(catalog_plans):
    """All 30 round-9 operators are pure DataFrame/SQL: the causal/
    risk/timeseries tails run on calendar- or dimension-bounded
    relations; the corpus-pass ops (Spiegelhalter, Mahalanobis,
    fairness, hashing audit, Weibull, elasticity, burstiness) reduce
    in one keyed aggregation. Bounded cartesians (Pettitt's days x
    days rank grid, VaR's lexicographic rank join, the Ljung-Box lag
    grid, tau-b's cell pairs) are the sanctioned bounded-grid class."""
    round9_new = [
        "lineitem_sbc_demand_classes", "events_gumbel_block_maxima",
        "feature_woe_iv", "sketch_hll_portable", "quality_auc_delong_ci",
        "events_ljung_box_acf", "events_pettitt_changepoint",
        "events_var_cvar_daily", "orders_weibull_interpurchase",
        "events_interrupted_time_series", "clustering_davies_bouldin",
        "quality_spiegelhalter_z", "events_effect_sizes",
        "events_slo_burn_rate", "embedding_mahalanobis_outliers",
        "events_erlang_staffing", "events_spectral_entropy",
        "orders_bass_diffusion", "text_yule_k_herdan",
        "feature_hashing_collisions", "quality_fairness_by_source",
        "lineitem_price_elasticity", "sample_neyman_allocation",
        "events_burstiness_memory", "events_switchback_lift",
        "events_forecast_mase_ladder", "clustering_label_purity",
        "events_seasonal_strength", "quality_raters_kendall_tau",
        "dq_tukey_fences",
    ]

    assert len(round9_new) == 30
    assert _not_python_free(catalog_plans, round9_new) == []


def test_round10_additions_python_free(catalog_plans):
    """All 17 round-10 operators are pure DataFrame/SQL: the stats
    tails (Welch/JB/AD/DW/Hurst/PACF/theta/Poisson) run on calendar-
    bounded daily relations; the eval batteries (MCC, log-loss, KS
    separation, gains) on bounded snapped-score histograms; ARI/
    silhouette reuse the Lloyd argmin subtree; Slope One's deviation
    grid is brand x brand."""
    round10_new = [
        "events_welch_ttest", "events_jarque_bera",
        "events_anderson_darling", "events_durbin_watson",
        "events_hurst_rescaled_range", "events_pacf_durbin_levinson",
        "quality_mcc_confusion", "quality_log_loss",
        "clustering_adjusted_rand", "clustering_silhouette_simplified",
        "corpus_source_hellinger_tv", "reco_slope_one_eval",
        "quality_ks_separation", "quality_cumulative_gains",
        "events_poisson_dispersion", "orders_repeat_purchase_curve",
        "events_theta_forecast",
    ]

    assert len(round10_new) == 17
    assert _not_python_free(catalog_plans, round10_new) == []


def test_round11_additions_python_free(catalog_plans):
    """The second multimodal family is pure DataFrame/SQL: content
    features are deterministic stand-ins computed JVM-side (no codec
    runs); scene/VAD windows are
    keyed by clip and the shard-packing window by (modality,
    id-bucket), never corpus-global."""
    from tests.test_registry_order import ROUND11_NEW

    assert len(ROUND11_NEW) == 8
    assert _not_python_free(catalog_plans, ROUND11_NEW) == []


def test_catalog_python_boundary_audit(catalog_plans):
    """Catalog-wide mechanical gate (r12): EVERY registered query
    compiles python-free except the two documented Arrow exemptions,
    each of which is exactly ONE python boundary.

    The per-round `*_python_free` tests above restate this gate for
    their birth cohorts; this audit also covers the queries that
    predate the convention and any future edit that slips a python
    stage into an old query.
    """
    exempt = {"join_asof_arrow_cogroup", "udtf_long_words"}
    offenders = {
        name: p.report.python_evals
        for name, p in catalog_plans.items()
        if p.report.python_evals != (1 if name in exempt else 0)
    }
    assert offenders == {}


# Queries whose compiled plan may contain a CartesianProduct: every
# entry is the sanctioned bounded-grid class — BOTH sides are
# vocabulary/calendar/bin-bounded relations (never corpus-scaled), so
# the product is a fixed-size grid at any data scale.
CARTESIAN_ALLOWED = {
    "clustering_davies_bouldin",        # k x k cluster-pair grid
    "clustering_silhouette_simplified",  # k x k cluster-pair grid
    "dq_t_closeness",                   # QI groups x 5 priorities
    "events_ljung_box_acf",             # lag grid 1..7 x day-bounded ACF
    "events_pettitt_changepoint",       # day x day rank grid (calendar)
    "orders_logrank_survival_test",     # bounded duration grid x cohort
    "quality_isotonic_calibration",     # 10x10 decile PAV minimax grid
    "quality_raters_kendall_tau",       # decile x verdict tie grid
}


def test_catalog_cartesian_audit(catalog_plans):
    """Catalog-wide mechanical gate (r12): no registered query may
    compile to a CartesianProduct outside CARTESIAN_ALLOWED, whose
    entries are all bounded grids by construction. A new name in the
    offender set means an unkeyed join over something that scales with
    the corpus — the classic silent 100x-at-scale blowup."""
    offenders = sorted(
        name
        for name, p in catalog_plans.items()
        if "CartesianProduct" in p.final and name not in CARTESIAN_ALLOWED
    )
    assert offenders == []


# Spark inlines CTEs and views, so a corpus subtree referenced N times
# is scanned N times unless the builder materializes it (CLAUDE.md:
# materialize multiply-referenced expensive subtrees). The bound sits
# well above every plan that reads each corpus subtree once.
MAX_PARQUET_SCANS = 100


def test_catalog_parquet_scan_audit(catalog_plans):
    """Catalog-wide gate: no query's as-built plan, and no stage its
    builder checkpointed, holds more than MAX_PARQUET_SCANS parquet
    scans. An offender re-reads the corpus once per reference to an
    unmaterialized subtree."""
    offenders = {
        name: scans
        for name, p in catalog_plans.items()
        if (scans := max(t.count("Scan parquet") for t in (p.final, *p.checkpoints)))
        > MAX_PARQUET_SCANS
    }
    assert offenders == {}
