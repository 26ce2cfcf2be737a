"""No unlisted single-partition WindowExec anywhere in the catalog.

A Window node fed by `Exchange SinglePartition` serializes its entire
input through one task — the classic silent scale-killer (fine at
sf0.1, dead at 100 TB). The repo invariant allows global windows ONLY
over provably bounded relations:

- constant-k top-k outputs (`ORDER BY ... LIMIT k` feeding a rank);
- value HISTOGRAMS (`GROUP BY value` over a snapped/integer domain —
  cardinality bounded by the value grid, not the corpus);
- fixed-size seed/vocab relations (rank-capped, e.g. `rk <= 40`).

Every allowlisted query below was audited by hand and falls in one of
those classes — the justification is the comment. A new query that
plans a single-partition window without being added here (with a
bounded-input justification) fails this test.

The plans come from the session's one catalog sweep (`catalog_plans`
in tests/conftest.py: every query built once at sf0.01). Queries that
eagerly materialize (localCheckpoint) at build time hide any window
inside the materialized stage from the returned plan; the sweep's
localCheckpoint spy records each checkpointed stage's plan, and the
same detector runs on those (VERDICT r6 task 4).
"""

from __future__ import annotations

from automated_data_pipeline_python_spark.plans import has_single_partition_window

# query -> bounded-input justification (audited 2026-08, round 6)
ALLOWED = {
    "agg_spearman_rank_corr": "rank CDF over value histograms (quantity/discount/tax domains)",
    "doc_unigram_surprisal": "rank over token-vocab relation (Zipf-bounded, rank-capped)",
    "er_fellegi_sunter": "u-estimate totals over per-field value histograms (brand/size/type/fword domains)",
    "events_bh_fdr_screen": "BH rank over 24 hour-of-day test rows",
    "events_cem_matching": "CDFs over n_events/n_days value histograms (bounded domains)",
    "events_periodogram_periods": "day-index window over calendar-bounded daily relation",
    "events_ljung_box_acf": "day-index window over calendar-bounded daily relation (same stage class as periodogram)",
    "events_spectral_entropy": "day-index window over calendar-bounded daily relation (shares the periodogram head verbatim)",
    "events_ks_two_sample": "eCDF over value histogram (integer cents domain)",
    "events_wasserstein_distance": "eCDF + segment width over value histogram (integer cents domain — same stage class as KS)",
    "text_gini_token_concentration": "cumulative tied-blocks over the distinct-count histogram (Zipf-bounded grid, never per-token ranks)",
    "events_cramer_von_mises": "eCDF over value histogram (integer cents domain — same stage class as KS)",
    "events_kuiper_two_sample": "eCDF over value histogram (integer cents domain — same stage class as KS)",
    "events_kleinberg_bursts": "day-index window over calendar-bounded daily relation (was hidden behind the recursive form's checkpoint)",
    "events_anderson_darling": "rank window over calendar-bounded daily relation (sorted z-scores)",
    "events_theta_forecast": "day-index window over calendar-bounded daily relation (train/test split)",
    "events_durbin_watson": "lag window over calendar-bounded daily residual relation",
    "events_hurst_rescaled_range": "day-index window over calendar-bounded daily relation (block indexing)",
    "events_pacf_durbin_levinson": "day-index window over calendar-bounded daily relation (same stage class as events_ljung_box_acf)",
    "events_kruskal_wallis_h": "rank-sum read off value histogram (cents grid), never per-row ranks",
    "events_qini_uplift_curve": "decile CDF over the distinct activity-score histogram + 10-row cumulative",
    "events_mann_whitney_u": "rank-sum read off value histogram, never per-row ranks",
    "events_sprt_ab_trajectory": "cumulative LLR over day-granularity trajectory",
    "events_haar_wavelet_energy": "day-index window over calendar-bounded daily relation",
    "events_stl_decomposition": "7-day MA window over calendar-bounded daily relation",
    "events_seasonal_strength": "7-day MA window over calendar-bounded daily relation (wraps the STL query verbatim)",
    "feature_quantile_normalize": "CDF over distinct-value histogram (snapped grid)",
    "feature_woe_iv": "CDF over distinct-activity histogram + IV total over the 5-bucket relation",
    "quality_auc_delong_ci": "placement moments off snapped-score histogram (same stage class as quality_auc_rank)",
    "lineitem_abc_classification": "cumulative revenue share over brand-level aggregate (bounded brand domain)",
    "lineitem_abc_xyz_matrix": "cumulative revenue share over brand-level aggregate (bounded brand domain — same stage class as abc_classification)",
    "lm_negative_sampling_table": "cumulative boundaries over top-40 rank-capped vocab",
    "mixture_unimax_budget": "water-filling prefix over the bounded source relation (~20 rows)",
    "orders_interpurchase_survival": "KM curve over day-gap histogram (gap domain)",
    "orders_nelson_aalen_hazard": "cumulative hazard over day-gap histogram (gap domain)",
    "orders_pareto_concentration": "cumulative share over percentile-bucket relation (100 buckets)",
    "quality_auc_rank": "rank-sum AUC off snapped-score histogram",
    "quality_calibration_bins": "CDF over distinct-score histogram (snapped grid)",
    "quality_raters_kendall_tau": "CDF over distinct-score histogram (reuses the calibration decile idiom verbatim)",
    "quality_pr_auc": "PR-curve steps off snapped-score histogram (bounded grid)",
    "quality_ks_separation": "CDF gap off snapped-score histogram (bounded grid — same stage class as quality_pr_auc)",
    "quality_cumulative_gains": "descending-score CDF + 10-row decile cumulative (snapped-score histogram)",
    "quality_conformal_interval": "quantile read off residual histogram (bounded residual domain)",
    "quality_ece_from_bins": "rollup of the decile-bin chain (snapped-score histogram CDF)",
    "sketch_ams_f2_moment": "median rank over the 16 estimator rows (constant k)",
    "sketch_histogram_quantiles": "CDF over fixed-width bin histogram",
    "vocab_coverage_oov_curve": "cumulative coverage over rank-capped vocab",
    "warehouse_compaction_plan": "window over single-day partition relation (bounded by audit day)",
    "warehouse_zone_map_skipping": "global share over file-zone aggregate (file-count relation)",
}


def test_no_unlisted_single_partition_windows(catalog_plans):
    offenders = sorted(
        name
        for name, p in catalog_plans.items()
        if has_single_partition_window(p.final) and name not in ALLOWED
    )
    assert offenders == [], (
        "single-partition WindowExec without a bounded-input entry in "
        f"ALLOWED: {offenders}"
    )


# query -> bounded-input justification for single-partition windows that
# execute INSIDE an eagerly-materialized (localCheckpoint) stage and so
# never appear in the returned plan (audited round 7).
CHECKPOINT_ALLOWED = {
    "er_em_mu_round": (
        "agreement-weight totals over per-field value histograms "
        "(brand/size/type/fword domains)"
    ),
    "quality_isotonic_calibration": (
        "decile-bin build — snapped-score histogram CDF (the same "
        "bounded stage quality_calibration_bins allowlists)"
    ),
    "quality_platt_scaling": (
        "decile-bin build — snapped-score histogram CDF (identical "
        "stage to quality_isotonic_calibration)"
    ),
    "text_heaps_vocab_growth": (
        "inter-bucket offsets over the constant-4096 bucket aggregate "
        "(two-level prefix sum; per-doc cumsum runs partitioned)"
    ),
}


def _checkpoints_a_global_window(plan) -> bool:
    return any(has_single_partition_window(t) for t in plan.checkpoints)


def test_no_unlisted_windows_inside_checkpointed_stages(catalog_plans):
    """localCheckpoint(eager=True) during build hides the materialized
    stage from the returned plan — run the same single-partition-window
    detector on every checkpointed stage the sweep recorded."""
    offenders = sorted(
        name
        for name, p in catalog_plans.items()
        if name not in CHECKPOINT_ALLOWED and _checkpoints_a_global_window(p)
    )
    assert offenders == [], (
        "single-partition WindowExec inside a checkpointed stage without "
        f"a bounded-input entry in CHECKPOINT_ALLOWED: {offenders}"
    )


def test_checkpoint_allowlist_has_no_stale_entries(catalog_plans):
    """Every CHECKPOINT_ALLOWED entry still checkpoints a stage with a
    global window — keeps the allowlist honest across redesigns."""
    stale = sorted(
        name
        for name in CHECKPOINT_ALLOWED
        if name not in catalog_plans
        or not _checkpoints_a_global_window(catalog_plans[name])
    )
    assert stale == [], (
        f"CHECKPOINT_ALLOWED entries with no checkpointed global window: {stale}"
    )


def test_allowlist_has_no_stale_entries(catalog_plans):
    """Every ALLOWED entry still plans a global window — keeps the
    allowlist honest when a query is redesigned away from one."""
    stale = sorted(
        name
        for name in ALLOWED
        if name not in catalog_plans
        or not has_single_partition_window(catalog_plans[name].final)
    )
    assert stale == [], f"ALLOWED entries that no longer global-window: {stale}"
