"""Determinism harness (SURVEY.md §5.4): run float-sensitive oracle queries
under different shuffle-partition counts and assert identical canonical
hashes — catches partition-order float bugs before the driver does."""

from __future__ import annotations

import hashlib

import pytest

from tests.conftest import SF_T2

# The queries whose results would drift under partition reordering if the
# §2.0 rules were violated (double sums, window frames, rounding).
SENSITIVE = [
    "agg_pricing_summary",
    "agg_stats",
    "agg_percentile_exact",
    "win_running_sum",
    "win_sliding_avg",
    "llm_sim_pairwise",
    "llm_sim_centroid",
    "llm_text_tfidf",
    "udf_grouped_map",
    "join_star_5way",
    "stream_rollup_multires",
    "llm_embed_quantize",
    "udf_arrow_iter",
    "llm_pack_sequences",
    "agg_regr",
    "agg_moments",
    "tpch_q3_shipping",
    "llm_text_repetition",
    # round 2 additions
    "sort_multikey",       # two-pass global rank (range partitions + offsets)
    "win_ntile",           # closed-form ntile over (rn, total)
    "win_pct_cume",        # closed-form percent_rank/cume_dist/decile
    "llm_text_unigram_lm", # integer accumulation + terminal division
    "agg_weighted_avg",    # decimal cents×qty products
    "win_gaps_islands",    # lag+cumsum islands (integer flags)
    "llm_dedup_passage",   # hash groupBy counts
    # TPC-H completion set (composite_full.py): float-bearing money sums,
    # double-keyed join-back (Q2), scalar-subquery division (Q22)
    "tpch_q2_mincost",     # min-cost double equality join-back + top-100
    "tpch_q9_profit",      # 10^-5-unit profit sums per nation-year
    "tpch_q11_stockvalue", # integral threshold vs broadcast total
    "tpch_q21_waiting",    # per-order distinct-count decorrelation
    "tpch_q22_opportunity",# exact global-avg scalar + anti-join
    # round-2 session additions
    "win_funnel_steps",    # running min-click window + conditional agg
    "join_fuzzy_editdist", # deletion-bucket candidates + dedup + residual
    "join_asof_nearest",   # two directional windows, closed-form pick
    "llm_dedup_shingle",   # spread + explode_outer restructure
    "llm_text_ngram",      # spread + explode_outer restructure
    "win_interpolate",     # lerp doubles (identical expression order)
    "win_ohlc_resample",   # min_by/max_by total-order key
    "win_anomaly_mad",     # two interpolated percentiles per user
    "cdc_incremental_agg", # signed cents deltas + same-key merge
    "llm_eval_split",      # content-md5 routing
    "part_zorder_layout",  # magic-mask morton codes
    # round-3 second-sitting additions
    "llm_dedup_substring", # hashed k-gram flag-join aggregation
    "llm_bpe_train",       # greedy merge chain (memo cleared per config)
    "llm_dedup_semantic",  # kmeans cells + per-cell matrix prune
    "ts_ohlc_resample",    # total-order picks + cents sums
    "ts_gap_fill",         # spine join + carry-forward window
    "ts_anomaly_zscore",   # integer window accumulators -> shared doubles
    "events_funnel",       # stage-chained aggregates + float avg of ints
    "events_topk_paths",   # ordered path strings + top-k tiebreak
    "graph_link_prediction",  # sparse overlap counts, double ranking
    "llm_ann_recall",      # brute/IVF intersection counts
    # round-3 third-sitting additions
    "skyline_pareto",      # two-pass prefix-max frontier
    "mkt_basket_rules",    # integer co-occurrence counts + rounded ratios
    "scd_type2_history",   # per-entity change windows
    "agg_equidepth",       # two-pass global ntile + cents sums
    "llm_text_perplexity", # decimal-quantized NLL accumulation
    "ts_ewma",             # sequential per-entity fold
    "agg_welch_ttest",     # exact long moments -> one double expression
    "graph_shortest_paths",# integer BFS levels
    "ts_rolling_regression", # integer window moments -> closed-form OLS
    "join_grid_knn",       # cell equi-join + (d2, key) total-order pick
    "agg_abc_analysis",    # two-pass prefix sum + integer thresholds
    "agg_corr_matrix",     # exact long moments per pair
    "events_attribution",  # decimal-quantized fractional credits
    "llm_minhash_accuracy",# candidate-pair audit, decimal-quantized ratios
    "llm_dedup_ssjoin",    # prefix-filtered exact join, integer thresholds
    "llm_rag_mrr",         # decimal-quantized DCG terms
    "win_rolling_median",  # sorted-frame pick/interpolate
    "ts_cusum_changepoint",# decimal-scaled prefix statistic
    "events_time_to_convert",  # exact-second latencies + percentile_cont
    # round-3 fourth-sitting additions
    "ts_acf",              # exact decimal lag moments -> guarded division
    "ts_seasonal_decompose",  # decimal-scaled deviation (y*cnt - sum)
    "agg_entropy",         # decimal-quantized nonnegative plogp terms
    "events_pattern_match",  # sort_array journey strings + regexp counts
    "ts_forecast_snaive",  # integer cents errors + quantized MAPE terms
    "ts_anomaly_seasonal", # rounded residuals -> two exact percentiles
    "events_inter_event_time",  # exact-second lag gaps + percentile_cont
    # round-3 fifth-sitting additions
    "agg_chisq_test",      # decimal-quantized per-cell terms
    "agg_ks_test",         # two-pass multi-column prefix sums
    "agg_mannwhitney",     # prefix-sum rank blocks, decimal accumulators
    "ts_theil_sen",        # medians over exact-cents slope ratios
    "ts_holt_linear",      # sequential per-entity struct fold
    "llm_tokenizer_fertility",  # micro-average over exact integer sums
    "sort_natural",        # padded-key two-pass global rank
    "udf_pandas_window",   # bounded-frame pandas UDF, cents re-derivation
    "win_decay_score",     # dyadic 2^-k terms, decimal-quantized sum
    "agg_regr_multi",      # exact decimal moments -> Cramer doubles
    "mm_scene_cut",        # integer frame sums, cross-multiplied threshold
    "agg_survival_km",     # sequential prefix products over bounded grid
    "events_concurrency",  # two-pass global prefix sum over boundary deltas
    "win_drawdown",        # stacked cents windows, exact peak-trough
    "agg_winsorized_mean", # exact percentile bounds + clamped cents sums
    # round-5 additions
    "llm_embed_pca",       # exact-integer split covariance (r5; r6 fused
                           # to ONE raw-moment pass): partials recombine
                           # to the same integer S and sums under any
                           # partitioning; eigh sees one input
    "feat_robust_scale",   # dyadic quartile interpolation over exact cents
    "agg_auc_roc",         # integer scores + prefix-sum rank identity
    "agg_lift_chart",      # two-pass decile cut + array-folded capture
    "dq_psi_drift",        # decimal-quantized ln terms over exact bins
    "llm_span_corruption", # hash-position masks, map-only
    # round-4 additions
    "llm_ngram_novelty",   # first-occurrence join + round-6 ratio
    "ts_yoy_growth",       # cents sums + prior-year equi-join percentage
    "mm_audio_vad",        # integer frame energies + islands windows
    "graph_modularity",    # integer edge/degree counts -> round-6 Q terms
    "join_asof_multi",     # multi-carry window, total-order tiebreaks
    "llm_fingerprint_winnow",  # positional hash windows -> bucket groups
    "llm_knn_classifier",  # round-6 cosine ranking + injective argmax
    "llm_hard_negatives",  # round-6 cosine ranking, two-sided window pick
    "mm_pixel_stats",      # int64 pixel moments -> two final doubles
    "events_user_overlap", # sparse set-overlap counts + round-6 jaccard
    "graph_assortativity", # exact BIGINT edge moments -> one double
    "win_time_weighted_avg",  # decimal value-duration products
    "feat_standard_scale",  # exact long/decimal moments -> one z expression
    "feat_minmax_scale",    # exact cents extrema -> one double division
    "feat_target_encode",   # decimal(38,0)-cleared smoothing ratio
    "agg_bootstrap_ci",     # hash-seeded Poisson weights + percentile_cont
    "feat_quantile_bin",    # two-pass global ntile assignment
    "llm_nb_langid",        # integer micro-nat scores + window argmax
    "graph_clustering_coeff",  # integer triangle/degree counts
    "ts_sax",               # quantized-z PAA + ordered word assembly
    "ts_rsi",               # integer rolling gain/loss sums
    "llm_word_pmi",         # fixed-order count ratio -> ln, round 6
    "llm_curriculum_order", # two-pass global rank over integer difficulty
    "llm_mmr_rerank",       # integer micro-unit greedy trace
    "join_geo_haversine",   # integer micro-degree coords -> round-6 trig
    "llm_oov_rate",         # anti-join counts -> one rounded ratio
    "ts_periodogram",       # frozen trig literals, decimal term sums
    "mkt_item_similarity",  # integer co-counts -> rounded cosine ranking
    "events_bot_score",     # exact micros gap moments -> one CV expression
    "events_markov_stationary",  # decimal-quantized power-iteration terms
    "llm_embed_pq",         # decimal-quantized Lloyd trace, relational
    "llm_bigram_kn",        # exact count marginals -> one KN expression
    "ts_croston",           # sequential per-type demand fold
    "llm_keyword_rake",     # decimal word scores -> phrase sums + ranking
    "graph_hits",           # decimal-quantized half-steps + two-pass rank
    "ts_haar_energy",       # all-integer butterfly, zero float surface
    "llm_bm25_search",      # decimal term scores -> per-doc sums + ranking
    "mkt_basket_triples",   # exact BIGINT triple counts -> one lift double
    "llm_hybrid_rrf",       # decimal-quantized centroid/cosine + RRF fusion
    "mkt_sequential_patterns",  # exact BIGINT sequence counts + one ratio
    "graph_label_propagation",  # plurality counts, (cnt, label) total order
    "llm_containment_join",     # integer overlap threshold + top-1 window
    "ts_holt_winters",          # shared-text IEEE fold, seasonal array
    "ts_bollinger",             # exact integer window moments + IEEE sqrt
    "ts_kalman_filter",         # shared-text gain recurrence fold
    "ts_dtw",                   # all-integer wavefront DP, one ratio
    "llm_watermark_greenlist",  # portable-md5 parity counts + z ratio
    "events_burst_kleinberg",   # ln2-literal Viterbi fold, shared text
    "feat_cyclic_encode",       # frozen trig tables, zero-normalized
    "dq_fd_mine",               # exact group counts + one fraction
    "ts_ordinal_patterns",      # all-integer pattern ids + one share
    "events_forecast_backtest", # exact cents AEs + two round-6 MAEs
    "events_shapley_attribution",  # integer phi*c! lattice, one division
    "ts_matrix_profile",        # all-integer L1 profile, total-order picks
    "dq_simpson_audit",         # decimal moment signs, zero floats
    "ts_mann_kendall",          # exact S + tie-corrected var, one z expr
    "events_nelson_aalen",      # decimal-quantized hazard prefix sums
    "graph_mst_prim",           # all-integer bitmask Prim fold
    "events_cohort_ltv",        # exact cents cumulative + one division
    "events_did_estimator",     # four exact cells, fixed-order readout
    "agg_bayes_shrinkage",      # exact counts, rational posterior means
    "mkt_price_elasticity",     # exact band sums, one arc expression
    "llm_prefix_cache_sim",     # exact prefix-agreement counts + rate
    "agg_power_twoprop",        # frozen z literals, rational rates
    "llm_rouge_l",              # all-integer LCS wavefront + one F1
    "ts_pacf",                  # exact decimal moments + shared DL text
    "ts_runs_test",             # integer runs/signs + one z expression
    "events_cuped",             # exact decimal moments, three readouts
    "feat_quantile_normalize",  # total-order ranks + exact rank means
    "mkt_interval_scheduling",  # all-integer greedy fold, (e,s) order
]


def _canon_hash(df) -> str:
    pdf = df.toPandas()
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    rows = sorted(tuple(map(repr, r)) for r in pdf.itertuples(index=False))
    return hashlib.md5(str(rows).encode()).hexdigest()


def _reset_memos() -> None:
    """Clear cross-call materialization memos so each partitioning config
    really re-executes (the BPE chain memoizes per (app, sf_dir))."""
    from big_data_management_and_analytics_spark.functions import llm_corpus

    llm_corpus._CHAIN_MEMO.clear()


def _spread_width(spark) -> int:
    from big_data_management_and_analytics_spark.sources.io import spread

    return spread(spark.range(1), "id").rdd.getNumPartitions()


@pytest.mark.parametrize("name", SENSITIVE)
def test_shuffle_partition_invariance(spark, registry, name):
    q = registry[name]
    spark.conf.set("spark.sql.shuffle.partitions", "3")
    w3 = _spread_width(spark)
    _reset_memos()
    h3 = _canon_hash(q.fn(spark, SF_T2))
    spark.conf.set("spark.sql.shuffle.partitions", "17")
    w17 = _spread_width(spark)
    _reset_memos()
    h17 = _canon_hash(q.fn(spark, SF_T2))
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    _reset_memos()
    assert h3 == h17, f"{name} result depends on partitioning"
    # spread() is capped at the slot count: the two settings vary its
    # partitioning too whenever the host has more than 3 slots.
    assert w3 != w17 or spark.sparkContext.defaultParallelism <= 3, (w3, w17)


AQE_PROBE = [
    "agg_pricing_summary",   # flagship hash agg
    "tpch_q9_profit",        # multi-join money sums
    "llm_text_perplexity",   # decimal-quantized NLL
    "ts_anomaly_seasonal",   # residual percentiles
    "mm_phash_neardup",      # banded LSH pairs
    # The two-pass scan family branches on a partition-id-tagged relation
    # — exactly the shape the round-3 AQE coalescing hazard corrupted
    # (SCALE.md "AQE vs re-evaluated exchanges"); probe it with AQE off
    # so the checkpoint fix is guarded from both directions.
    "sort_multikey",         # two-pass global row number
    "agg_abc_analysis",      # two-pass prefix sum
    "agg_ks_test",           # multi-column prefix sums
    "agg_auc_roc",           # prefix-sum rank identity
]


@pytest.mark.parametrize("name", AQE_PROBE)
def test_aqe_off_invariance(spark, registry, name):
    """AQE rewrites plans at runtime (coalesced partitions, skew splits,
    join strategy swaps); §2.0 determinism must survive it being OFF
    just as partition-count changes — same canonical hash either way."""
    q = registry[name]
    _reset_memos()
    h_on = _canon_hash(q.fn(spark, SF_T2))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        _reset_memos()
        h_off = _canon_hash(q.fn(spark, SF_T2))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert h_on == h_off, f"{name} result depends on AQE"
