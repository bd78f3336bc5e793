"""The benchmark's workloads: the catalog's query sets, the stream's shape,
and the seeded choices (query order, stream input) that `run.py` hands to
the program."""
import random

CORE = ["q1_pricing_summary", "q2_filter_project", "q3_star_revenue",
        "q4_topk_orders", "q5_window_rank", "q6_priority_distinct"]
SCALAR = ["q7_string_funcs", "q8_datetime_funcs", "q9_math_funcs", "q10_case_bucket",
          "q11_dim_lookup", "q93_array_funcs", "q106_date_arith", "q107_null_funcs",
          "q113_struct_funcs"]
SETOPS = ["q12_union_all", "q13_except", "q14_semi_join", "q15_anti_join",
          "q16_left_join_agg", "q52_intersect", "q53_full_outer", "q55_range_join",
          "q267_range_native"]
SILVER = ["q17_merge_upsert", "q18_dq_quarantine", "q19_dq_summary", "q20_mask_pii"]
GOLD = ["q21_merchant_risk", "q22_customer_features", "q23_hourly_stats",
        "q24_sessionize", "q25_running_window", "q114_fraud_scoring"]
ANALYTICS = [
    "q40_global_agg", "q41_having", "q42_rollup", "q43_pivot", "q44_regex_extract",
    "q45_json_extract", "q46_sql_api", "q47_percentiles", "q48_collect_list",
    "q49_asof_join", "q58_unpivot", "q61_cube", "q62_correlated_subquery",
    "q74_window_suite", "q75_regional_revenue", "q77_sql_native_funcs", "q78_topk_agg",
    "q94_time_range_window", "q95_cohort_retention", "q96_zscore_normalize",
    "q103_global_rank", "q104_exists_chain", "q109_sliding_window", "q110_from_json",
    "q115_approx_percentiles", "q141_robust_zscore", "q144_attribution", "q151_ewma",
    "q153_temporal_split", "q154_session_transitions", "q155_trend_slope",
    "q156_day_over_day", "q159_conversion_latency", "q162_equidepth_hist",
    "q165_asof_forward", "q166_session_concurrency", "q169_counting_percentiles",
    "q175_kaplan_meier", "q176_revenue_concentration", "q177_asof_nearest",
    "q181_quantile_normalize", "q182_calibration_curve", "q183_seasonal_dow",
    "q184_cusum", "q185_interval_overlap", "q186_theil_sen", "q187_trimmed_mean",
    "q188_path_trigrams", "q192_skyline", "q195_running_revenue",
    "q199_retention_cohorts", "q200_funnel", "q202_mann_whitney", "q203_spearman",
    "q204_autocorrelation", "q208_asof_native", "q210_fano_factor",
    "q211_mutual_information", "q212_asof_native_forward", "q213_low_watermark",
    "q215_gaps_islands", "q216_cross_correlation", "q218_m4_downsample",
    "q219_interval_merge", "q221_wilcoxon", "q222_mase", "q223_kendall_tau",
    "q224_diff_in_diff", "q225_cuped", "q226_jackknife", "q228_nelson_aalen",
    "q230_cohort_ltv", "q231_stickiness", "q232_mde", "q234_odds_ratio",
    "q236_asof_composite", "q237_welch_t", "q240_segment_ols",
    "q242_markov_stationary", "q243_theil_index", "q245_sprt",
    "q246_retention_decay", "q247_basket_entropy", "q268_sql_argmax"]
HEAVY = [
    # graph: iterative, many jobs per query
    "q130_pagerank", "q137_triangle_census", "q138_label_propagation", "q179_kcore",
    "q198_bfs_reach", "q207_personalized_pagerank", "q241_hits_authorities",
    "q254_adamic_adar",
    # dedup / similarity
    "q30_jaccard_pairs", "q39_simhash_neardup", "q63_dedup_clusters",
    "q67_canonical_docs", "q82_fuzzy_pairs", "q102_incremental_neardup",
    "q108_hybrid_dedup", "q112_entity_resolution", "q116_fuzzy_decontam",
    "q167_containment_pairs",
    # approximate nearest neighbours
    "q57_embed_neardup", "q120_ivfpq_topk", "q123_ivfpq_residual_refine",
    "q125_ann_retrain_promote", "q196_hard_negatives_ann",
    # compute-bound analytics
    "q193_item_similarity", "q201_association_rules"]

RELATIONAL = CORE + SCALAR + SETOPS + SILVER + GOLD + ANALYTICS

# The timed catalog: a subset of each tier that keeps every family. One cold
# pass of both full tiers (118 + 25 queries) takes about 3 minutes on 4
# cores; a benchmark run has about 40 s, two timed passes of about 8 s.
# Relational: three of the core six and one cheap query (0.3-0.6 s at
# sf0.01) of each other family; q1 and q3 take 1.3-1.5 s.
RELATIONAL_TIMED = [
    "q2_filter_project", "q4_topk_orders", "q5_window_rank", "q11_dim_lookup",
    "q13_except", "q18_dq_quarantine", "q24_sessionize", "q45_json_extract"]
# q198 stands for the job-count-bound graph tier (27 jobs while building,
# 7 barriers pinned): q179 (111 jobs) varied 9-15 s between runs of the same
# input; q201 for the compute-bound tier (one barrier), the cheapest of it
HEAVY_TIMED = ["q198_bfs_reach", "q201_association_rules"]

WORKLOADS = ["catalog", "medallion_stream"]

# catalog tables: fixed data (the seed only permutes the order), fixed scale.
# sf0.01, not graft.Bench's sf0.1: at sf0.1 a pass of the timed queries took
# 33-47 s on 4 cores instead of 14-20 s
CATALOG_SF = 0.01
CATALOG_DATA_SEED = 42

# medallion stream: timed batches per pass and raw rows per batch; before
# them, an untimed warm-up cycle of a small batch runs into a throwaway
# directory. A second warm-up cycle (the merge path) took as long as a warm
# timed batch, so the first merge of the timed pass is not cold either.
STREAM_BATCHES = 4
STREAM_ROWS = 10000
STREAM_WARMUP = 1
STREAM_WARMUP_ROWS = 200


def catalog_queries(full=False):
    """The catalog's query set: the timed subset, or every query of both tiers."""
    return RELATIONAL + HEAVY if full else RELATIONAL_TIMED + HEAVY_TIMED


def family(name):
    return "heavy" if name in HEAVY else "relational"


def query_order(seed, full=False):
    """The catalog's queries in the order seed `seed` runs them."""
    names = catalog_queries(full)
    random.Random(seed).shuffle(names)
    return names
