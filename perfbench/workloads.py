"""The benchmark's workloads: which fixture each reads and which graft
queries (names in graft.SparkEntry.queries) each pass runs.

`expr_agg` and `iter_state` are the workloads listed in BENCHMARK.json.
The `*_full` and `scale_sf1` workloads are the complete query families
they are drawn from; a pass over one takes one to two minutes on a
4-core host, so they are for one-off traced breakdowns, not for the
repeated runs a regression check makes.
"""

# How the two small workloads are drawn from their families: sort the
# family's queries by warm time on the workload's fixture (the recording
# runs in FIRST_NUMBERS.md) and take the k queries at ranks
# floor((i + 1/2) * n / k), i = 0..k-1 -- a systematic sample that keeps
# the family's spread of query costs. k is as large as a run's time
# budget allows.

# expr_agg: k = 6 of the 52 at sf0.01 (ranks 4, 13, 21, 30, 39, 47); one-pass
# aggregation kernels (functions, agg, ops) where per-query fixed cost
# (planning, codegen, small AQE jobs) dominates, and q_xi_corr, one of
# the rank-correlation kernels that carry most of the family's time
EXPR_AGG = [
    "q_sx_kendall", "q_bartlett", "q_gini", "q_chi2_full", "q_levene",
    "q_xi_corr",
]

# iter_state: k = 4 of the 18 family queries that run Spark jobs while
# the DataFrame is built (ranks 2, 6, 11, 15 at sf0.01): solver rounds,
# collects and pagerank iterations as eager driver work. The sample holds
# no query that writes, so q_jsonl_roundtrip, the cheapest of the
# family's four writers (JSONL, ORC, bucketed tables, IVF index), is
# added to measure the write layer.
ITER_STATE = [
    "q_huber_reg", "q_logistic_l1", "q_hc_se", "q_pagerank",
    "q_jsonl_roundtrip",
]

EXPR_AGG_FULL = [
    # MetricQueries
    "q_pass_at_k", "q_bootstrap_ci", "q_kappa", "q_krippendorff",
    "q_calibration", "q_roc_auc", "q_log_loss", "q_reg_metrics",
    "q_confusion_matrix", "q_gini", "q_tpr_fpr", "q_ndcg", "q_ndcg_ties",
    "q_multi_roc_auc", "q_cat_cross_entropy", "q_mad", "q_mean_ad", "q_mase",
    # StatQueries
    "q_ttest", "q_ttest_from_stats", "q_ttest_1samp", "q_f_test", "q_kruskal",
    "q_levene", "q_wilcoxon", "q_mcnemar", "q_welch_anova", "q_chi2",
    "q_chi2_full", "q_weighted_stats", "q_hmean_gmean", "q_winsorized_mean",
    "q_spearman", "q_xi_corr", "q_kendall_tau", "q_sx_kendall",
    "q_sx_kendall_closed", "q_bicor", "q_p_adjust", "q_effect_size",
    "q_mann_whitney", "q_ks_2samp", "q_normal_test",
    # PostHocQueries
    "q_jarque_bera", "q_brunner_munzel", "q_tukey_hsd", "q_friedman",
    "q_cochran_q", "q_bartlett", "q_icc1", "q_grubbs", "q_dunn",
]

ITER_STATE_FULL = [
    # LinRegQueries
    "q_simple_lin_reg", "q_lin_reg", "q_ridge", "q_lin_reg_f32",
    "q_lin_reg_report", "q_rolling_lin_reg", "q_recursive_lin_reg",
    "q_logistic_reg", "q_logistic_grp", "q_glm_grp", "q_logistic_l1",
    # LinearQueries2
    "q_elastic_net", "q_nnls", "q_lr_rcond", "q_glm", "q_rolling_lr2",
    "q_recursive_lr2", "q_hc_se", "q_multi_target", "q_lin_reg_pred",
    # RobustQueries
    "q_huber_reg", "q_bisquare_reg",
    # incremental family, graph, buckets, storage round trips
    "q_incremental_dedup", "q_incremental_simhash", "q_incremental_clusters",
    "q_incremental_ivf", "q_incremental_image", "q_pagerank", "q_ppl_buckets",
    "q_bucket_join", "q_orc_roundtrip", "q_jsonl_roundtrip",
]

SCALE_SF1 = [
    "q_jaccard_dup_pairs", "q_dup_clusters", "q_minhash_dup",
    "q_semantic_dedup", "q_knn_avg", "q_roc_auc", "q_corr_table", "q_dunn",
]

# nominal_pass_s: a warm pass on the reference host (4 cores, 15 GiB);
# run.py turns --seconds into ceil(seconds / nominal_pass_s) warm passes
WORKLOADS = {
    "expr_agg": {"fixture": "sf0.01", "queries": EXPR_AGG,
                 "nominal_pass_s": 3.0},
    "iter_state": {"fixture": "sf0.01", "queries": ITER_STATE,
                   "nominal_pass_s": 3.0},
    "expr_agg_full": {"fixture": "sf0.1", "queries": EXPR_AGG_FULL,
                      "nominal_pass_s": 100.0},
    "iter_state_full": {"fixture": "sf0.1", "queries": ITER_STATE_FULL,
                        "nominal_pass_s": 57.0},
    "scale_sf1": {"fixture": "sf1", "queries": SCALE_SF1,
                  "nominal_pass_s": 50.0},
}

# the fixtures kept under perfbench/fixtures/<name>/, one parquet per table
FIXTURES = ("sf0.01", "sf0.1")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

# row counts graft.MakeScale must produce for sf1 (sf0.1 x 10)
SF1_ROWS = {"lineitem": 6_000_000, "documents": 50_000, "embeddings": 20_000}
