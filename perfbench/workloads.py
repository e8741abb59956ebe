"""The benchmark's workloads, frozen by query name.

`mode` is "exec" (build, plan and run into the noop sink) or "plan" (build
and plan only); `sf` is the scale factor of the generated inputs;
`pass_s` is the nominal length of one warm pass on a 4-core box, which
turns --seconds into a fixed number of timed passes (see run.py).
"""

TPCH = [
    "q1_pricing_summary", "q2_min_cost_ship", "q3_shipping_priority",
    "q4_order_priority", "q5_revenue_by_nation", "q6_forecast_revenue",
    "q7_nation_trade", "q8_market_share", "q9_product_profit", "q10_returned_items",
    "q11_part_value", "q12_priority_lines", "q13_cust_distribution",
    "q14_promo_revenue", "q15_top_supplier", "q16_supplier_cnt",
    "q17_small_qty_revenue", "q18_large_orders", "q19_disjunctive_revenue",
    "q20_part_promotion", "q21_waiting_suppliers", "q22_global_sales",
]

# iterative kernels: one job (or more) per loop round
ITERATIVE = [
    "graph_hits", "graph_ppr_stopwords", "graph_lp_communities", "markov_stationary",
    "wp_greedy_encoding", "wp_vs_bpe_fertility", "ann_knn_components",
    "pipeline_pretrain_e2e",
]

# dedup and ANN queries whose build persists and eagerly fills relations
EAGER_FILL = [
    "dedup_containment", "dedup_threshold_curve", "dedup_jaccard_prefix",
    "dedup_embedding_cosine", "minhash_recall_frontier", "simhash_recall_frontier",
    "wn_fingerprints", "wn_overlap_pairs", "ann_recall_frontier",
    "ann_ivf_recall_frontier",
]

# pipeline_jobs keeps both halves, trimmed to members whose passes and DuckDB
# oracles are cheap enough for several passes and the check to fit one run
# (the oracles of markov_stationary, ann_* and dedup_embedding_cosine take
# 15-30 s each on 4 cores, wp_* and pipeline_pretrain_e2e 6-12 s).
PIPELINE = ["graph_lp_communities", "wn_overlap_pairs", "dedup_jaccard_prefix"]

WORKLOADS = {
    "tpch": {"mode": "exec", "sf": 0.01, "pass_s": 9.0, "queries": TPCH},
    "pipeline_jobs": {"mode": "exec", "sf": 0.001, "pass_s": 5.0, "queries": PIPELINE},
    "plan_only": {"mode": "plan", "sf": 0.001, "pass_s": 4.0, "queries": PIPELINE},
}
