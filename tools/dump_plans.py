#!/usr/bin/env python
"""Dump formatted physical plans.

    python tools/dump_plans.py [sf_dir]
        the headline queries into PLANS.md — the explain-plan audit
        artifact (run at sf0.1);
    python tools/dump_plans.py [sf_dir] --out DIR --tag TAG query [...]
        one ``DIR/<query>_<TAG>.txt`` per named query — run once with
        ``--tag before`` on the parent tree and once with ``--tag after``
        on the change to diff a change's plans.

Each plan is headed by the query's Spark job count, from the status tracker
with one job group per query: the jobs its function runs while building the
DataFrame, plus the jobs of running that DataFrame once. In this fresh
process the count includes one schema inference per table a query is the
first to read (``registry.load_table``). A query that runs its loop eagerly
and returns a checkpoint shows only a scan in its plan, so for it the count
is what a before/after diff can compare.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from autonomus_datapipeline_spark.session import get_spark  # noqa: E402
from autonomus_datapipeline_spark.telemetry import spark_jobs  # noqa: E402
from autonomus_datapipeline_spark.workloads import QUERY_REGISTRY  # noqa: E402

HEADLINE = [
    "q1_pricing_summary",
    "market_segment_revenue",
    "topk_users_per_hour",
    "asof_join_last_order",
    "minhash_lsh_pairs",
    "embedding_neardup_pairs",
    "range_join_value_bands",
    "local_supplier_volume",
    "trade_volume_pairs",
    "contamination_ngram_overlap",
    "dup_span_strip",
    "simhash_hamming_dedup_first",
    "sql_text_revenue",
    "incremental_agg_merge",
    # round-5 additions
    "dedup_connected_components",
    "simhash_hamming_pairs",
    "bpe_merge_candidates",
    "domain_cap_sample",
    "embedding_gram_block",
    "funnel_conversion",
    "neardup_triangle_count",
    "minhash_jaccard_error",
    "embedding_dim_clip_report",
    # round-5 TPC-H widening + collocations
    "q3_shipping_priority",
    "q8_market_share",
    "q15_top_supplier",
    "q17_small_quantity_revenue",
    "q19_disjunctive_revenue",
    "bigram_collocations",
    "event_transition_matrix",
    "ngram_diversity_report",
    # round-6: distributed prefix-sum family + partsupp TPC-H + ANN reshape
    "order_value_decile_calibration",
    "rfm_segmentation",
    "kendall_tau_b_qty_price",
    "cumulative_share_pareto80",
    "sorted_neighborhood_pairs",
    "vocab_zipf_stats",
    "daily_revenue_peaks",
    "robust_outlier_mad",
    "ann_lsh_topk",
    "multimodal_payload_neardup",
    "q2_min_cost_supplier",
    "q9_product_type_profit",
    "q11_important_stock",
    "q16_supplier_part_counts",
    "q20_excess_stock_suppliers",
    # round-7: cluster-bucketed semantic dedup + importance selection
    "semdedup_cell_prune",
    "dsir_importance_select",
    # round-5 analytics/search batch
    "pareto_frontier_orders",
    "pagerank_copurchase",
    "wau_mau_rolling_ratio",
    "bm25_doc_ranking",
    "ngram_containment_pairs",
    "knn_label_classifier",
    "market_basket_lift",
    "interval_overlap_count",
    "kmeans_2iter_clusters",
    # round-5 stats/sketch/graph + diagnostics batches
    "ks_two_sample_order_value",
    "countmin_heavy_hitters",
    "label_propagation_communities",
    "kcore_peeling_summary",
    "bigram_lm_source_scores",
    "inverted_index_postings",
    "market_basket_triples",
    "purchase_attribution_last_touch",
    "bloom_filter_fpr_audit",
    "hits_copurchase_2iter",
    "grid_epsilon_neighbors",
    # round-5 waves 7-12
    "snapshot_diff_report",
    "dbscan_grid_clusters",
    "twap_event_value",
    "sla_latency_quantiles",
    "bfs_hops_from_hub",
    "ols_price_quantity_fit",
    # round-5 waves 13-18
    "purchase_attribution_linear",
    "winnowing_match_pairs",
    "burrows_delta_stylometry",
    "lpa_modularity_score",
    "degree_assortativity",
    "content_defined_chunks",
    # round-5 waves 19-27
    "session_top_paths",
    "key_skew_gini",
    "spearman_rho_qty_price",
    "jackknife_mean_variance",
    # round-8: minhash gate mirror, integer-exact selection ops
    "minhash_gate_admission",
    "pps_systematic_sample",
    "token_budget_select",
    # round-10: the corpus-curation flagship chain
    "curation_pipeline_funnel",
    # round-10 second wave: model fitting, scalable inference, layout
    "naive_bayes_lang_classifier",
    "decision_stump_split",
    "logistic_ipw_ate",
    "poisson_bootstrap_ci",
    "bh_fdr_segment_tests",
    "seq_ab_spending_monitor",
    "kaplan_meier_second_order",
    "zorder_layout_audit",
    "char_entropy_buckets",
    "brown_double_smoothing_forecast",
    "weighted_reservoir_sample",
    # round-11: as-of joins, JL sketch, portable sketches, link prediction
    "asof_view_purchase_attribution",
    "asof_next_error_latency",
    "jl_projection_distortion",
    "hll_portable_cardinality",
    "kmv_set_intersection",
    "ams_f2_sketch",
    "neyman_allocation_plan",
    "adamic_adar_link_prediction",
    # round-12: latent-factor recommendation
    "als_rank2_implicit",
]


def _plan(spark, df) -> str:
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def _dump(spark, name: str, sf_dir: str) -> str:
    """The query's job-count line followed by its formatted plan."""
    spark.catalog.clearCache()
    df, built = spark_jobs(spark, lambda: QUERY_REGISTRY[name].fn(spark, sf_dir))
    plan = _plan(spark, df)
    _, ran = spark_jobs(
        spark, lambda: df.write.format("noop").mode("overwrite").save()
    )
    return (
        f"Spark jobs: {built + ran} ({built} building the DataFrame,"
        f" {ran} running it)\n\n{plan}"
    )


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.1")
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--out", help="directory for <query>_<tag>.txt files")
    ap.add_argument("--tag", default="after")
    args = ap.parse_intermixed_args()
    if args.queries and not args.out:
        ap.error("named queries need --out")
    spark = get_spark("plans")
    spark.sparkContext.setLogLevel("ERROR")
    if args.out:
        os.makedirs(args.out, exist_ok=True)
        for name in args.queries:
            plan = _dump(spark, name, args.sf_dir)
            path = os.path.join(args.out, f"{name}_{args.tag}.txt")
            with open(path, "w") as fh:
                fh.write(plan)
            print(f"wrote {path} ({len(plan)} chars)", flush=True)
        return
    out = [
        "# PLANS — formatted physical plans of headline queries",
        "",
        f"Generated by tools/dump_plans.py against {args.sf_dir}. Regenerate after",
        "any operator change; tests/test_plans.py guards the key properties",
        "(pushdown, broadcast, no cartesian products).",
        "",
    ]
    for name in HEADLINE:
        plan = _dump(spark, name, args.sf_dir)
        out += [f"## {name}", "", "```", plan.rstrip(), "```", ""]
    with open("PLANS.md", "w") as fh:
        fh.write("\n".join(out))
    print(f"wrote PLANS.md ({len(HEADLINE)} plans)")


if __name__ == "__main__":
    main()
