"""Dumps the physical plan of each headline query into PLANS.md with a
one-line quality summary (pushed filters, read schema, join strategies,
exchange count) — the `.explain("formatted")` audit as a checked-in
artifact. Regenerate: python tools/plan_audit.py"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

AUDIT = [
    "q1_pricing_summary",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "dedup_minhash_lsh",
    "dedup_simhash_pairs",
    "embedding_neardup_cosine",
    "ann_ivf_topk",
    "doc_decontaminate",
    "events_asof_orders",
    "events_activity_window",
    "kg_pagerank",
    "kg_two_hop_paths",
    "kg_domain_stats",
    "doc_pack_sequences",
    "doc_repetition_signals",
    "q2_min_cost_supplier",
    "doc_quality_model",
    "dedup_minhash_incremental",
    "events_trending_topk",
    "kg_triangle_counts",
    "doc_dup_ngram_spans",
    "doc_pii_scan",
    "corpus_curation_funnel",
    "q8_market_share",
    "q13_customer_distribution",
    "q21_waiting_suppliers",
    "kg_triangle_counts",
    "customer_upsert_stats",
    "ann_kmeans_train",
    "q9_product_profit",
    "kg_clustering_coefficient",
    "events_purchase_anomalies",
    "events_funnel",
    "events_stream_dedup",
    "doc_dsir_weights",
    "table_time_travel",
    "sql_shared_grouping_sets",
    "sql_shared_window",
    "media_png_stats",
    "dedup_chunks",
    "kg_link_prediction",
    "kg_label_propagation",
    "kg_functional_conflicts",
    "kg_fact_versioning",
    "doc_bm25_search",
    "doc_bpe_apply",
    "kg_sparql_bgp",
    "kg_sparql_optional",
    "warc_roundtrip_stats",
    "kg_scd2_versions",
    "kg_edge_split",
    "kg_negative_samples",
    "dedup_cdc_chunks",
    "doc_crawl_politeness",
    "kg_edge_cut",
    "orders_bloom_semijoin",
    "events_zorder_layout",
    "embedding_semdedup",
    "events_incremental_rollup",
    "events_drift_tv",
    "kg_blocking_quality",
    "doc_hybrid_rrf",
    "kg_facts_asof",
    "kg_reciprocity",
    "kg_sparql_agg",
    "kg_sparql_path_closure",
    "kg_nquads_roundtrip",
    "kg_shacl_validate",
    "kg_sparql_graph",
    "kg_sparql_values_bind",
    "kg_sparql_subquery",
    "kg_rule_closure",
    "fixture_jsonld_reload",
    "kg_turtle_roundtrip",
    "kg_hyperball_nf",
    "kg_transe_epoch",
    "kg_mis",
    "events_sequence_motifs",
    "kg_sssp_weighted",
    "kg_sparql_path_nps",
    "kg_ktruss",
    "parts_skyline",
    "events_exact_median",
    "kg_temporal_reachability",
    "customer_kanonymity",
    "kg_bipartiteness",
    "kg_maximal_matching",
    "embedding_hard_negatives",
    "events_cusum_changepoint",
    "doc_classifier_agreement",
    "table_mor_deletes",
    "table_mor_updates",
    "table_wap_publish",
    "table_changelog",
    "table_schema_evolution",
    "table_incremental_agg",
    "table_mor_merge",
    "table_bloom_lookup",
    "table_partition_evolution",
    "media_gif_stats",
    "kg_sparql_update",
    "kg_sparql_service",
    "ann_sq8_recall",
    "ann_ivf_sq8_recall",
    "doc_chunk_windows",
    "orders_association_rules",
    "orders_dq_report",
    "events_ab_test",
    "events_cuped_adjustment",
    "events_bootstrap_ci",
    "events_kaplan_meier",
    "events_logrank_test",
    "events_ewma_forecast",
    "events_ewma_backtest",
    "events_rfm_segments",
    "events_conversion_latency",
    "events_holt_forecast",
    "events_forecast_tournament",
    "events_seasonality_audit",
    "events_metric_correlation",
    "events_theilsen_trend",
    "doc_readability",
    "parts_abc_analysis",
    "parts_gini_concentration",
    "kg_lake_incremental",
    "kg_incremental_recrawl",
]


def summarize(plan: str) -> list[str]:
    out = []
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    if any(p.strip() for p in pushed):
        out.append(f"pushed filters: {sum(bool(p.strip()) for p in pushed)} scan(s)")
    for kind in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
                 "BroadcastNestedLoopJoin", "CartesianProduct"):
        n = plan.count(kind)
        if n:
            out.append(f"{kind} x{n}")
    out.append(f"exchanges: {plan.count('Exchange')} (broadcast {plan.count('BroadcastExchange')})")
    return out


def main() -> None:
    from csv_to_jsonld_processor_spark.session import get_spark

    import __spark_entry__ as entry

    spark = get_spark("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry.queries()
    sf = "/root/testdata/sf0.001"
    lines = [
        "# PLANS — physical-plan audit of headline queries",
        "",
        "Regenerated by `python tools/plan_audit.py` at sf0.001 (plan shape",
        "is scale-invariant; AQE may further coalesce at runtime). The",
        "summaries are the properties the plan-quality pytest suite",
        "(tests/test_plan_quality.py) locks in.",
        "",
    ]
    for name in AUDIT:
        if name not in qs:
            continue
        df = qs[name](spark, sf)
        plan = df._jdf.queryExecution().executedPlan().toString()
        lines.append(f"## {name}")
        lines.append("")
        for s in summarize(plan):
            lines.append(f"- {s}")
        lines.append("")
        # first 40 lines of the plan tree, trimmed
        body = "\n".join(plan.splitlines()[:40])
        lines.append("```")
        lines.append(body)
        lines.append("```")
        lines.append("")
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(lines))
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
