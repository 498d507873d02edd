"""Regenerate PLANS.md: formatted physical plans for headline queries
with the scale-relevant properties called out (pushdown, pruning,
broadcasts, exchange count, codegen coverage).

Usage: python tools/dump_plans.py [sf_dir]   (default sf0.001 — plans
don't depend on data volume, only shapes)
"""

from __future__ import annotations

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

HEADLINERS = [
    "ts_resample_5min",
    "ts_interpolate",
    "ts_asof_last_order",
    "q1_pricing_summary",
    "q5_supplier_volume",
    "q4_late_orders",
    "revenue_rollup",
    "doc_ngram_jaccard_capped",
    "doc_minhash_lsh_pairs",
    "emb_lsh_near_pairs",
    "emb_ivf_topk",
    "q14_promo_revenue_share",
    "ts_outlier_rate",
    "doc_pipeline_clean_dedup",
    "ts_seasonal_deviation",
    # round 2
    "ts_multires_rollup",
    "ts_cross_corr",
    "doc_contamination",
    "doc_hll_shingles",
    "doc_hash_split",
    "emb_kmeans",
    "top_customers_by_revenue",
    "q7_nation_volume",
    "q17_small_quantity_revenue",
    # round 6 continuation
    "doc_segment_dedup",
    "doc_contamination_bloom",
    "emb_pq_codes",
    "emb_pq_topk",
    "emb_ivfpq_topk",
    "ts_seasonal_decompose",
    "ts_seasonal_anomaly",
    "ts_m4_downsample",
    "ts_quantile_sketch",
    "doc_bigram_likelihood",
    "doc_domain_mixture",
    "doc_url_stats",
    # round 6 continuation, part c
    "doc_gopher_rules",
    "doc_chunk_text",
    "emb_semdedup",
    "ts_autocorr",
    "ts_holt",
    "doc_bm25_search",
    "doc_hybrid_search",
    "doc_domain_pagerank",
    "ts_range_join",
    "customer_scd2",
    "ts_weighted_average",
    # round 9
    "mm_image_phash",
    "ts_forecast_eval_hw",
    "doc_dedup_keep_best",
    "doc_dedup_consensus",
    "doc_minhash_calibration",
    "mm_audio_vad",
    "doc_url_dedup",
    "doc_lexicon_filter",
    "doc_perplexity_buckets",
    "emb_bq_topk",
    "doc_dedup_cascade",
    "mm_audio_features",
    "ts_asof_tolerance",
    "emb_doc_coverage",
    "ts_gap_distribution",
    "emb_similarity_histogram",
    "doc_lang_confusion",
    "ts_seasonal_strength",
    "doc_packing_efficiency",
    "doc_jaccard_histogram",
    "ts_downtime_report",
    "orders_rfm_segments",
    # round 7
    "doc_substring_spans",
    "emb_matryoshka_recall",
    "ts_rolling_corr",
    "doc_dsir_weights",
    "lineitem_profile",
    "mm_image_neardup",
    "doc_bm25_ndcg",
    "ts_latest_state",
    "ts_incremental_rollup",
    "emb_pca_power",
    "ts_holt_winters",
    "doc_bm25_multi",
    "doc_quality_deciles",
    "orders_snapshot_diff",
    "doc_crawl_priority",
    "emb_outliers",
    "doc_corpus_overlap_hll",
    "ts_event_trigrams",
    "emb_drift_report",
    "doc_pattern_profile",
    # round 10
    "doc_classifier_score",
    "doc_incremental_dedup",
    "orders_market_basket",
    "emb_recall_curve",
    # round-11 continuation waves
    "doc_lsh_edit_verify",
    "emb_sq_topk",
    "doc_readability",
    "doc_license_detect",
    "doc_curriculum_stages",
    "events_hll_sliding_uniques",
    "doc_skipgram_pmi",
    "ts_ohlc_daily",
    "emb_ivf_topics",
    "doc_minhash_containment",
    "orders_pareto_share",
    "doc_jaccard_edit_calibration",
    "orders_hhi_concentration",
    "emb_kmeans_train",
    "doc_active_uncertainty",
    "doc_entropy_rate",
    "doc_heaps_fit",
    # round 12
    "doc_unigram_lm_train",
    "doc_unigram_lm_encode",
    # round 14
    "doc_tokenizer_roundtrip",
    "emb_ivfpq_refine_topk",
    "emb_pq_distortion",
    "emb_ivfpq_probe_sweep",
    "ts_theil_sen",
    "ts_mann_kendall",
    "events_benford",
]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

    import __spark_entry__ as e
    from meteaudata_spark.session import get_spark

    spark = get_spark("dump-plans")
    spark.sparkContext.setLogLevel("ERROR")
    qs = e.queries()

    lines = [
        "# PLANS — physical plans of the headline queries",
        "",
        "Regenerated by `python tools/dump_plans.py` (do not hand-edit).",
        "Each plan is the FINALIZED AQE plan at sf0.001 (executed via",
        "collect so codegen stages and runtime join choices are real).",
        "The properties table summarizes what the scale rules require:",
        "filters reaching the scan, dimension broadcasts, exchange",
        "counts, and whole-stage-codegen coverage.  NB: the executed",
        "plan string prints reused shuffle stages once per reference,",
        "so exchange/broadcast counts are upper bounds (plan-budget",
        "tests in tests/test_plans.py count the logical plan instead);",
        "WSCG spans are distinct codegen ids — 0 would mean the query",
        "runs interpreted.",
        "",
        "| query | exchanges | broadcast joins | pushed filters | WSCG spans |",
        "|---|---|---|---|---|",
    ]
    details = []
    for name in HEADLINERS:
        df = qs[name](spark, sf_dir)
        # run once so AQE finalizes the plan (codegen stages and the
        # runtime-chosen join strategies only exist post-execution).
        # NB: must execute THIS df's queryExecution — a noop write
        # executes a copy and leaves this plan isFinalPlan=false with
        # zero codegen annotation.
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        n_ex = plan.count("Exchange")
        n_bc = plan.count("BroadcastHashJoin")
        pushed_cols = sorted(
            set(
                re.findall(
                    r"(?:IsNotNull|GreaterThan|LessThan|GreaterThanOrEqual|"
                    r"LessThanOrEqual|EqualTo|In|StringStartsWith)\((\w+)",
                    " ".join(re.findall(r"PushedFilters: \[([^\]]*)\]", plan)),
                )
            )
        )
        # codegen stages appear as "*(n)" operator prefixes
        n_wscg = len(set(re.findall(r"\*\((\d+)\)", plan)))
        lines.append(
            f"| {name} | {n_ex} | {n_bc} | "
            f"{', '.join(pushed_cols) if pushed_cols else '—'} | {n_wscg} |"
        )
        # keep the plan excerpt short: operator lines only, no columns
        ops = [
            ln.strip()
            for ln in plan.splitlines()
            if re.match(r"^[\s+*:-]*(?:\*\s*)?\(?\d*\)?\s*[A-Z]", ln)
            and "Output" not in ln
        ]
        details.append(
            f"## {name}\n\n```\n" + "\n".join(ops[:28]) + "\n```\n"
        )

    with open(os.path.join(ROOT, "PLANS.md"), "w") as fh:
        fh.write("\n".join(lines) + "\n\n" + "\n".join(details))
    print(f"PLANS.md written ({len(HEADLINERS)} queries)")


if __name__ == "__main__":
    main()
