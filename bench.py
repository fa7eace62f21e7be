#!/usr/bin/env python
"""Benchmark runner.

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

The driver records only the LAST 2000 characters of bench output, so
the printed line is kept compact: per-query keys are the bare "qNN"
prefix, times are 2-decimal min-of-N, the summary fields come last,
and the per-run raw timings (which tripled the line and pushed the
first third of the per-query dict out of the official BENCH_r08
artifact) go to ``BENCH_detail_local.json`` instead of stdout.

Each query is executed to completion with a count-collapsing action
(``df.write.format("noop")`` keeps full execution without driver
materialization cost).
"""

from __future__ import annotations

import json
import os
import sys
import time

from hospital_data_engineering_pipeline_end_to_end_project_spark.plans import registry
from hospital_data_engineering_pipeline_end_to_end_project_spark.session import get_spark

HEADLINE = [
    "q01_pricing_summary",
    "q03_top_revenue_orders",
    "q04_star_join",
    "q05_dedupe_exact",
    "q06_latest_event_per_user",
    "q08_date_dim",
    "q09_word_count",
    "q11_monthly_revenue",
    "q13_running_user_totals",
    "q19_brand_nation_sales",
    "q10_scd2_orders",
    "q20_exact_dup_groups",
    "q25_minhash_bands",
    "q26_jaccard_pairs",
    "q27_simhash",
    "q28_cosine_topk",
    "q30_multimodal_features",
    "q33_cube",
    "q35_asof_join",
    "q36_range_join",
    "q37_sessionize",
    "q38_distinct_counts",
    # round-2 additions
    "q61_dup_clusters",
    "q62_skew_salted_counts",
    "q63_stratified_sample",
    "q64_group_percentiles",
    "q65_corr_stats",
    "q66_unpivot_part",
    "q67_grouping_sets",
    "q68_orc_roundtrip",
    "q69_session_windows",
    # q70 is q61's pipeline plus an anti-join — measuring both would
    # double-count the minhash stage, so only q61 is headline
    "q71_embedding_centroids",
    "q72_window_suite",
    "q73_gap_fill_months",
    "q74_fuzzy_name_pairs",
    "q75_rolling_revenue",
    "q76_price_histogram",
    "q77_revenue_share",
    "q78_dynamic_pivot",
    # round-7 additions: third dedup family, lexical retrieval,
    # embedding-space dedup
    "q86_simhash_near_dups",
    "q87_bm25_topk",
    "q88_semantic_dedup",
    "q89_quality_filter",
    "q91_event_funnel",
    "q92_retention_cohorts",
    # round-8 additions: the write-path roundtrip, the composed
    # multi-signal clustering (the two previously-untimed ops), and
    # the previously-unbenched ANN trio
    "q90_zorder_roundtrip",
    "q93_multi_signal_clusters",
    "q29_ann_lsh",
    "q31_embedding_near_dups",
    "q48_ivf_topk",
    # round-8 corpus-curation wave
    "q94_temperature_resample",
    "q95_boilerplate_stats",
    "q96_source_divergence",
    "q97_novelty_filter",
    "q98_audio_frame_energy",
    "q99_triangle_counts",
    "q100_cheapest_regional_supplier",
    "q101_sole_late_supplier",
    "q102_video_frame_sample",
    "q103_mergeable_sketches",
    # round-9 additions: exact-substring passage coverage and
    # asymmetric containment
    "q104_passage_dup_coverage",
    "q105_containment_pairs",
    "q106_sketch_overlap",
    "q107_contamination_scrub",
    "q108_shuffled_export",
    "q109_pq_adc_topk",
    "q110_ivf_pq_topk",
    # late round-9 additions: scalar-quantization search, mergeable
    # quantile sketches, time-weighted average
    "q111_int8_sdc_topk",
    "q112_quantile_sketches",
    "q113_time_weighted_avg",
    "q114_power_iteration_pc",
    "q115_ols_trend",
    "q116_pca_project",
    "q117_robust_outliers",
    # round-9 third wave: scale techniques
    "q118_binary_hamming_topk",
    "q119_jl_projection",
    "q120_bloom_semi_join",
    "q121_copurchase_lift",
    "q122_countmin_heavy",
    "q123_pagerank",
    "q124_token_budget_mix",
    "q125_salted_topk",
    # round-10 wave: two-stage rerank, bigram fluency, bounded-round
    # label propagation, reservoir draw, URL dedup, ANN recall eval
    "q126_hamming_rerank_topk",
    "q127_bigram_fluency",
    "q128_label_propagation",
    "q129_reservoir_sample",
    "q130_url_dedup",
    "q131_ann_recall_eval",
    "q132_cusum_drift",
    "q133_prefix_jaccard_join",
    "q134_source_calibration",
    "q135_token_gini",
    "q136_cluster_keepers",
    "q137_winnowing_fingerprints",
    # round-11 wave: winnowing promoted to pair-level MOSS output,
    # incremental batch-vs-corpus LSH dedup, integer-TF cosine join
    "q138_winnowing_pairs",
    "q139_lsh_incremental_join",
    "q140_tf_cosine_join",
    "q141_incremental_labels",
    "q142_leakage_free_split",
    "q143_repeated_spans",
    # round-12 additions
    "q144_lsh_index_served_join",
    "q145_span_index_served_join",
    "q146_image_dhash_pairs",
    "q147_audio_segment_pairs",
    "q148_video_scene_pairs",
    "q149_dhash_index_served_join",
    "q150_boundary_stitch",
    "q151_stitch_repair",
    "q152_ivf_index_served_topk",
    # round-13 wave 2: pipeline-gate + tokenizer-training ops
    "q153_dq_report",
    "q154_bpe_merge_steps",
    "q155_snapshot_diff",
    "q156_weighted_sample",
    "q157_hits_supplier_part",
    "q158_bpe_compression",
    "q159_bpe_from_vocab_index",
    "q160_volume_shipping",
    "q161_market_share",
    "q162_product_profit",
    "q163_dq_history",
    "q164_source_overlap_matrix",
    "q165_local_supplier_volume",
    "q166_promo_revenue_share",
    "q167_large_volume_customers",
    # round-14 wave: the TPC-H decorrelation tail, the DQ anomaly
    # gate, and the audio feature store (build+compact+serve
    # lifecycle — attribution in BASELINE.md)
    "q168_custdist",
    "q169_small_quantity_revenue",
    "q170_excess_shippers",
    "q171_dormant_balances",
    "q172_dq_anomaly_gate",
    "q173_audio_segments_from_index",
    # round-14 wave 2: incremental audio probe + the eight TPC-H
    # shapes completing the 22-query grammar
    "q174_audio_probe_vs_index",
    "q175_priority_returns",
    "q176_forecast_revenue",
    "q177_returned_item_customers",
    "q178_important_part_values",
    "q179_priority_by_status",
    "q180_top_supplier",
    "q181_part_supplier_counts",
    "q182_disjunctive_revenue",
    "q183_cdc_chunk_dedup",
    "q184_cdc_from_index",
    "q185_cdc_probe_vs_index",
]


def bench_line(timings: dict[str, float], n_runs: int, sf_val) -> str:
    """The one JSON line the bench prints, keyed by bare "qNN"."""
    compact = {name.split("_", 1)[0]: round(t, 2) for name, t in timings.items()}
    assert len(compact) == len(timings), "qNN prefixes must stay unique"
    out = {
        "queries": compact,
        "per_query": f"min_of_{n_runs}",
        "sf": sf_val,
        "metric": "headline_queries_total_wall_clock",
        "unit": "sec",
        "value": round(sum(timings.values()), 3),
    }
    # compact separators (no spaces) keep ~140 entries well under the
    # 2000-char tail window that records this line, at 2-decimal
    # resolution; if the catalog ever outgrows that, degrade to 1
    # decimal of the raw timing floored at 0.1 s (so no query prints as
    # 0 and reads as dropped; flooring the 2-decimal value let a <5 ms
    # query round to 0.0) — NEVER to integers: r14's integer fallback
    # quantized every sub-second query to 0/1 and gutted the per-query
    # comparison (73 phantom regressions).
    line = json.dumps(out, separators=(",", ":"))
    if len(line) > 1900:
        out["queries"] = {
            name.split("_", 1)[0]: max(0.1, round(t, 1))
            for name, t in timings.items()
        }
        line = json.dumps(out, separators=(",", ":"))
    assert len(line) <= 1900, (
        f"bench line {len(line)} chars exceeds the 2000-char tail window; "
        "shrink the encoding without dropping resolution below 0.1 s"
    )
    return line


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    spark = get_spark(
        app_name="bench",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
    )
    spark.sparkContext.setLogLevel("ERROR")

    qs = registry.queries()
    names = [n for n in HEADLINE if n in qs]
    extra = os.environ.get("SPARK_GRAFT_BENCH_EXTRA")
    if extra:
        names += [n for n in extra.split(",") if n in qs and n not in names]

    # warm the JVM/code paths once on the smallest SF so measured times
    # are query time, not session bootstrap
    qs["q01_pricing_summary"](spark, "/root/testdata/sf0.001").count()

    # min of N runs per query (default 2): the sandbox is co-tenant,
    # and a single run folds scheduler noise into the artifact — r03's
    # six phantom 2x "regressions" all vanished on an idle re-run.
    # The min is the defensible per-query number; both runs' raw
    # timings are kept in "runs" so noise stays visible.
    n_runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2")))
    runs: dict[str, list[float]] = {n: [] for n in names}
    for _ in range(n_runs):
        for name in names:
            t0 = time.perf_counter()
            df = qs[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            runs[name].append(round(time.perf_counter() - t0, 3))
    timings = {name: min(ts) for name, ts in runs.items()}

    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    # full-name timings + raw per-run data live in the local detail
    # file; the printed line keeps the short keys so all ~60 entries
    # survive the driver's 2000-char tail window
    detail = {
        "metric": "headline_queries_total_wall_clock",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "runs": runs,
        "per_query": f"min_of_{n_runs}",
        "sf": sf_val,
    }
    with open(
        os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     "BENCH_detail_local.json"), "w"
    ) as fh:
        json.dump(detail, fh)

    print(bench_line(timings, n_runs, sf_val))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
