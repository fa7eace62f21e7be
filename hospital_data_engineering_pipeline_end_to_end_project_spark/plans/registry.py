"""Central query registry — the driver-facing catalog.

Merges the per-module catalogs (relational parity, SCD2/medallion,
LLM-data-pipeline extensions).  ``queries()`` maps name ->
``(spark, sf_dir) -> DataFrame``; ``oracle_sql()`` maps the same names
to DuckDB-runnable ANSI SQL.  Names missing from ``oracle_sql()`` are
non-SQL-expressible operators (driver records a rows-only check).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from hospital_data_engineering_pipeline_end_to_end_project_spark.plans import relational

QueryFn = Callable[[SparkSession, str], DataFrame]


def _modules():
    # import errors must surface, not shrink the catalog: a silently
    # dropped module would erase a whole query family from the driver's
    # correctness gate (every optional dependency — delta-spark, media
    # codecs — is already guarded inside its own module)
    mods = []
    for name in (
        "wave14b",
        "wave14",
        "wave13",
        "wave12",
        "wave11",
        "wave10",
        "corpus_ops",
        "scale_ops",
        "relational_ext",
        "analytics_ext",
        "data_prep",
        "entry_extras",
        "llm_ops",
        "scd2_queries",
        "advanced",
    ):
        mods.append(
            __import__(
                f"hospital_data_engineering_pipeline_end_to_end_project_spark.plans.{name}",
                fromlist=[name],
            )
        )
    mods.insert(6, relational)
    return mods


#: The correctness gate behind ``__spark_entry__.queries()`` samples
#: the first 50 entries; these names are those 50, in order.  Every
#: other query follows in catalog (module registration) order.  Every
#: query keeps its oracle regardless of position:
#: tests/test_oracle_parity.py checks the whole catalog at sf0.001 and
#: tests/test_gate_scale_parity.py the window at sf0.01.  Past
#: rotations are in ``git log -p`` of this file.
_GATE_FRONT = (
    "q45_csv_roundtrip",
    "q50_hash_split",
    "q53_chunk_documents",
    "q54_tfidf_top_terms",
    "q55_decontaminate",
    "q56_repetition_stats",
    "q57_pii_scrub",
    "q62_skew_salted_counts",
    "q63_stratified_sample",
    "q64_group_percentiles",
    "q65_corr_stats",
    "q66_unpivot_part",
    "q67_grouping_sets",
    "q68_orc_roundtrip",
    "q69_session_windows",
    "q71_embedding_centroids",
    "q72_window_suite",
    "q73_gap_fill_months",
    "q74_fuzzy_name_pairs",
    "q75_rolling_revenue",
    "q76_price_histogram",
    "q77_revenue_share",
    "q78_dynamic_pivot",
    "q80_salted_join_agg",
    "q81_bag_set_ops",
    "q82_outer_explode",
    "q91_event_funnel",
    "q92_retention_cohorts",
    "q168_custdist",
    "q169_small_quantity_revenue",
    "q170_excess_shippers",
    "q171_dormant_balances",
    "q172_dq_anomaly_gate",
    "q173_audio_segments_from_index",
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
    "q153_dq_report",
    "q154_bpe_merge_steps",
    "q163_dq_history",
    "q90_zorder_roundtrip",
)


def _front_ordered(d: dict) -> dict:
    out = {k: d[k] for k in _GATE_FRONT if k in d}
    out.update((k, v) for k, v in d.items() if k not in out)
    return out


def queries() -> dict[str, QueryFn]:
    out: dict[str, QueryFn] = {}
    for m in _modules():
        out.update(m.QUERIES)
    return _front_ordered(out)


def oracle_sql() -> dict[str, str]:
    out: dict[str, str] = {}
    for m in _modules():
        # a module may need side-input fixtures materialized before its
        # oracle SQL can run (q40 reads a generated raw file)
        prepare = getattr(m, "PREPARE", None)
        if prepare is not None:
            prepare()
        out.update(m.ORACLES)
    return _front_ordered(out)
