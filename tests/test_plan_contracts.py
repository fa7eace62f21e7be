"""Physical-plan contracts over the ENTIRE query catalog.

Per-query plan asserts exist where they matter most (broadcast star
joins, bucketed no-Exchange joins, LSH non-cartesian candidates); this
sweep is the backstop that keeps every FUTURE query honest: no
accidental cartesian products or unhinted nested-loop joins anywhere
in the 60-query surface.

Allow-listed BroadcastNestedLoopJoin occurrences are deliberate
broadcast cross-joins whose broadcast side is bounded by contract:

- q28_cosine_topk: the query side is a bounded top-k probe set (the
  corpus-by-corpus cases route through LSH/IVF instead);
- q54_tfidf_top_terms: a 1-row broadcast scalar (corpus doc count).
"""

from __future__ import annotations

import pytest

from hospital_data_engineering_pipeline_end_to_end_project_spark.plans import registry

SF = "/root/testdata/sf0.001"

BNLJ_ALLOWED = {
    "q28_cosine_topk",
    "q54_tfidf_top_terms",
    # 1-row broadcast scalar (grand total), same idiom as q54
    "q77_revenue_share",
    # 1-row broadcast corpus stats (N, total tokens), same idiom
    "q87_bm25_topk",
    # 1-row broadcast global min group count into the |groups|-row
    # count frame (never the corpus)
    "q94_temperature_resample",
    # 1-row broadcast grand token total, same idiom as q77
    "q96_source_divergence",
    # bounded top-k probe set broadcast past the un-shuffled corpus
    # codes, same contract as q28 (max_queries-guarded)
    "q109_pq_adc_topk",
    # same contract: max_queries-guarded int8 query codes broadcast
    # past the un-shuffled corpus codes when scorer='expr' is pinned
    # (the default integer-gemm scorer replaces the join entirely,
    # so the gated plan normally has no BNLJ — the entry covers the
    # pinned reference path)
    "q111_int8_sdc_topk",
    # |groups|-row broadcast pair generation (a.source < b.source over
    # the DISTINCT groups of the sketch frame): the broadcast side is
    # sketch metadata bounded by the number of shards/sources, never
    # the corpus — the pairwise output is itself |groups|^2 by the
    # operator's contract (functions/metrics.py:kmv_pair_overlap)
    "q106_sketch_overlap",
    # bounded top-k probe set broadcast past the un-shuffled packed
    # corpus codes, same contract as q28/q109 (max_queries-guarded)
    "q118_binary_hamming_topk",
    # 1-row broadcast basket grand total, same idiom as q77/q94
    "q121_copurchase_lift",
    # 1-row broadcast token grand total (heavy-hitter threshold),
    # same idiom
    "q122_countmin_heavy",
    # stage 1 is q118's contract verbatim (bounded max_queries-guarded
    # probe set broadcast past the packed corpus scan); stage 2 is
    # pure equi-joins over the <= nq x shortlist candidate frame
    "q126_hamming_rerank_topk",
    # both inputs are top-k paths that carry the q28/q118 bounded
    # BNLJ; the evaluator itself adds only an equi left-semi probe +
    # a combinable count
    "q131_ann_recall_eval",
    # BPE trainer: each step's WINNING PAIR (one row) broadcast-cross
    # joins into the vocab for the merge fold — 1-row idiom like q54
    "q154_bpe_merge_steps",
    "q158_bpe_compression",
    "q159_bpe_from_vocab_index",
    # HITS: the per-half-step L1 normalizer (a one-row sum aggregate)
    # broadcast-cross joins back into the node frame — same idiom
    "q157_hits_supplier_part",
    # Q22 shape: the positive-balance (sum, count) scalar (one row)
    # broadcast-cross joins into the nation-filtered customers —
    # 1-row idiom like q77/q121
    "q171_dormant_balances",
    # Q11 shape: the grand-total value scalar (one row) broadcast-cross
    # joins into the |parts|-bounded per-part frame — 1-row idiom
    "q178_important_part_values",
    # Q15 shape: the max-revenue scalar (one row) broadcast-cross
    # joins into the |suppliers|-bounded revenue frame — 1-row idiom
    "q180_top_supplier",
}


@pytest.fixture(scope="module")
def plans(spark):
    out = {}
    for name, fn in registry.queries().items():
        df = fn(spark, SF)
        out[name] = df._jdf.queryExecution().executedPlan().toString()
    return out


def test_no_cartesian_products_anywhere(plans):
    offenders = [n for n, p in plans.items() if "CartesianProduct" in p]
    assert offenders == [], f"cartesian product in: {offenders}"


def test_nested_loop_joins_only_where_bounded(plans):
    offenders = [
        n
        for n, p in plans.items()
        if "BroadcastNestedLoopJoin" in p and n not in BNLJ_ALLOWED
    ]
    assert offenders == [], (
        f"unvetted nested-loop join in: {offenders} — either make it an "
        "equi-join or justify the bounded broadcast side here"
    )


def test_allowed_nested_loops_are_broadcast(plans):
    # the allow-list must stay what it claims: broadcast, never a
    # shuffle-based nested loop
    for n in BNLJ_ALLOWED:
        assert "BroadcastNestedLoopJoin" in plans[n] or "CartesianProduct" not in plans[n]


def test_stratified_sample_no_shuffle(plans):
    # q63 is a narrow filter+projection: any Exchange means the
    # sampling predicate stopped being scan-side
    assert "Exchange" not in plans["q63_stratified_sample"]


def test_dedup_canonical_broadcasts_drop_set(plans):
    # q70's anti-join side (non-canonical cluster members) is tiny by
    # construction; the corpus side must not shuffle for it
    p = plans["q70_dedup_canonical"]
    assert "BroadcastHashJoin" in p and "LeftAnti" in p
    assert "SortMergeJoin" not in p


def test_embedding_centroids_single_shuffle(plans):
    # explode + one keyed aggregation: exactly one Exchange (the
    # (label, dim) groupBy); a second would mean the partial agg
    # stopped map-side combining
    assert plans["q71_embedding_centroids"].count("Exchange hashpartitioning") == 1


def test_window_suite_single_sort_exchange(plans):
    # all five window functions share one (partition, order) spec so
    # the plan must evaluate them in a single Window operator over a
    # single shuffle+sort
    p = plans["q72_window_suite"]
    assert p.count("Exchange hashpartitioning") == 1


def test_simhash_near_dups_equi_join_banding(plans):
    # q86's candidate stage must be an EQUI-join on
    # (band_id, band_val) — per-bucket fan-out, never all-pairs.
    # At sf0.001 AQE may broadcast the tiny band frame; at scale the
    # same equi-condition becomes a shuffled join.  A nested loop
    # would mean the band equality fell out of the join condition.
    p = plans["q86_simhash_near_dups"]
    assert (
        "SortMergeJoin" in p
        or "ShuffledHashJoin" in p
        or "BroadcastHashJoin" in p
    )
    assert "BroadcastNestedLoopJoin" not in p


def test_bm25_broadcasts_dfreq_and_totals(plans):
    # the |query|-row document-frequency side and the 1-row corpus
    # stats must both broadcast; the only shuffle joins are keyed
    p = plans["q87_bm25_topk"]
    assert p.count("BroadcastExchange") >= 2
    assert "CartesianProduct" not in p


def test_semantic_dedup_single_corpus_pass(plans):
    # centroids enter as literals (trained on the bounded sample);
    # the corpus-wide stage is one distance pass + one window by
    # cluster — no join against the corpus at all
    p = plans["q88_semantic_dedup"]
    assert "Window" in p
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p


def test_scd2_partition_filter_prunes_state_scan(spark, tmp_path):
    # a partition-bounded merge must read only the touched partitions
    # of a partitioned state table: the predicate has to surface as a
    # PartitionFilter on the state-side scan, not a post-scan Filter
    from pyspark.sql import functions as F

    from hospital_data_engineering_pipeline_end_to_end_project_spark.operators import scd2

    spec = scd2.Scd2Spec(keys=["id"])
    init = spark.createDataFrame(
        [(1, "EUROPE", "a"), (2, "ASIA", "b"), (3, "EUROPE", "c")],
        "id long, region string, val string",
    )
    path = str(tmp_path / "state")
    scd2.initial_load(init, spec, "2024-01-01").write.partitionBy(
        "region"
    ).parquet(path)
    state = spark.read.parquet(path)
    batch = spark.createDataFrame(
        [(1, "EUROPE", "a2")], "id long, region string, val string"
    )
    merged = scd2.merge(
        state, batch, spec, "2024-02-01",
        partition_filter=F.col("region") == "EUROPE",
    )
    plan = merged._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    import re

    pf_clauses = re.findall(r"PartitionFilters: \[[^\]]*region[^\]]*\]", plan)
    assert pf_clauses, f"region never reached a PartitionFilter:\n{plan}"


def test_scd2_merge_is_one_exchange(spark, tmp_path):
    # batch dedupe, key match and change test share one key-partitioned
    # window over the union of batch and current state: one shuffle
    from hospital_data_engineering_pipeline_end_to_end_project_spark.operators import scd2

    spec = scd2.Scd2Spec(keys=["id"], order_by=["val"])
    init = spark.createDataFrame(
        [(1, "EUROPE", "a"), (2, "ASIA", "b")], "id long, region string, val string"
    )
    path = str(tmp_path / "state")
    scd2.initial_load(init, spec, "2024-01-01").write.parquet(path)
    batch = spark.createDataFrame(
        [(1, "EUROPE", "a2"), (1, "EUROPE", "a3"), (3, "ASIA", "c")],
        "id long, region string, val string",
    )
    merged = scd2.merge(spark.read.parquet(path), batch, spec, "2024-02-01")
    plan = merged._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    assert "Join" not in plan and "Generate" not in plan, plan


def test_boilerplate_stats_no_hot_key_window(spark):
    """q95's document frequency must come from groupBy + join-back —
    a window PARTITION BY shingle would put the hottest key in the
    corpus (the boilerplate itself) in one unsplittable task at
    scale.  The groupBy's partial aggregation absorbs the hot key
    map-side; the join back is AQE-splittable."""
    from hospital_data_engineering_pipeline_end_to_end_project_spark.operators import dataprep

    d = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c x y z")], "doc_id long, text string"
    )
    out = dataprep.boilerplate_stats(d, "doc_id", "text", hot_df=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, f"hot-shingle window survived:\n{plan}"
    assert "partial_count" in plan or "partial" in plan.lower()


def test_jl_projection_is_pure_map(plans):
    # q119 is a per-row map: ANY Exchange means the projection
    # stopped being scan-speed
    assert "Exchange" not in plans["q119_jl_projection"]


def test_bloom_prefilter_is_below_the_join(plans):
    # q120's xxhash64 membership test must sit in a Filter on the
    # probe (orders) scan side, BEFORE the exact semi join — rows the
    # bloom rejects must never reach an exchange.  The literal bitmap
    # rides in the filter, so 'xxhash64' appearing only under the
    # join's probe child is the contract.
    p = plans["q120_bloom_semi_join"]
    assert "xxhash64" in p
    join_pos = min(
        i for i in (p.find("BroadcastHashJoin"), p.find("SortMergeJoin"),
                    p.find("ShuffledHashJoin")) if i >= 0
    )
    # physical plans print operators top-down: the probe-side filter
    # is a DESCENDANT of the join, so it must appear after the join
    # line and before the probe scan's end
    assert p.find("xxhash64", join_pos) >= 0


def test_countmin_counts_partial_aggregation(plans):
    # q122's counter build must map-side combine: the (r, bucket)
    # aggregate appears as partial + final HashAggregate pairs, and
    # only ONE exchange carries the bounded (<= depth x width
    # partials per task) counter frame
    p = plans["q122_countmin_heavy"]
    assert "HashAggregate" in p
    assert "Exchange hashpartitioning(r#" in p or "Exchange hashpartitioning" in p


def test_pagerank_iterations_are_equi_joins(plans):
    # q123: every rank-propagation join is an equi-join on the edge
    # source — an iterative graph algorithm must never degenerate to
    # a nested loop
    p = plans["q123_pagerank"]
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p


def test_lsh_incremental_join_never_shuffles_for_joins(plans):
    # q139's 100 TB claim: the batch side (bands AND shingle sets) is
    # broadcast, so the corpus is only ever scanned and map-side
    # probed — a sort-merge join would mean the corpus shuffled.
    # (The band join itself sits behind the materialized candidate
    # frame; the visible plan is the verify stage.)
    p = plans["q139_lsh_incremental_join"]
    assert "SortMergeJoin" not in p
    assert p.count("BroadcastHashJoin") >= 2
    # the corpus's shingle-array build sits ABOVE a candidate
    # semi-join: only candidate docs are ever shingled for
    # verification (the streaming lsh_index idiom)
    assert "LeftSemi" in p


def test_tf_cosine_join_uncapped_single_pass(plans):
    # q140's uncapped fast path accumulates the dot product IN the
    # postings groupBy: no candidate-distinct stage, no re-probe
    # joins, no sort-merge join anywhere
    p = plans["q140_tf_cosine_join"]
    assert "SortMergeJoin" not in p
    # exactly one pair-keyed aggregate (partial+final), not the
    # two-stage shape's distinct + aggregate
    assert p.count("HashAggregate") <= 8


def test_winnowing_pairs_no_sort_merge(plans):
    p = plans["q138_winnowing_pairs"]
    assert "SortMergeJoin" not in p


def test_dhash_index_served_join_one_index_pass(plans):
    # q149's 100 TB claim: the stored fingerprints ARE the whole
    # verification input and they ride THROUGH the banded join — one
    # scan of the index, the batch side broadcast, then a distinct.
    # A sort-merge join would mean the index got shuffled; more than
    # one BroadcastHashJoin would mean candidates were re-joined
    # against the posting table.
    p = plans["q149_dhash_index_served_join"]
    assert "SortMergeJoin" not in p
    assert p.count("BroadcastHashJoin") == 1


def test_image_dhash_pairs_single_band_join(plans):
    # q146: the self-join carries both sides' hash columns, so the
    # only join in the plan is the band equi-join itself (shuffled,
    # correctly: both sides are corpus-sized) — no candidate re-join
    # against the hash table.
    p = plans["q146_image_dhash_pairs"]
    n_joins = sum(p.count(j) for j in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"))
    assert n_joins == 1


def test_boundary_stitch_anchor_is_broadcast(plans):
    # q150's 100 TB claim: the anchor side is ONE row per document and
    # rides a broadcast — the corpus gram postings are scanned and
    # map-side probed, never shuffled for the candidate join.
    p = plans["q150_boundary_stitch"]
    assert "BroadcastHashJoin" in p


def test_gate_lists_partition_catalog():
    """_GATE_FRONT is the 50-slot gate window: 50 distinct catalog
    names, and exactly the first 50 keys of ``queries()`` in order (a
    renamed or dropped front entry would let another query drift into
    the window)."""
    names = list(registry.queries())
    front = registry._GATE_FRONT
    assert len(front) == 50 and len(set(front)) == 50
    assert set(front) <= set(names), set(front) - set(names)
    assert names[:50] == list(front)


def test_priority_returns_semi_join_never_materializes_lines(plans):
    # q175 (Q4 shape): the EXISTS must stay a semi join — lineitem
    # contributes existence only, never payload rows
    p = plans["q175_priority_returns"]
    assert "LeftSemi" in p
    assert "CartesianProduct" not in p


def test_forecast_revenue_pushes_shipdate_range(plans):
    # q176 (Q6 shape): the whole query is one scan — the shipdate
    # range must reach the parquet reader, not a post-scan Filter
    p = plans["q176_forecast_revenue"]
    assert "GreaterThanOrEqual(l_shipdate" in p and "LessThan(l_shipdate" in p


def test_returned_item_customers_topk_not_global_sort(plans):
    # q177 (Q10 shape): the top-20 must be TakeOrderedAndProject
    # (per-partition heaps + driver merge), never a full global sort,
    # and nation must ride a broadcast
    p = plans["q177_returned_item_customers"]
    assert "TakeOrderedAndProject" in p
    assert "BroadcastHashJoin" in p


def test_priority_by_status_pushes_year_window(plans):
    # q179 (Q12 shape): lineitem pruned by the pushed shipdate year
    # before the fact-fact join
    p = plans["q179_priority_by_status"]
    assert "GreaterThanOrEqual(l_shipdate" in p


def test_part_supplier_counts_broadcast_prunes(plans):
    # q181 (Q16 shape): the part filter and the complaint set must
    # both broadcast (semi + anti) — the fact never shuffles to be
    # filtered
    p = plans["q181_part_supplier_counts"]
    assert "LeftAnti" in p and "LeftSemi" in p
    assert "SortMergeJoin" not in p


def test_disjunctive_revenue_single_broadcast_join(plans):
    # q182 (Q19 shape): the pushable UNION of the part-side
    # conditions filters the dim BEFORE one broadcast join; the OR
    # blocks evaluate post-join in codegen — never a per-block scan
    # or a cartesian
    p = plans["q182_disjunctive_revenue"]
    assert p.count("BroadcastHashJoin") == 1
    assert "In(p_brand" in p
    assert "CartesianProduct" not in p


def test_audio_probe_broadcasts_batch_postings(plans):
    # q174: the arriving batch's postings (and the df-cap drop set —
    # ubiquitous grams only, small by construction) must broadcast
    # past the stored-posting scan; the store side is never shuffled
    # for the match
    p = plans["q174_audio_probe_vs_index"]
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p


def test_cdc_chunk_dedup_no_joins_no_window(plans):
    # q183: the CDC chunker is per-row higher-order array code — the
    # plan must contain NO join and NO Window pass; the only
    # exchanges are the final chunk-hash distinct-aggregate pair
    p = plans["q183_cdc_chunk_dedup"]
    assert not any(
        j in p
        for j in (
            "SortMergeJoin",
            "BroadcastHashJoin",
            "ShuffledHashJoin",
            "BroadcastNestedLoopJoin",
        )
    )
    assert "Window" not in p
    assert p.count("Exchange hashpartitioning") <= 2


def test_cdc_from_index_is_pure_aggregate(plans):
    # q184: the served dup report reads stored hashes and aggregates
    # — no join anywhere in the plan
    p = plans["q184_cdc_from_index"]
    assert not any(
        j in p
        for j in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin")
    )


def test_cdc_probe_broadcasts_batch_hashes(plans):
    # q185: the batch's distinct hashes (and its per-hash counts)
    # broadcast past the store scan — the index is never shuffled
    p = plans["q185_cdc_probe_vs_index"]
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p


@pytest.mark.parametrize(
    "name",
    ["q01_pricing_summary", "q04_star_join", "q06_latest_event_per_user", "q25_minhash_bands"],
)
def test_warm_build_fires_no_job(spark, name):
    # the tables' schemas were inferred by the first build; a second
    # build in the same process reads them with the schema it kept
    from tests.test_readers import _jobs_fired

    query = registry.queries()[name]
    query(spark, SF)
    _, jobs = _jobs_fired(spark, lambda: query(spark, SF))
    assert jobs == 0
