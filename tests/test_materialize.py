"""Index-materialization policy (operators/materialize.py).

The self-joined operators materialize their internal index by the
session's ``spark.graft.materialize`` policy: eager localCheckpoint
(default, benchmark path), persist+count (fault-tolerant: lineage
retained), or lazy (caller's choice).  Every mode must produce
IDENTICAL results — the policy is purely physical.
"""

from contextlib import contextmanager

import pytest
from pyspark import StorageLevel

from hospital_data_engineering_pipeline_end_to_end_project_spark.operators import dedupe, similarity
from hospital_data_engineering_pipeline_end_to_end_project_spark.operators.materialize import (
    CONF_KEY,
    EAGER,
    LAZY,
    MODES,
    PERSIST,
    materialize,
    release,
)
from hospital_data_engineering_pipeline_end_to_end_project_spark.plans import registry
from tests.conftest import SF_SMOKE
from tests.oracle_harness import compare


@contextmanager
def policy(spark, mode):
    """Run the block under ``mode``, then restore the default and drop
    whatever a ``persist`` policy cached."""
    spark.conf.set(CONF_KEY, mode)
    try:
        yield
    finally:
        spark.conf.unset(CONF_KEY)
        spark.catalog.clearCache()


def test_unknown_mode_rejected(spark):
    with policy(spark, "teleport"):
        with pytest.raises(ValueError, match="unknown materialize mode"):
            materialize(spark.range(1))


def test_lazy_returns_input_unchanged(spark):
    df = spark.range(5)
    with policy(spark, LAZY):
        assert materialize(df) is df


def test_persist_retains_lineage_and_caches(spark):
    with policy(spark, PERSIST):
        df = materialize(spark.range(10))
        assert df.storageLevel == StorageLevel.MEMORY_AND_DISK
        assert df.count() == 10


def test_eager_truncates_lineage(spark):
    with policy(spark, EAGER):
        df = materialize(spark.range(10))
    assert df.count() == 10
    assert "Scan ExistingRDD" in df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("mode", MODES)
def test_simhash_near_dups_identical_across_modes(spark, mode):
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again"),
            (2, "the quick brown fox jumps over the lazy dog again"),
            (3, "completely different content about spark physical plans"),
        ],
        "doc_id long, text string",
    )
    with policy(spark, mode):
        got = sorted(
            map(tuple, dedupe.simhash_near_dups(docs, "doc_id", "text").collect())
        )
    baseline = sorted(
        map(tuple, dedupe.simhash_near_dups(docs, "doc_id", "text").collect())
    )
    assert got == baseline and got, "near-dup pair found on every mode"


@pytest.mark.parametrize("mode", MODES)
def test_lsh_topk_identical_across_modes(spark, mode):
    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(
        200
    )
    with policy(spark, mode):
        got = sorted(map(tuple, similarity.lsh_bucket_topk(e, k=3).collect()))
    baseline = sorted(
        map(tuple, similarity.lsh_bucket_topk(e, k=3).collect())
    )
    assert got == baseline and got


#: catalog queries that reach a materialized index (q26 banding, q61
#: connected components, q86 simhash, q95 boilerplate shingles, q99
#: triangles, q103/q112 sketches)
POLICY_QUERIES = (
    "q26_jaccard_pairs",
    "q61_dup_clusters",
    "q86_simhash_near_dups",
    "q95_boilerplate_stats",
    "q99_triangle_counts",
    "q103_mergeable_sketches",
    "q112_quantile_sketches",
)


@pytest.mark.parametrize("mode", [PERSIST, LAZY])
def test_policy_keeps_oracle_parity(spark, mode):
    queries, oracles = registry.queries(), registry.oracle_sql()
    with policy(spark, mode):
        for name in POLICY_QUERIES:
            compare(spark, name, queries[name], oracles[name], SF_SMOKE)
        plan = (
            queries["q86_simhash_near_dups"](spark, SF_SMOKE)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
    # the policy reached the operator: a persisted index scans the
    # cache, a lazy one is recomputed in-plan; neither is a checkpoint
    assert "Scan ExistingRDD" not in plan
    if mode == PERSIST:
        assert "InMemoryTableScan" in plan


def _policy_indexes(spark) -> set[int]:
    """Ids of the cached RDDs that are not local checkpoints (the
    per-round lineage caps, which no policy drops)."""
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in rdds.keySet().toArray() if not rdds.get(k).isCheckpointed()}


def test_persist_releases_superseded_intermediates(spark):
    """Under ``persist`` an operator frees what its own later steps
    superseded (the per-step BPE vocabularies, the IVF training sample,
    the connected-components edge frame and shortcut labels): after a
    query only the indexes that returned frames read stay cached."""
    queries = registry.queries()
    with policy(spark, PERSIST):
        before = _policy_indexes(spark)
        queries["q61_dup_clusters"](spark, SF_SMOKE).collect()
        # the band index the LSH pair frame reads; the component
        # labels are a local checkpoint
        after_q61 = _policy_indexes(spark)
        assert len(after_q61 - before) == 1
        queries["q154_bpe_merge_steps"](spark, SF_SMOKE).collect()
        # the final vocabulary bpe_train_from_vocab returns
        assert len(_policy_indexes(spark) - after_q61) == 1


def test_persist_releases_component_shortcut_labels(spark):
    # a 40-node path needs the pointer-jumping rounds
    from hospital_data_engineering_pipeline_end_to_end_project_spark.operators.components import (
        connected_components,
    )

    edges = spark.createDataFrame([(i, i + 1) for i in range(40)], "id_a long, id_b long")
    with policy(spark, PERSIST):
        before = _policy_indexes(spark)
        labels = connected_components(edges)
        assert _policy_indexes(spark) - before == set()
        assert {r.component for r in labels.collect()} == {0}


@pytest.mark.parametrize("mode", [EAGER, LAZY])
def test_release_is_a_no_op_outside_persist(spark, mode):
    with policy(spark, mode):
        df = spark.range(3).persist()
        df.count()
        release(df)
        assert df.storageLevel.useMemory
