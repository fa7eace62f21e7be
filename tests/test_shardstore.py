"""Direct unit tests for the shared committed-shard machinery —
subsumption-rule edges that the per-sink suites only hit indirectly."""

from __future__ import annotations

import os
import shutil

import pytest

from pyspark.sql import functions as F

from hospital_data_engineering_pipeline_end_to_end_project_spark.streaming import (
    ann_index,
    audio_index,
    chunk_index,
    dhash_index,
    lsh_index,
    shardstore,
    span_index,
    vocab_index,
)

_INDEX_MODULES = (
    ann_index, audio_index, chunk_index, dhash_index, lsh_index, span_index, vocab_index
)
_SPECS = {
    f"{mod.__name__.rsplit('.', 1)[1]}.{name}": spec
    for mod in _INDEX_MODULES
    for name, spec in vars(mod).items()
    if isinstance(spec, shardstore.ShardIndex)
}


def _write_shard(spark, root, name, values):
    df = spark.range(0).select(F.lit(0).alias("v")).limit(0)
    spark.createDataFrame([(v,) for v in values], "v long").coalesce(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(root, name))


def test_listing_guards_and_success_filter(spark, tmp_path):
    root = str(tmp_path / "store")
    _write_shard(spark, root, "batch=0", [1, 2])
    _write_shard(spark, root, "batch=1", [3])
    # partial: data present, no _SUCCESS
    shutil.copytree(os.path.join(root, "batch=1"), os.path.join(root, "batch=2"))
    os.remove(os.path.join(root, "batch=2", "_SUCCESS"))
    # unparseable suffixes of every recognized prefix
    for junk in ("batch=tmp-x", "batch_id=abc", "compact_upto=?"):
        os.makedirs(os.path.join(root, junk))
    got = shardstore.committed_shard_dirs(root)
    assert [(k, n) for k, n, _ in got] == [("batch", 0), ("batch", 1)]
    df = shardstore.read_shards(spark, root)
    assert sorted(r["v"] for r in df.collect()) == [1, 2, 3]


def test_subsumption_rule_with_stacked_compacts(spark, tmp_path):
    """Crash mid-cleanup can leave an OLDER compact dir plus batch
    shards it subsumed: readers take only the newest compact and
    batches strictly above it — exact, not duplicate-tolerant."""
    root = str(tmp_path / "store")
    _write_shard(spark, root, "compact_upto=3", [1, 2, 3])
    _write_shard(spark, root, "compact_upto=5", [1, 2, 3, 4, 5])  # newest
    _write_shard(spark, root, "batch=4", [4])   # subsumed leftover
    _write_shard(spark, root, "batch=5", [5])   # subsumed leftover
    _write_shard(spark, root, "batch=6", [6])   # genuinely new
    active = shardstore.active_shard_dirs(root)
    assert [(k, n) for k, n, _ in active] == [("batch", 6), ("compact", 5)]
    df = shardstore.read_shards(spark, root)
    assert sorted(r["v"] for r in df.collect()) == [1, 2, 3, 4, 5, 6]
    shardstore.cleanup_subsumed(root)
    left = sorted(
        e for e in os.listdir(root) if "=" in e and not e.startswith("_")
    )
    assert left == ["batch=6", "compact_upto=5"]


def test_compact_folds_active_only_and_sizes_output(spark, tmp_path):
    root = str(tmp_path / "store")
    for b in range(4):
        _write_shard(spark, root, f"batch={b}", [b])
    stats = shardstore.compact_shards(spark, root)
    assert stats == {"dirs_before": 4, "dirs_after": 1}
    assert os.path.exists(os.path.join(root, "compact_upto=3", "_SUCCESS"))
    df = shardstore.read_shards(spark, root)
    assert sorted(r["v"] for r in df.collect()) == [0, 1, 2, 3]
    # idempotent: a second call with nothing new only re-checks
    assert shardstore.compact_shards(spark, root)["dirs_after"] == 1
    # a fold is applied to the merged frame
    _write_shard(spark, root, "batch=9", [0, 1])
    stats = shardstore.compact_shards(
        spark, root, fold=lambda d: d.groupBy("v").agg(F.count("*").alias("n")).select("v")
    )
    assert stats["dirs_after"] == 1
    df = shardstore.read_shards(spark, root)
    assert sorted(r["v"] for r in df.collect()) == [0, 1, 2, 3]


def test_concurrent_shard_build_carries_job_group(spark, tmp_path):
    # every shard-build job is labelled with the caller's job group,
    # and a failing writer's exception reaches the caller
    root = str(tmp_path / "store")
    sc = spark.sparkContext

    def writer(df, bid):
        df.write.mode("overwrite").parquet(os.path.join(root, f"batch={bid}"))

    sc._jsc.sc().listenerBus().waitUntilEmpty()
    ungrouped = set(sc.statusTracker().getJobIdsForGroup(None))
    sc.setJobGroup("shard-build", "shard-build")
    try:
        shardstore.build_shards_concurrently(
            writer, [(b, spark.range(b * 10, b * 10 + 5)) for b in range(3)]
        )

        def failing(df, bid):
            if bid == 1:
                raise ValueError("shard 1 failed")
            writer(df, bid)

        with pytest.raises(ValueError, match="shard 1 failed"):
            shardstore.build_shards_concurrently(
                failing, [(b, spark.range(5)) for b in range(3)]
            )
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        grouped = set(sc.statusTracker().getJobIdsForGroup("shard-build"))
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    assert len(grouped) >= 3
    assert set(sc.statusTracker().getJobIdsForGroup(None)) == ungrouped
    assert [n for _, n, _ in shardstore.committed_shard_dirs(root)] == [0, 1, 2]


def test_every_index_module_defines_a_spec():
    assert {name.split(".")[0] for name in _SPECS} == {
        mod.__name__.rsplit(".", 1)[1] for mod in _INDEX_MODULES
    }


@pytest.mark.parametrize("name", sorted(_SPECS))
def test_empty_store_contract(spark, tmp_path, name):
    """An empty store: ``read`` raises a FileNotFoundError naming the
    directory, ``compact`` is a no-op reporting zero dirs."""
    spec = _SPECS[name]
    empty = str(tmp_path / "nothing-here")
    with pytest.raises(FileNotFoundError, match="nothing-here"):
        spec.read(spark, empty)
    assert spec.compact(spark, empty) == {"dirs_before": 0, "dirs_after": 0}


def test_foreach_batch_is_attached_only_in_shardstore():
    """Every streaming sink goes through ``foreach_batch_sink``; no
    other package module attaches ``foreachBatch`` itself."""
    pkg = os.path.dirname(os.path.dirname(shardstore.__file__))
    hits = []
    for root, _dirs, files in os.walk(pkg):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(root, f)
            with open(path) as fh:
                if ".writeStream.foreachBatch(" in fh.read():
                    hits.append(os.path.relpath(path, pkg))
    assert hits == [os.path.join("streaming", "shardstore.py")]


def test_local_checkpoint_only_in_materialize():
    """Every index checkpoint goes through ``materialize()``, so the
    session's policy covers it; the only raw ``localCheckpoint`` calls
    outside ``operators/materialize.py`` are the two per-round lineage
    caps of ``components.connected_components``."""
    pkg = os.path.dirname(os.path.dirname(shardstore.__file__))
    hits = {}
    for root, _dirs, files in os.walk(pkg):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(root, f)
            with open(path) as fh:
                n = fh.read().count(".localCheckpoint(")
            if n:
                hits[os.path.relpath(path, pkg)] = n
    assert hits == {
        os.path.join("operators", "materialize.py"): 1,
        os.path.join("operators", "components.py"): 2,
    }


def test_parquet_reads_only_through_read_parquet():
    """Every parquet read of the package goes through
    ``readers.read_parquet``, so none pays a schema-inference job the
    footer or the per-process schema memo already answers."""
    pkg = os.path.dirname(os.path.dirname(shardstore.__file__))
    hits = []
    for root, _dirs, files in os.walk(pkg):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(root, f)
            with open(path) as fh:
                if ".read.parquet(" in fh.read():
                    hits.append(os.path.relpath(path, pkg))
    assert hits == [os.path.join("sources", "readers.py")]


def test_reading_a_committed_store_fires_no_job(spark, tmp_path):
    # shards are Spark-written, so the read (and compaction's merge
    # read) take the schema from a footer instead of an inference job
    from tests.test_readers import _jobs_fired

    root = str(tmp_path / "store")

    def shard(name, lo):
        spark.range(lo, lo + 6).selectExpr(
            "id",
            "IF(id % 4 = 0, NULL, CAST(id AS STRING)) AS label",
            "CAST(id * 1.5 AS DECIMAL(10,2)) AS amount",
            "ARRAY(CAST(id AS DOUBLE), 0.5D) AS vec",
        ).coalesce(1).write.mode("overwrite").parquet(os.path.join(root, name))

    for b in range(3):
        shard(f"batch={b}", b * 10)
    shardstore.compact_shards(spark, root)
    shard("batch=3", 30)
    paths = [p for _, _, p in shardstore.active_shard_dirs(root)]
    assert len(paths) == 2
    df, jobs = _jobs_fired(spark, lambda: shardstore.read_shards(spark, root))
    assert jobs == 0, "the schema comes from a shard footer, not from a job"
    plain, plain_jobs = _jobs_fired(spark, lambda: spark.read.parquet(*paths))
    assert plain_jobs == 1, "spark.read.parquet infers the schema with one job"
    assert df.schema == plain.schema
    assert sorted(map(tuple, df.collect())) == sorted(map(tuple, plain.collect()))
    assert df.count() == 24


def test_write_shard_is_aqe_sized(spark, tmp_path):
    """A tiny shard written through a wide compute stage must land as
    ONE AQE-coalesced parquet file, not one file per upstream task."""
    dest = os.path.join(str(tmp_path), "batch=0")
    df = spark.range(0, 1000).repartition(16).withColumn(
        "v", F.col("id") * 2
    )
    shardstore.write_shard(df, dest)
    files = [f for f in os.listdir(dest) if f.endswith(".parquet")]
    assert len(files) == 1, files
    back = spark.read.parquet(dest)
    assert back.count() == 1000
    assert back.agg(F.sum("v")).collect()[0][0] == 999 * 1000
