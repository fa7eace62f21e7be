"""Streaming sketch monitor: the merged-shards read must be
BIT-IDENTICAL to a batch-mode sketch of the full data, and batch
replay must be idempotent."""

from __future__ import annotations

import os

from hospital_data_engineering_pipeline_end_to_end_project_spark.functions.metrics import (
    hash_sample_bottom_k,
    sample_quantiles,
)
from hospital_data_engineering_pipeline_end_to_end_project_spark.streaming import monitor
from tests.conftest import SF_SMOKE


def _stream_events(spark, tmp_path, out_dir, k):
    src = str(tmp_path / "src")
    events = spark.read.parquet(os.path.join(SF_SMOKE, "events.parquet")).select(
        "event_id", "event_type", "value"
    )
    events.repartition(8).write.mode("overwrite").json(src)
    stream = (
        spark.readStream.schema("event_id long, event_type string, value double")
        .option("maxFilesPerTrigger", 2)
        .json(src)
    )
    q = (
        monitor.sketch_monitor_sink(
            stream, out_dir, ["event_type"], "event_id", "value", k=k,
            checkpoint_dir=str(tmp_path / "ckpt"),
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return events


def test_merged_stream_sketch_equals_batch_sketch(spark, tmp_path):
    out = str(tmp_path / "sketches")
    k = 64  # << rows: the estimator branch, real merging
    events = _stream_events(spark, tmp_path, out, k)
    merged = sorted(
        map(
            tuple,
            monitor.read_merged_quantiles(
                spark, out, ["event_type"], "value", k=k
            ).collect(),
        )
    )
    direct = sorted(
        map(
            tuple,
            sample_quantiles(
                hash_sample_bottom_k(
                    events, ["event_type"], "event_id", "value", k=k
                ),
                ["event_type"],
                "value",
                k=k,
            ).collect(),
        )
    )
    assert merged == direct and len(merged) == 20  # 5 types x 4 ps
    # multiple micro-batches actually happened (real shard merging)
    shards = [d for d in os.listdir(out) if d.startswith("batch=")]
    assert len(shards) >= 2, shards


def test_batch_replay_is_idempotent(spark, tmp_path):
    out = str(tmp_path / "sketches")
    k = 32
    _stream_events(spark, tmp_path, out, k)
    before = sorted(
        map(
            tuple,
            monitor.read_merged_quantiles(
                spark, out, ["event_type"], "value", k=k
            ).collect(),
        )
    )
    # replay batch 0 by hand: the writer must overwrite its own shard
    events = spark.read.parquet(os.path.join(SF_SMOKE, "events.parquet")).select(
        "event_id", "event_type", "value"
    )
    writer = monitor.make_sketch_batch_writer(
        out, ["event_type"], "event_id", "value", k=k
    )
    writer(events.limit(200), 0)
    writer(events.limit(200), 0)  # double replay
    after = sorted(
        map(
            tuple,
            monitor.read_merged_quantiles(
                spark, out, ["event_type"], "value", k=k
            ).collect(),
        )
    )
    # still one shard per batch id, result stable across replays
    writer(events.limit(200), 0)
    again = sorted(
        map(
            tuple,
            monitor.read_merged_quantiles(
                spark, out, ["event_type"], "value", k=k
            ).collect(),
        )
    )
    assert after == again


# ---------------------------------------------------------------------------
# count-min monitor
# ---------------------------------------------------------------------------


def _stream_tokens_countmin(spark, tmp_path, out_dir, depth=4, width=64):
    src = str(tmp_path / "cm_src")
    events = spark.read.parquet(os.path.join(SF_SMOKE, "events.parquet")).select(
        "event_id", "event_type"
    )
    events.repartition(8).write.mode("overwrite").json(src)
    stream = (
        spark.readStream.schema("event_id long, event_type string")
        .option("maxFilesPerTrigger", 2)
        .json(src)
    )
    q = (
        monitor.countmin_monitor_sink(
            stream, out_dir, "event_type", depth=depth, width=width,
            checkpoint_dir=str(tmp_path / "cm_ckpt"),
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return events


def test_merged_stream_countmin_equals_batch_countmin(spark, tmp_path):
    from hospital_data_engineering_pipeline_end_to_end_project_spark.functions.metrics import (
        countmin_counts,
        countmin_estimate,
    )

    out = str(tmp_path / "cm_shards")
    events = _stream_tokens_countmin(spark, tmp_path, out)
    merged = monitor.read_merged_countmin(spark, out)
    direct = countmin_counts(events, "event_type", depth=4, width=64)
    diff = (
        merged.exceptAll(direct).count() + direct.exceptAll(merged).count()
    )
    assert diff == 0  # counter linearity: shard sums ARE the sketch

    # and the merged counters answer point queries exactly like a
    # batch build would
    cands = events.select("event_type").distinct().withColumnRenamed(
        "event_type", "tok"
    )
    est_m = sorted(
        map(
            tuple,
            countmin_estimate(
                merged, cands, "tok", depth=4, width=64
            ).collect(),
        )
    )
    est_d = sorted(
        map(
            tuple,
            countmin_estimate(
                direct, cands, "tok", depth=4, width=64
            ).collect(),
        )
    )
    assert est_m == est_d


def test_countmin_batch_replay_idempotent(spark, tmp_path):
    from hospital_data_engineering_pipeline_end_to_end_project_spark.functions.metrics import countmin_counts

    events = spark.read.parquet(os.path.join(SF_SMOKE, "events.parquet")).select(
        "event_id", "event_type"
    )
    out = str(tmp_path / "cm_replay")
    writer = monitor.make_countmin_batch_writer(out, "event_type", width=64)
    writer(events, 7)
    once = sorted(map(tuple, monitor.read_merged_countmin(spark, out).collect()))
    writer(events, 7)  # replay of the SAME batch id
    twice = sorted(map(tuple, monitor.read_merged_countmin(spark, out).collect()))
    assert once == twice  # overwrite, not accumulate


# ---------------------------------------------------------------------------
# CUSUM drift monitor
# ---------------------------------------------------------------------------


def _events_frame(spark):
    from pyspark.sql import functions as F

    return (
        spark.read.parquet(os.path.join(SF_SMOKE, "events.parquet"))
        .select("event_id", "event_type", F.col("value").cast("double"))
    )


def test_merged_stream_cusum_equals_batch_cusum(spark, tmp_path):
    """Ordered micro-batches folded from shards must reproduce the
    batch-mode cusum_drift over the concatenated stream EXACTLY
    (integer fold)."""
    from hospital_data_engineering_pipeline_end_to_end_project_spark.operators import temporal

    out = str(tmp_path / "cusum")
    events = _events_frame(spark)
    cuts = (0, 120, 300, 10**18)
    handle = monitor.make_cusum_batch_writer(
        out, "event_type", "event_id", "value", k_scaled=1000, scale=1000
    )
    for b in range(3):
        handle(
            events.filter(
                (events.event_id >= cuts[b]) & (events.event_id < cuts[b + 1])
            ),
            b,
        )
    merged = sorted(
        map(tuple, monitor.read_merged_cusum(spark, out, "event_type").collect())
    )
    direct = sorted(
        map(
            tuple,
            temporal.cusum_drift(
                events, "event_type", "event_id", "value",
                k_scaled=1000, scale=1000,
            ).collect(),
        )
    )
    assert merged == direct and len(merged) > 0


def test_cusum_batch_replay_idempotent(spark, tmp_path):
    out = str(tmp_path / "cusum")
    events = _events_frame(spark)
    handle = monitor.make_cusum_batch_writer(
        out, "event_type", "event_id", "value", k_scaled=1000, scale=1000
    )
    handle(events.filter(events.event_id < 200), 0)
    handle(events.filter(events.event_id >= 200), 1)
    before = sorted(
        map(tuple, monitor.read_merged_cusum(spark, out, "event_type").collect())
    )
    # crash-replay of batch 1: same rows, same shard, same answer
    handle(events.filter(events.event_id >= 200), 1)
    after = sorted(
        map(tuple, monitor.read_merged_cusum(spark, out, "event_type").collect())
    )
    assert before == after


def test_cusum_monitor_live_stream(spark, tmp_path):
    """availableNow file-stream smoke: the sink drains, shards land,
    and the fold sees every ingested row exactly once (n_events is
    ingest-order-free)."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "cusum")
    events = _events_frame(spark)
    events.repartition(8).write.mode("overwrite").json(src)
    stream = (
        spark.readStream.schema("event_id long, event_type string, value double")
        .option("maxFilesPerTrigger", 2)
        .json(src)
    )
    q = (
        monitor.cusum_monitor_sink(
            stream, out, "event_type", "event_id", "value",
            k_scaled=1000, scale=1000,
            checkpoint_dir=str(tmp_path / "ckpt"),
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        r["event_type"]: r["n_events"]
        for r in monitor.read_merged_cusum(spark, out, "event_type").collect()
    }
    want = {
        r["event_type"]: r["count"]
        for r in events.groupBy("event_type").count().collect()
    }
    assert got == want


# ---------------------------------------------------------------------------
# shard lifecycle: compaction is value-neutral per sink, reads are
# committed-only, garbage dirs degrade to skipped
# ---------------------------------------------------------------------------


def _quantiles(spark, out, k):
    return sorted(
        map(
            tuple,
            monitor.read_merged_quantiles(
                spark, out, ["event_type"], "value", k=k
            ).collect(),
        )
    )


def test_sketch_compaction_read_identical(spark, tmp_path):
    """Bottom-k re-rank compaction: post-compaction quantiles are
    bit-identical, and a batch arriving AFTER compaction still merges
    into the exact full-data sketch."""
    out = str(tmp_path / "sk")
    k = 32
    events = _events_frame(spark)
    writer = monitor.make_sketch_batch_writer(
        out, ["event_type"], "event_id", "value", k=k
    )
    cuts = (0, 100, 250, 400, 10**18)
    for b in range(3):
        writer(
            events.filter(
                (events.event_id >= cuts[b]) & (events.event_id < cuts[b + 1])
            ),
            b,
        )
    before = _quantiles(spark, out, k)
    stats = monitor.compact_sketch_shards(spark, out, ["event_type"], "value", k=k)
    assert stats["dirs_after"] == 1 and stats["dirs_before"] == 3
    assert _quantiles(spark, out, k) == before
    # a post-compaction batch still folds to the full-data sketch
    writer(
        events.filter(
            (events.event_id >= cuts[3]) & (events.event_id < cuts[4])
        ),
        3,
    )
    direct = sorted(
        map(
            tuple,
            sample_quantiles(
                hash_sample_bottom_k(
                    events, ["event_type"], "event_id", "value", k=k
                ),
                ["event_type"],
                "value",
                k=k,
            ).collect(),
        )
    )
    assert _quantiles(spark, out, k) == direct


def test_countmin_compaction_read_identical(spark, tmp_path):
    """Counter-summation compaction: merged estimates identical before
    and after, and after a post-compaction batch the store equals a
    batch-mode sketch over all rows."""
    from hospital_data_engineering_pipeline_end_to_end_project_spark.functions.metrics import countmin_counts

    out = str(tmp_path / "cm")
    events = _events_frame(spark)
    writer = monitor.make_countmin_batch_writer(out, "event_type", depth=4, width=64)
    cuts = (0, 150, 350, 10**18)
    for b in range(3):
        writer(
            events.filter(
                (events.event_id >= cuts[b]) & (events.event_id < cuts[b + 1])
            ),
            b,
        )

    def snap():
        return sorted(
            map(tuple, monitor.read_merged_countmin(spark, out).collect())
        )

    before = snap()
    stats = monitor.compact_countmin_shards(spark, out)
    assert stats["dirs_after"] == 1
    assert snap() == before
    writer(events.filter(events.event_id >= cuts[2]), 3)
    # the replayed-range batch 3 = batch 2's rows: totals now count
    # that range twice, exactly like a batch-mode build over the
    # concatenated input
    both = events.union(events.filter(events.event_id >= cuts[2]))
    direct = sorted(
        map(tuple, countmin_counts(both, "event_type", depth=4, width=64).collect())
    )
    assert snap() == direct


def test_cusum_compaction_read_identical(spark, tmp_path):
    """Segment-monoid compaction: composing batches <= N into one
    summary row folds bit-identically, including with batches arriving
    after the compaction."""
    from hospital_data_engineering_pipeline_end_to_end_project_spark.operators import temporal

    out = str(tmp_path / "cu")
    events = _events_frame(spark)
    handle = monitor.make_cusum_batch_writer(
        out, "event_type", "event_id", "value", k_scaled=1000, scale=1000
    )
    cuts = (0, 80, 200, 350, 10**18)
    for b in range(3):
        handle(
            events.filter(
                (events.event_id >= cuts[b]) & (events.event_id < cuts[b + 1])
            ),
            b,
        )

    def snap():
        return sorted(
            map(tuple, monitor.read_merged_cusum(spark, out, "event_type").collect())
        )

    before = snap()
    stats = monitor.compact_cusum_shards(spark, out, "event_type")
    assert stats["dirs_after"] == 1
    assert snap() == before
    # order-sensitivity across the compaction boundary: batch 3 folds
    # AFTER the composed prefix, reproducing the batch-mode statistic
    handle(
        events.filter(
            (events.event_id >= cuts[3]) & (events.event_id < cuts[4])
        ),
        3,
    )
    direct = sorted(
        map(
            tuple,
            temporal.cusum_drift(
                events, "event_type", "event_id", "value",
                k_scaled=1000, scale=1000,
            ).collect(),
        )
    )
    assert snap() == direct


def test_monitor_reads_skip_partial_and_garbage_dirs(spark, tmp_path):
    """A crash mid-shard-write (no _SUCCESS) and a stray
    non-numeric-suffix dir must both degrade to 'skipped', never to a
    corrupt or raising read."""
    import shutil

    out = str(tmp_path / "cu")
    events = _events_frame(spark)
    handle = monitor.make_cusum_batch_writer(
        out, "event_type", "event_id", "value", k_scaled=1000, scale=1000
    )
    handle(events.filter(events.event_id < 200), 0)
    handle(events.filter(events.event_id >= 200), 1)
    before = sorted(
        map(tuple, monitor.read_merged_cusum(spark, out, "event_type").collect())
    )
    # partial shard: data files present, _SUCCESS missing
    shutil.copytree(os.path.join(out, "batch=1"), os.path.join(out, "batch=2"))
    os.remove(os.path.join(out, "batch=2", "_SUCCESS"))
    # stray temp dir with an unparseable suffix
    os.makedirs(os.path.join(out, "batch=tmp-abc123"))
    after = sorted(
        map(tuple, monitor.read_merged_cusum(spark, out, "event_type").collect())
    )
    assert after == before


def test_merged_readers_raise_clearly_on_empty_store(spark, tmp_path):
    """An empty / not-yet-committed store must fail with a clear
    FileNotFoundError naming the directory — matching the index
    readers' contract — not an AttributeError on NoneType."""
    import pytest

    empty = str(tmp_path / "nothing-here")
    with pytest.raises(FileNotFoundError, match="nothing-here"):
        monitor.read_merged_quantiles(spark, empty, ["g"], "v")
    with pytest.raises(FileNotFoundError, match="nothing-here"):
        monitor.read_merged_countmin(spark, empty)
    with pytest.raises(FileNotFoundError, match="nothing-here"):
        monitor.read_merged_cusum(spark, empty, "g")
    with pytest.raises(FileNotFoundError, match="nothing-here"):
        monitor.read_dq_history(spark, empty)


# ---------------------------------------------------------------------------
# DQ constraint monitor
# ---------------------------------------------------------------------------


def _dq_report_fn(batch_df):
    from pyspark.sql import functions as F

    from hospital_data_engineering_pipeline_end_to_end_project_spark.operators import profiling

    return profiling.profile_report(
        batch_df,
        "events",
        complete_cols=["value"],
        unique_cols=["event_id"],
        compliance=[("value", "non_negative", F.col("value") >= 0)],
    )


def test_dq_monitor_per_batch_reports(spark, tmp_path):
    out = str(tmp_path / "dq")
    src = str(tmp_path / "src")
    events = spark.read.parquet(os.path.join(SF_SMOKE, "events.parquet")).select(
        "event_id", "event_type", "value"
    )
    events.repartition(8).write.mode("overwrite").json(src)
    stream = (
        spark.readStream.schema("event_id long, event_type string, value double")
        .option("maxFilesPerTrigger", 2)
        .json(src)
    )
    q = (
        monitor.dq_monitor_sink(
            stream, out, _dq_report_fn, checkpoint_dir=str(tmp_path / "ckpt")
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    hist = monitor.read_dq_history(spark, out)
    batches = sorted(r.batch_id for r in hist.select("batch_id").distinct().collect())
    assert batches == [0, 1, 2, 3]  # 8 files, 2 per trigger
    # every batch emits the full fixed check set
    per_batch = hist.groupBy("batch_id").count().collect()
    assert {r["count"] for r in per_batch} == {4}
    # the whole-stream row_count across batch reports sums to the table
    total = sum(
        r.value for r in hist.filter(hist.chk == "row_count").collect()
    )
    assert int(total) == events.count()


def test_dq_monitor_batch_report_equals_batch_mode(spark, tmp_path):
    out = str(tmp_path / "dq")
    events = spark.read.parquet(os.path.join(SF_SMOKE, "events.parquet")).select(
        "event_id", "event_type", "value"
    )
    half = events.filter(events.event_id % 2 == 0)
    writer = monitor.make_dq_batch_writer(out, _dq_report_fn)
    writer(half, 0)
    writer(half, 0)  # replay: same shard, idempotent
    hist = monitor.read_dq_history(spark, out)
    got = sorted(
        (r.tbl, r.col, r.chk, r.value, r.ok) for r in hist.collect()
    )
    want = sorted(
        (r.tbl, r.col, r.chk, r.value, r.ok)
        for r in _dq_report_fn(half).collect()
    )
    assert got == want


def test_dq_anomaly_gate_flags_planted_stream_drift(spark, tmp_path):
    """The Deequ anomaly tier end-to-end on a STREAM: six micro-batch
    files, one with a planted completeness regression (40% of values
    nulled) — the median/MAD gate must flag exactly that batch's
    completeness row and nothing else."""
    from pyspark.sql import functions as F

    from hospital_data_engineering_pipeline_end_to_end_project_spark.operators import profiling

    out, src = str(tmp_path / "dq"), str(tmp_path / "src")
    os.makedirs(src)
    events = (
        spark.read.parquet(os.path.join(SF_SMOKE, "events.parquet"))
        .select("event_id", "value")
        .toPandas()
    )
    for i in range(6):
        part = events[events.event_id % 6 == i].copy()
        if i == 3:  # the planted drift
            part.loc[part.event_id % 5 < 2, "value"] = None
        part.to_json(
            os.path.join(src, f"b{i}.json"), orient="records", lines=True
        )
    stream = (
        spark.readStream.schema("event_id long, value double")
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )

    def report(batch_df):
        return profiling.profile_report(
            batch_df, "events", complete_cols=["value"],
            unique_cols=["event_id"],
        )

    q = (
        monitor.dq_monitor_sink(
            stream, out, report, checkpoint_dir=str(tmp_path / "ckpt")
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    hist = monitor.read_dq_history(spark, out)
    gate = profiling.dq_anomaly_gate(hist, k=3, min_dev=1000)
    flagged = gate.filter(F.col("is_anomaly")).collect()
    assert len(flagged) == 1
    (r,) = flagged
    assert (r.tbl, r.col, r.chk) == ("events", "value", "completeness")
    # the drifted batch sits ~600000 ppm against a clean 1000000 median
    assert r.med == 1000000 and r.value < 700000


def test_dq_anomaly_gate_min_dev_floor_absorbs_jitter(spark):
    """A near-constant series (mad = 0, a few rows of wobble) must NOT
    flag below the min_dev floor — and must flag above it."""
    from pyspark.sql import functions as F

    from hospital_data_engineering_pipeline_end_to_end_project_spark.operators import profiling

    rows = [
        ("t", "c", "completeness", b, v)
        for b, v in enumerate([1000000, 999998, 1000000, 1000000, 998000])
    ]
    hist = spark.createDataFrame(
        rows, "tbl string, col string, chk string, batch_id long, value long"
    )
    got = {
        r.batch_id: r.is_anomaly
        for r in profiling.dq_anomaly_gate(hist, k=3, min_dev=1000).collect()
    }
    # med = 1000000, mad = 0: only the 2000-ppm drop beats the floor
    assert got == {0: False, 1: False, 2: False, 3: False, 4: True}
