"""Streaming sketch monitor — per-batch MERGEABLE sketch shards.

The streaming use of the q112 identity: every micro-batch writes its
own bottom-k row-sample shard (``functions/metrics.py:
hash_sample_bottom_k``), and any reader re-ranks the accumulated
shards into EXACTLY the sketch of all rows seen so far (the k
smallest hashes of a union are a subset of the union of each part's
k smallest).  That buys the three properties a 100 TB ingest monitor
needs:

- write cost ∝ batch (one ``|groups| x k``-row shard per batch,
  never a rewrite of accumulated state — the same shard layout as
  the novelty-ingest index);
- replay idempotency: a re-run batch overwrites its OWN ``batch=N``
  directory, so retries cannot double-count;
- exact-identity reads: merged quantiles are BIT-IDENTICAL to a
  batch-mode sketch of the full data (pinned by
  ``tests/test_stream_monitor.py``), so streaming and batch
  monitoring share one set of numbers.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from hospital_data_engineering_pipeline_end_to_end_project_spark.functions.metrics import (
    hash_sample_bottom_k,
    sample_quantiles,
)
from hospital_data_engineering_pipeline_end_to_end_project_spark.streaming import shardstore


def make_sketch_batch_writer(
    out_dir: str,
    group_cols: list[str],
    id_col: str,
    val_col: str,
    k: int = 256,
):
    """The ``foreachBatch`` body: sketch THIS batch, write its shard.
    Deterministic given the batch's rows (md5 hashing, total rank
    order), so a replayed batch rewrites an identical shard."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        sk = hash_sample_bottom_k(batch_df, group_cols, id_col, val_col, k=k)
        sk.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch={batch_id}")
        )

    return handle


def sketch_monitor_sink(
    stream: DataFrame,
    out_dir: str,
    group_cols: list[str],
    id_col: str,
    val_col: str,
    k: int = 256,
    checkpoint_dir: str | None = None,
):
    """Attach the per-batch sketch writer to a stream (``foreachBatch``
    — one code path for batch and streaming, the same Kappa idiom as
    the SCD2 / novelty sinks)."""
    return shardstore.foreach_batch_sink(
        stream,
        make_sketch_batch_writer(out_dir, group_cols, id_col, val_col, k=k),
        checkpoint_dir,
    )


def read_merged_quantiles(
    spark: SparkSession,
    out_dir: str,
    group_cols: list[str],
    val_col: str,
    ps: tuple[float, ...] = (0.25, 0.5, 0.75, 0.9),
    k: int = 256,
) -> DataFrame:
    """Quantile estimates over EVERYTHING the stream has ingested,
    computed from the shards alone: union all per-batch sketches
    (``parts x k`` rows, never raw data — COMMITTED shards only, so a
    crash mid-shard-write can't corrupt the read) and let
    :func:`sample_quantiles`'s merge re-rank reproduce the direct
    sketch bit-for-bit."""
    shards = shardstore.require_shards(spark, out_dir, "sketch")
    return sample_quantiles(
        shards.select(*group_cols, "h", val_col), group_cols, val_col,
        ps=ps, k=k,
    )


# ---------------------------------------------------------------------------
# count-min monitor — the FREQUENCY counterpart of the quantile
# monitor above: counters are linear, so per-batch shards merge by
# summation instead of re-ranking
# ---------------------------------------------------------------------------


def make_countmin_batch_writer(
    out_dir: str,
    item_col: str,
    depth: int = 4,
    width: int = 256,
):
    """``foreachBatch`` body: count-min THIS batch's items, write the
    counter shard (<= depth x width rows).  Deterministic given the
    batch's rows; a replayed batch overwrites its own ``batch=N`` dir,
    so retries cannot double-count — same contract as the sketch
    writer above."""
    from hospital_data_engineering_pipeline_end_to_end_project_spark.functions.metrics import countmin_counts

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        cm = countmin_counts(batch_df, item_col, depth=depth, width=width)
        cm.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch={batch_id}")
        )

    return handle


def countmin_monitor_sink(
    stream: DataFrame,
    out_dir: str,
    item_col: str,
    depth: int = 4,
    width: int = 256,
    checkpoint_dir: str | None = None,
):
    """Attach the per-batch count-min writer to a stream — the
    running heavy-hitter monitor: each micro-batch costs one bounded
    aggregate and a <= depth x width-row shard write, and the
    accumulated shards answer "what are the hot items so far" at any
    time without touching raw data."""
    return shardstore.foreach_batch_sink(
        stream,
        make_countmin_batch_writer(out_dir, item_col, depth=depth, width=width),
        checkpoint_dir,
    )


def read_merged_countmin(
    spark: SparkSession,
    out_dir: str,
) -> DataFrame:
    """The sketch of EVERYTHING ingested so far, from shards alone:
    count-min counters are linear, so summing per-(r, bucket) across
    batch shards IS the sketch of the concatenated stream —
    bit-identical to a batch-mode build over all rows (pinned by
    ``tests/test_stream_monitor.py``).  Feed the result to
    :func:`~hospital_data_engineering_pipeline_end_to_end_project_spark.functions.metrics.countmin_estimate`
    to probe candidates."""
    from pyspark.sql import functions as F

    shards = shardstore.require_shards(spark, out_dir, "count-min")
    return shards.groupBy("r", "bucket").agg(F.sum("cnt").alias("cnt"))


# ---------------------------------------------------------------------------
# CUSUM drift monitor — the SEQUENTIAL counterpart of the two monitors
# above: CUSUM state is not a union-mergeable sketch, but the
# prefix-min identity reduces a micro-batch to four integers per group
# (operators/temporal.py:cusum_segment_summary), and those summaries
# fold associatively in batch order.  The statistic is defined over
# INGEST order (batch_id, then the in-batch sequence key) — exactly
# what a drift alarm on an arriving stream means.
# ---------------------------------------------------------------------------


def make_cusum_batch_writer(
    out_dir: str,
    group_col: str,
    order_col: str,
    value_col: str,
    k_scaled: int,
    scale: int = 1000,
):
    """``foreachBatch`` body: summarize THIS batch's per-group CUSUM
    segment (four integers per group), stamp the batch id, write the
    shard.  Deterministic given the batch's rows; a replayed batch
    overwrites its own ``batch=N`` dir, so retries cannot
    double-count — the same contract as the sketch/count-min
    writers."""
    from pyspark.sql import functions as F

    from hospital_data_engineering_pipeline_end_to_end_project_spark.operators.temporal import cusum_segment_summary

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        seg = cusum_segment_summary(
            batch_df, group_col, order_col, value_col,
            k_scaled=k_scaled, scale=scale,
        ).withColumn("batch_id", F.lit(int(batch_id)).cast("long"))
        seg.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch={batch_id}")
        )

    return handle


def cusum_monitor_sink(
    stream: DataFrame,
    out_dir: str,
    group_col: str,
    order_col: str,
    value_col: str,
    k_scaled: int,
    scale: int = 1000,
    checkpoint_dir: str | None = None,
):
    """Attach the per-batch CUSUM segment writer to a stream — the
    running drift alarm: each micro-batch costs the two bounded
    windows plus a |groups|-row shard write, and the accumulated
    shards answer "has any group's cumulative excess built past the
    alarm threshold" at any time without touching raw data."""
    return shardstore.foreach_batch_sink(
        stream,
        make_cusum_batch_writer(
            out_dir, group_col, order_col, value_col,
            k_scaled=k_scaled, scale=scale,
        ),
        checkpoint_dir,
    )


def read_merged_cusum(
    spark: SparkSession,
    out_dir: str,
    group_col: str,
) -> DataFrame:
    """The whole-stream CUSUM from shards alone: fold each group's
    per-batch segment summaries oldest-first — BIT-IDENTICAL to
    ``cusum_drift`` over the concatenated stream in ingest order
    (integer fold, pinned by ``tests/test_stream_monitor.py``).
    Returns ``(group_col, n_events, peak_cusum)``."""
    from hospital_data_engineering_pipeline_end_to_end_project_spark.operators.temporal import cusum_fold_summaries

    shards = shardstore.require_shards(spark, out_dir, "CUSUM")
    return cusum_fold_summaries(shards, group_col, "batch_id")


# ---------------------------------------------------------------------------
# shard compaction — the monitor sinks write one ``batch=N`` dir per
# micro-batch forever; these fold the accumulated shards into a single
# ``compact_upto=N`` dir (commit-then-delete, see
# ``streaming/shardstore.py``) with a VALUE-NEUTRAL per-sink fold, so
# post-compaction reads stay bit-identical (test-pinned per sink)
# ---------------------------------------------------------------------------


def compact_sketch_shards(
    spark: SparkSession,
    out_dir: str,
    group_cols: list[str],
    val_col: str,
    k: int = 256,
) -> dict[str, int]:
    """Compact the quantile-monitor store: the fold keeps each group's
    ``k`` smallest hashes (same ``(h, val)`` tie order as the sketch
    itself) — value-neutral by the bottom-k subset identity: the k
    smallest of the whole stream are a subset of the union of each
    shard's k smallest, so re-ranking the union to k rows loses
    nothing any future merge could need."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    def fold(df: DataFrame) -> DataFrame:
        w = Window.partitionBy(*group_cols).orderBy("h", val_col)
        return (
            df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= k)
            .drop("__rn")
        )

    return shardstore.compact_shards(spark, out_dir, fold=fold)


def compact_countmin_shards(spark: SparkSession, out_dir: str) -> dict[str, int]:
    """Compact the count-min store: counters are LINEAR, so the fold
    is plain per-(row, bucket) summation — exactly what the read path
    does anyway, hence value-neutral by associativity of ``+``."""
    from pyspark.sql import functions as F

    def fold(df: DataFrame) -> DataFrame:
        return df.groupBy("r", "bucket").agg(F.sum("cnt").alias("cnt"))

    return shardstore.compact_shards(spark, out_dir, fold=fold)


def compact_cusum_shards(
    spark: SparkSession, out_dir: str, group_col: str
) -> dict[str, int]:
    """Compact the CUSUM store: segment summaries form a MONOID
    (``operators/temporal.py:cusum_compose_summaries``), so each
    group's per-batch rows compose into one summary stamped with the
    group's max batch id — which still folds before any future batch.
    Value-neutral because a composed prefix folds to the same
    ``(T, Mg, P)`` carried state, integer arithmetic end-to-end."""
    from hospital_data_engineering_pipeline_end_to_end_project_spark.operators.temporal import cusum_compose_summaries

    def fold(df: DataFrame) -> DataFrame:
        return cusum_compose_summaries(df, group_col, "batch_id")

    return shardstore.compact_shards(spark, out_dir, fold=fold)


# ---------------------------------------------------------------------------
# data-quality constraint monitor (the q153 report, per micro-batch)
# ---------------------------------------------------------------------------


def make_dq_batch_writer(out_dir: str, report_fn):
    """``foreachBatch`` body: run a caller-supplied constraint report
    (``DataFrame -> (tbl, col, chk, value, ok)`` — typically a
    partial application of
    :func:`~hospital_data_engineering_pipeline_end_to_end_project_spark.operators.profiling.profile_report`)
    over THIS batch and write the per-batch report shard with
    ``batch_id`` stamped — data-quality over TIME, the axis the
    one-shot q153 gate can't see (a completeness regression in
    tonight's load is invisible to a whole-table fraction but a hard
    step in the per-batch series).

    The report frame is O(checks) rows, so the shard write is
    metrics-sized regardless of batch volume; the expensive part is
    the report's own single wide aggregate over the batch."""
    import os

    from pyspark.sql import functions as F

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        rep = report_fn(batch_df).withColumn(
            "batch_id", F.lit(int(batch_id)).cast("long")
        )
        rep.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch={batch_id}")
        )

    return handle


def dq_monitor_sink(
    stream: DataFrame,
    out_dir: str,
    report_fn,
    checkpoint_dir: str | None = None,
):
    """Attach the per-batch constraint-report writer to a stream."""
    return shardstore.foreach_batch_sink(
        stream, make_dq_batch_writer(out_dir, report_fn), checkpoint_dir
    )


def read_dq_history(spark: SparkSession, out_dir: str) -> DataFrame:
    """The per-batch constraint series: union of committed report
    shards (reports are per-batch FACTS, not mergeable summaries —
    compaction, if ever needed, is the plain-union default)."""
    return shardstore.require_shards(spark, out_dir, "DQ report")
