"""Structured Streaming ingest (north-star extension; SURVEY 2.8 —
the reference has no streaming surface; its "incremental loads" are
re-runnable batch merges).

Three building blocks:

- :func:`read_event_stream` — schema'd file/rate stream source
- :func:`windowed_event_counts` — tumbling-window aggregate with a
  watermark (late data dropped deterministically; state is bounded,
  which is what makes it runnable forever at cluster scale)
- :func:`scd2_sink` — the standard streaming-SCD2 idiom:
  ``foreachBatch`` applies the engine's batch merge
  (``operators/scd2.py``) to every micro-batch, turning the stream
  into continuously-versioned Silver state.

Under the hood each micro-batch is a normal Catalyst plan, so all the
batch-side design (decimal-exact aggs, broadcast dims, AQE) carries
over unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hospital_data_engineering_pipeline_end_to_end_project_spark.operators import scd2
from hospital_data_engineering_pipeline_end_to_end_project_spark.plans.medallion import SilverStore
from hospital_data_engineering_pipeline_end_to_end_project_spark.streaming import shardstore

EVENT_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
    ]
)


def read_event_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 10
) -> DataFrame:
    """NDJSON file-source stream with an explicit schema (streaming
    reads must never infer — inference is a full scan per trigger)."""
    return (
        spark.readStream.schema(EVENT_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(path)
    )


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling-window counts/sums with late-data watermark.

    The watermark bounds state: windows older than (max event time -
    watermark) are finalized and evicted, so state size is
    O(active windows x keys) regardless of stream length.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias(
                "sum_value"
            ),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def dedupe_event_stream(
    events: DataFrame,
    keys: list[str] | None = None,
    time_col: str = "ts",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming exact dedup with bounded state.

    ``dropDuplicatesWithinWatermark``: a key is remembered only until
    the watermark passes its first-seen event time, then its dedup
    state is evicted — so state is O(keys per watermark horizon), not
    O(all keys ever), which is the difference between a pipeline that
    runs forever and one that OOMs after a week.  Duplicates arriving
    inside the horizon (the at-least-once-delivery case this op
    exists for) are dropped; a re-delivery later than the watermark is
    out of contract, exactly like late data in the windowed agg.
    Plain ``dropDuplicates`` on a stream would keep every key forever.
    """
    return events.withWatermark(time_col, watermark).dropDuplicatesWithinWatermark(
        keys or ["event_id"]
    )


def make_scd2_batch_merger(
    store: SilverStore,
    entity: str,
    spec: scd2.Scd2Spec,
    processing_date_fn=None,
    skip_applied: bool = True,
):
    """The ``foreachBatch`` body of :func:`scd2_sink`, factored out so
    the replay behavior is directly testable.

    Exactly-once posture (foreachBatch is AT-LEAST-ONCE: on recovery
    Structured Streaming re-delivers the last uncommitted batch):

    - the SCD2 merge itself is idempotent for an identical batch at
      the same processing date, so with a DETERMINISTIC
      ``processing_date_fn`` (batch_id -> date) a replay is a
      semantic no-op even with no ledger;
    - ``skip_applied`` adds an applied-batch LEDGER (one marker file
      per batch id under the store root) that also protects
      NON-deterministic date functions (wall clock): a replayed batch
      id is skipped outright.  The marker itself is written after the
      state commit, but the commit CARRIES the batch id — the store
      publishes an epoch file inside the state directory in the same
      atomic rename (``SilverStore.write(applied_batch=...)``) — so a
      crash between commit and marker is recovered on replay: the
      merger sees the state's own epoch equals the replayed batch id,
      restores the missing marker, and skips the merge.  foreachBatch
      re-delivers only the LAST uncommitted batch, so the single
      epoch slot covers the whole window; no double-apply remains
      even for wall-clock date functions.  The ledger is
      ``shardstore.AppliedLedger`` (a Delta deployment uses the
      transaction log instead, where MERGE makes the commit itself
      transactional).
    """
    date_fn = processing_date_fn or (lambda batch_id: "2026-01-01")
    ledger = shardstore.AppliedLedger(store.root, entity)

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        # the commit landed when the state's own epoch IS this batch:
        # it already is the post-batch state
        if skip_applied and ledger.applied(
            batch_id, lambda: store.last_applied(entity) == batch_id
        ):
            return
        if batch_df.isEmpty():
            return
        pdate = date_fn(batch_id)
        if store.exists(entity):
            new_state = scd2.merge(store.read(entity), batch_df, spec, pdate)
        else:
            new_state = scd2.initial_load(batch_df, spec, pdate)
        store.write(
            entity, new_state, applied_batch=batch_id if skip_applied else None
        )
        if skip_applied:
            ledger.mark(batch_id)

    return _merge


def scd2_sink(
    stream: DataFrame,
    store: SilverStore,
    entity: str,
    spec: scd2.Scd2Spec,
    processing_date_fn=None,
    checkpoint_dir: str | None = None,
    skip_applied: bool = True,
):
    """Continuously merge a stream into SCD2-versioned Silver state.

    ``foreachBatch`` hands each micro-batch to the exact batch merge
    used by the medallion pipeline — one code path for batch and
    streaming (the Kappa-style idiom).  ``processing_date_fn`` maps a
    batch id to the effective date (injectable for determinism); see
    :func:`make_scd2_batch_merger` for the replay/exactly-once
    contract.
    """
    return shardstore.foreach_batch_sink(
        stream,
        make_scd2_batch_merger(
            store, entity, spec, processing_date_fn, skip_applied
        ),
        checkpoint_dir,
    )


def interval_join_streams(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    max_delay: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Stream-stream inner join within a bounded event-time interval.

    The attribution-join shape (impression joined to a click that
    follows within ``max_delay``).  Both sides carry a watermark and
    the join condition bounds right-side event time to
    ``[left.ts, left.ts + max_delay]`` — together these let Spark
    evict join state deterministically, which is what makes a
    stream-stream join runnable forever: without the time bound the
    state grows without limit.

    Output: key, left/right event ids and timestamps, and the delay in
    seconds.  Works identically on batch DataFrames (the same plan
    minus state eviction), so tests can oracle it against a batch
    join.
    """
    l = left.withWatermark("ts", watermark).select(
        F.col(key).alias("k"),
        F.col("event_id").alias("left_id"),
        F.col("ts").alias("left_ts"),
    )
    r = right.withWatermark("ts", watermark).select(
        F.col(key).alias("rk"),
        F.col("event_id").alias("right_id"),
        F.col("ts").alias("right_ts"),
    )
    joined = l.join(
        r,
        (F.col("k") == F.col("rk"))
        & (F.col("right_ts") >= F.col("left_ts"))
        & (F.col("right_ts") <= F.col("left_ts") + F.expr(f"INTERVAL {max_delay}")),
    )
    return joined.select(
        F.col("k").alias(key),
        "left_id",
        "right_id",
        "left_ts",
        "right_ts",
        (F.unix_timestamp("right_ts") - F.unix_timestamp("left_ts")).alias(
            "delay_s"
        ),
    )


def session_event_counts(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Per-user session aggregation on a stream (gap-merged windows).

    The streaming form of the q69 batch operator — same
    ``session_window`` expression, so batch and stream share
    semantics.  A session closes (and its state evicts) once the
    watermark passes session end + gap; append mode then emits exactly
    one row per session.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def enrich_with_dim(
    events: DataFrame,
    dim: DataFrame,
    key: str,
    how: str = "left",
) -> DataFrame:
    """Stream-static dimension enrichment — the remaining join shape
    next to stream-stream (:func:`interval_join_streams`): each
    micro-batch equi-joins the static dimension, which Spark plans as
    a broadcast against every trigger (the dim is re-resolved per
    batch, so slowly-changing dims pick up table updates between
    triggers without restarting the query).

    At scale the dim must be broadcast-sized (the usual star contract
    — q04's batch counterpart); a corpus-sized static side would force
    a per-trigger shuffle of the stream.  ``left`` keeps events whose
    key has no dim row yet (late dimension arrival), the common
    streaming default.
    """
    return events.join(F.broadcast(dim), key, how)
