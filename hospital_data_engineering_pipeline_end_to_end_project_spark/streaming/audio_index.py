"""Streaming audio feature store — per-batch energy-gram posting
shards (the persistent decoded-media feature store).

A :class:`~hospital_data_engineering_pipeline_end_to_end_project_spark.streaming.shardstore.ShardIndex`
store (``shardstore`` lists the others), closing the r13 verdict's
one remaining 100x constant in the audio matcher: q147 re-DECODED
every WAV per run (synthesis + RIFF walk + PCM energies were ~41x of
its 23x scaled growth), and on a 100 TB media corpus the decode is
the cost a nightly match must never repeat.  The energy-gram
fingerprint is STATELESS per media file (md5 over the ``|``-joined
window of exact int64 frame energies under a frozen ``(k,
frame_samples)`` config —
:func:`~hospital_data_engineering_pipeline_end_to_end_project_spark.operators.multimodal.audio_gram_postings`),
so the sink inherits the established contract wholesale:

- write cost ∝ batch (a ``batch=N`` shard of ``(media_id, pos, h)``
  posting rows; never a rewrite of accumulated features);
- replay idempotency: decode + hashing are deterministic given the
  config, and a re-run batch overwrites its OWN ``batch=N`` dir;
- exact-identity reads: the merged shards are ROW-IDENTICAL to
  batch-mode gram postings over the concatenated stream (pinned by
  ``tests/test_stream_audio_index.py``);
- lifecycle from ``shardstore``: committed-only subsumption reads,
  plain-union compaction.

:func:`segments_from_index` is the payoff — like the dHash leg it is
STRONGER than the text legs' joins: the stored postings ARE the whole
match-stage input (the diagonal-run extraction of
``audio_segment_pairs`` consumes nothing but ``(media_id, pos, h)``),
so serving shared-segment pairs re-reads ZERO payloads and runs ZERO
decodes.  Pinned row-identical to the recomputing
:func:`~hospital_data_engineering_pipeline_end_to_end_project_spark.operators.multimodal.audio_segment_pairs`.

Undecodable payloads emit no frames and therefore no postings (the
batch operator's decode drops them identically, so the equality is
exact, not "equal modulo corrupt rows").
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hospital_data_engineering_pipeline_end_to_end_project_spark.operators import multimodal
from hospital_data_engineering_pipeline_end_to_end_project_spark.operators.parallelism import fan_out
from hospital_data_engineering_pipeline_end_to_end_project_spark.streaming import shardstore


def _audio_postings(
    batch_df: DataFrame,
    batch_id: int,
    k: int = 4,
    frame_samples: int = multimodal.SPEECH_SAMPLES_PER_TOKEN,
) -> DataFrame:
    """Decode a MEDIA batch's (``media_id``, ``payload``) WAVs — one
    Arrow decode pass: positional energy-gram ``(media_id, pos, h,
    batch_id)`` posting rows."""
    # fan_out first: the decode is the compute-bound Arrow pass
    # and a micro-batch has as many partitions as trigger files
    # (the single-file-scan trap, streaming form)
    return (
        multimodal.audio_gram_postings(
            fan_out(batch_df.select("media_id", "payload")),
            k=k,
            frame_samples=frame_samples,
        )
        .select(
            "media_id",
            F.col("__pos").alias("pos"),
            F.col("__h").alias("h"),
        )
        .withColumn("batch_id", F.lit(int(batch_id)).cast("long"))
    )


def _audio_doc_postings(
    batch_df: DataFrame,
    batch_id: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 4,
    frame_samples: int = multimodal.SPEECH_SAMPLES_PER_TOKEN,
) -> DataFrame:
    """The DOCUMENT-batch form: render the batch's deterministic
    speech-shaped WAVs (the q147 synthesis — a deployment with real
    audio uses :data:`AUDIO` over its media stream instead) and decode
    them."""
    media = multimodal.synthesize_speech_wav(
        fan_out(batch_df.select(id_col, text_col)), id_col, text_col
    )
    return _audio_postings(media, batch_id, k=k, frame_samples=frame_samples)


AUDIO = shardstore.ShardIndex("audio feature", _audio_postings)
AUDIO_DOC = shardstore.ShardIndex("audio feature", _audio_doc_postings)
make_audio_batch_writer = AUDIO.writer
audio_index_sink = AUDIO.sink
make_audio_doc_batch_writer = AUDIO_DOC.writer
read_audio_index = AUDIO.read
compact_audio_shards = AUDIO.compact


def segments_from_index(
    spark: SparkSession,
    out_dir: str,
    *,
    k: int = 4,
    min_frames: int = 8,
    max_df: int | None = None,
) -> DataFrame:
    """Shared audio segments served FROM the stored postings — the
    match stage of
    :func:`~hospital_data_engineering_pipeline_end_to_end_project_spark.operators.multimodal.audio_segment_pairs`
    (``max_df`` candidate cap -> cross-media gram match -> maximal
    diagonal runs) with the decode stage replaced by one parquet read
    of the feature store.  Row-identical to the recomputing operator
    at the same knobs by construction: the stored rows are exactly
    its post-decode postings.

    The postings are not materialized here (unlike the recomputing
    form): the self-join's branches re-read a PARQUET SCAN, not a
    decode pipeline, so a checkpoint would cost more than the second
    scan it saves."""
    pos = read_audio_index(spark, out_dir).select(
        "media_id",
        F.col("pos").alias("__pos"),
        F.col("h").alias("__h"),
    )
    return multimodal._posting_run_pairs(
        pos,
        k=k,
        min_frames=min_frames,
        max_df=max_df,
        out_len="seg_frames",
        materialize_pos=False,
    )


def incremental_segments_against_index(
    spark: SparkSession,
    out_dir: str,
    batch_media: DataFrame,
    *,
    k: int = 4,
    min_frames: int = 8,
    frame_samples: int = multimodal.SPEECH_SAMPLES_PER_TOKEN,
    max_df: int | None = None,
) -> DataFrame:
    """Shared segments between an ARRIVING media batch and the indexed
    corpus — the daily-probe form: the batch is decoded once (its own
    gram postings), the corpus side comes entirely FROM the store, and
    the batch postings broadcast past the posting scan (the dHash-leg
    shape: the stored rows are the whole match input, zero corpus
    payload re-reads).

    ``max_df`` is applied to the STORED postings' distinct-media df,
    so the cap's meaning is stable as the corpus grows (the span
    leg's convention).  The ``(k, frame_samples)`` config must match
    the writer's.

    Returns ``(batch_doc, corpus_doc, start_batch, start_corpus,
    seg_frames)`` with ``batch_doc != corpus_doc`` — per-batch cost ∝
    batch decode + matched postings, never accumulated payloads.
    """
    idx = read_audio_index(spark, out_dir)
    if max_df is not None:
        drop = (
            idx.groupBy("h")
            .agg(F.countDistinct("media_id").alias("__df"))
            .filter(F.col("__df") > max_df)
            .select("h")
        )
        idx = idx.join(drop, "h", "left_anti")
    bpos = multimodal.audio_gram_postings(
        batch_media, k=k, frame_samples=frame_samples
    ).select(
        F.col("media_id").alias("batch_doc"),
        F.col("__pos").alias("__pb"),
        F.col("__h").alias("h"),
    )
    m = (
        idx.select(
            F.col("media_id").alias("corpus_doc"),
            F.col("pos").alias("__pc"),
            "h",
        )
        .join(F.broadcast(bpos), "h")
        .filter(F.col("batch_doc") != F.col("corpus_doc"))
    )
    from hospital_data_engineering_pipeline_end_to_end_project_spark.operators import dedupe

    return dedupe.diagonal_spans(
        m,
        "batch_doc",
        "corpus_doc",
        "__pb",
        "__pc",
        k=k,
        min_run=min_frames - k + 1,
        out_left="start_batch",
        out_right="start_corpus",
    ).withColumnRenamed("span_tokens", "seg_frames")
