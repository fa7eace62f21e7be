"""Streaming content-defined-chunk index — per-batch chunk-hash
shards (the persistent CDC dedup store).

A :class:`~hospital_data_engineering_pipeline_end_to_end_project_spark.streaming.shardstore.ShardIndex`
store (``shardstore`` lists the others): boilerplate and
shared-passage detection over a growing corpus should not re-chunk
the accumulated corpus per run.  CDC chunking is STATELESS per
document (boundaries are a pure function of the token stream under a
frozen ``(w, boundary_mod)`` config —
:func:`~hospital_data_engineering_pipeline_end_to_end_project_spark.operators.dedupe.cdc_chunks`),
so the sink inherits the established contract wholesale:

- write cost ∝ batch (a ``batch=N`` shard of ``(doc_id, chunk_idx,
  chunk_hash, n_tokens)`` rows — hashes only, never chunk TEXT: the
  md5 identity is the family's exactness convention and the
  ids-only row is fixed-width, the r14 q140 shuffle lesson);
- replay idempotency: chunking is deterministic given the config,
  and a re-run batch overwrites its OWN ``batch=N`` dir;
- exact-identity reads: the merged shards are ROW-IDENTICAL to
  batch-mode ``cdc_chunks`` over the concatenated stream (pinned by
  ``tests/test_stream_chunk_index.py``);
- lifecycle from ``shardstore``: committed-only subsumption reads,
  plain-union compaction.

Like the dHash and audio legs, the stored rows ARE the whole match
input — :func:`dup_chunks_from_index` and
:func:`incremental_dup_chunks_against_index` re-read ZERO document
payloads and re-chunk nothing but the arriving batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hospital_data_engineering_pipeline_end_to_end_project_spark.operators import dedupe
from hospital_data_engineering_pipeline_end_to_end_project_spark.operators.parallelism import fan_out
from hospital_data_engineering_pipeline_end_to_end_project_spark.streaming import shardstore

def _chunk_postings(
    batch_df: DataFrame,
    batch_id: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    w: int = 4,
    boundary_mod: int = 32,
) -> DataFrame:
    """CDC-chunk THIS batch of documents (one codegen chunking pass):
    ``(doc_id, chunk_idx, chunk_hash, n_tokens, batch_id)`` rows."""
    # fan_out first: a micro-batch has as many partitions as
    # trigger files and the chunker is the compute-bound codegen
    # pass (the single-file-scan trap, streaming form)
    return (
        dedupe.cdc_chunks(
            fan_out(batch_df.select(id_col, text_col)),
            id_col,
            text_col,
            w=w,
            boundary_mod=boundary_mod,
        )
        .select(
            F.col(id_col).alias("doc_id"),
            "chunk_idx",
            "chunk_hash",
            "n_tokens",
        )
        .withColumn("batch_id", F.lit(int(batch_id)).cast("long"))
    )


CHUNK = shardstore.ShardIndex("CDC chunk", _chunk_postings)
make_chunk_batch_writer = CHUNK.writer
chunk_index_sink = CHUNK.sink
read_chunk_index = CHUNK.read
compact_chunk_shards = CHUNK.compact


def dup_chunks_from_index(
    spark: SparkSession, out_dir: str, *, min_copies: int = 2
) -> DataFrame:
    """The chunk-duplication report served FROM the store — the
    aggregate stage of
    :func:`~hospital_data_engineering_pipeline_end_to_end_project_spark.operators.dedupe.cdc_dup_chunks`
    with the chunking stage replaced by one parquet read.
    Row-identical to the recomputing operator by construction: the
    stored rows are exactly its post-chunking frame."""
    ch = read_chunk_index(spark, out_dir)
    return (
        ch.groupBy("chunk_hash")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_copies"),
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.max("n_tokens").cast("long").alias("n_tokens"),
        )
        .filter(F.col("n_copies") >= min_copies)
    )


def incremental_dup_chunks_against_index(
    spark: SparkSession,
    out_dir: str,
    batch_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    w: int = 4,
    boundary_mod: int = 32,
) -> DataFrame:
    """Which chunks of an ARRIVING batch already exist in the indexed
    corpus — the daily-probe form: the batch is chunked once, its
    DISTINCT hashes broadcast past the store scan (the dHash-leg
    shape: stored rows are the whole corpus-side input, zero payload
    re-reads), and the matched store rows collapse to per-hash corpus
    counts.

    Returns ``(chunk_hash, n_batch_copies, n_corpus_copies,
    n_corpus_docs, n_tokens)`` — one row per chunk text shared
    between batch and corpus; per-probe cost ∝ batch chunking +
    matched store rows.  The ``(w, boundary_mod)`` config must match
    the writer's."""
    bc = (
        dedupe.cdc_chunks(batch_docs, id_col, text_col, w=w, boundary_mod=boundary_mod)
        .groupBy("chunk_hash")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_batch_copies"),
            F.max("n_tokens").cast("long").alias("n_tokens"),
        )
    )
    idx = read_chunk_index(spark, out_dir).select("doc_id", "chunk_hash")
    matched = idx.join(
        F.broadcast(bc.select("chunk_hash")), "chunk_hash", "left_semi"
    )
    corpus_counts = matched.groupBy("chunk_hash").agg(
        F.count(F.lit(1)).cast("long").alias("n_corpus_copies"),
        F.countDistinct("doc_id").cast("long").alias("n_corpus_docs"),
    )
    return corpus_counts.join(F.broadcast(bc), "chunk_hash").select(
        "chunk_hash",
        "n_batch_copies",
        "n_corpus_copies",
        "n_corpus_docs",
        "n_tokens",
    )
