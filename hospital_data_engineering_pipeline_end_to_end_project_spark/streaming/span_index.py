"""Streaming winnowing fingerprint index maintenance — per-batch
fingerprint-posting shards.

A :class:`~hospital_data_engineering_pipeline_end_to_end_project_spark.streaming.shardstore.ShardIndex`
store (``shardstore`` lists the others): the corpus's selected
winnowing fingerprints are what
:func:`~hospital_data_engineering_pipeline_end_to_end_project_spark.operators.dedupe.repeated_span_pairs`
derives as its stage-1 candidates, and re-winnowing the corpus per
probe is the rescan a 100 TB pipeline cannot afford.  Winnowing
selection is STATELESS per document (md5-derived k-gram hashes +
rightmost-min-per-window under a frozen ``(k, w)`` config), so the
sink inherits the established contract:

- write cost ∝ batch (a ``batch=N`` shard of (id, fp) posting rows;
  never a rewrite of accumulated fingerprints);
- replay idempotency: selection is deterministic given the config,
  and a re-run batch overwrites its OWN ``batch=N`` directory;
- exact-identity reads: the merged shards are ROW-IDENTICAL to
  batch-mode winnowing of the concatenated stream (pinned by
  ``tests/test_stream_span_index.py``);
- lifecycle from ``shardstore``: committed-only subsumption reads,
  plain-union compaction.

:func:`incremental_spans_against_index` is the payoff: exact
repeated-span extraction between an arriving batch and the indexed
corpus — candidates come from one posting-index scan with the
batch's fingerprints broadcast (lossless for spans >= w + k - 1 by
the winnowing guarantee, exactly stage 1 of the batch operator), and
only the CANDIDATE corpus docs' texts are re-read for the positional
stage-2 match.  Pinned row-identical to
:func:`~hospital_data_engineering_pipeline_end_to_end_project_spark.operators.dedupe.repeated_span_pairs`
over the concatenated corpus restricted to batch-vs-corpus pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hospital_data_engineering_pipeline_end_to_end_project_spark.operators import dedupe
from hospital_data_engineering_pipeline_end_to_end_project_spark.operators.parallelism import fan_out
from hospital_data_engineering_pipeline_end_to_end_project_spark.streaming import shardstore


def _fp_postings(
    batch_df: DataFrame, id_col: str, text_col: str, k: int, w: int
) -> DataFrame:
    """Exploded winnowing postings ``(id_col, fp)`` for one batch —
    the per-doc selection of ``dedupe._winnow_fp_arrays`` (distinct
    selected fingerprints), one posting row per (doc, fingerprint).

    ``fan_out`` first: a micro-batch has as many partitions as files
    in the trigger (2 in the harness), and winnowing selection is
    the compute-bound O(n*w) interpreted-HOF pass — without the
    balancing shuffle the whole batch runs on that many cores (the
    single-file-scan trap, here in streaming form)."""
    return dedupe._winnow_fp_arrays(
        fan_out(batch_df.select(id_col, text_col)), id_col, text_col, k, w
    ).select(F.col(id_col), F.explode("__fps").alias("fp"))


def _span_postings(
    batch_df: DataFrame,
    batch_id: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    w: int = 9,
) -> DataFrame:
    """Winnow THIS batch's documents (hashing + rightmost-min
    selection on the scan, the q137 shape): ``(id, fp, batch_id)``
    posting rows."""
    return _fp_postings(batch_df, id_col, text_col, k, w).withColumn(
        "batch_id", F.lit(int(batch_id)).cast("long")
    )


SPAN = shardstore.ShardIndex("fingerprint", _span_postings)
make_span_batch_writer = SPAN.writer
span_index_sink = SPAN.sink
read_span_index = SPAN.read
compact_span_shards = SPAN.compact


def incremental_spans_against_index(
    spark: SparkSession,
    out_dir: str,
    corpus: DataFrame,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    k: int = 8,
    w: int = 9,
    min_span: int | None = None,
    max_df: int | None = None,
) -> DataFrame:
    """Exact repeated spans between ``batch`` and the indexed corpus,
    candidates served FROM the stored posting index instead of
    re-winnowing the corpus.

    ``max_df`` is the boilerplate escape of the batch operator,
    applied to the STORED postings: fingerprints held by more than
    ``max_df`` indexed documents are dropped from candidate
    generation (the same stated recall trade — spans whose every
    shared fingerprint is corpus-ubiquitous are boilerplate by
    definition).  The df is computed against the index, so the cap's
    meaning is stable as the corpus grows.

    The ``(k, w)`` config must match the writer's (selection is
    exact given the config, so the candidate set is identical).
    ``corpus`` supplies only the TEXTS for the positional stage-2
    match, and only candidate docs' rows survive the semi-join before
    the positional grams are built — the full corpus text is never
    re-hashed.  The guarantee and bounds are
    :func:`~hospital_data_engineering_pipeline_end_to_end_project_spark.operators.dedupe.repeated_span_pairs`'s:
    lossless for spans >= ``w + k - 1``, stage-2 volume pair-bounded,
    island windows bounded by doc length.

    Returns ``(batch_doc, corpus_doc, start_batch, start_corpus,
    span_tokens)``.
    """
    guarantee = w + k - 1
    if min_span is None:
        min_span = guarantee
    if min_span < guarantee:
        raise ValueError(
            f"min_span={min_span} below the winnowing guarantee bound "
            f"w + k - 1 = {guarantee}"
        )
    idx = read_span_index(spark, out_dir)
    if max_df is not None:
        keep = (
            idx.groupBy("fp")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") <= max_df)
            .select("fp")
        )
        idx = idx.join(keep, "fp", "left_semi")
    bfp = _fp_postings(batch, id_col, text_col, k, w)
    cand = (
        idx.alias("c")
        .join(F.broadcast(bfp.alias("b")), F.col("c.fp") == F.col("b.fp"))
        .select(
            F.col(f"b.{id_col}").alias("batch_doc"),
            F.col(f"c.{id_col}").alias("corpus_doc"),
        )
        .filter(F.col("batch_doc") != F.col("corpus_doc"))
        .distinct()
    )
    pos_b = dedupe.positional_gram_hashes(
        batch.join(
            cand.select(F.col("batch_doc").alias(id_col)).distinct(),
            id_col,
            "left_semi",
        ),
        id_col,
        text_col,
        k,
    ).select(
        F.col(id_col).alias("batch_doc"), F.col("__pos").alias("__pb"), "__h"
    )
    pos_c = dedupe.positional_gram_hashes(
        corpus.join(
            cand.select(F.col("corpus_doc").alias(id_col)).distinct(),
            id_col,
            "left_semi",
        ),
        id_col,
        text_col,
        k,
    ).select(
        F.col(id_col).alias("corpus_doc"), F.col("__pos").alias("__pc"), "__h"
    )
    m = cand.join(pos_b, "batch_doc").join(pos_c, ["corpus_doc", "__h"])
    return dedupe.diagonal_spans(
        m,
        "batch_doc",
        "corpus_doc",
        "__pb",
        "__pc",
        k=k,
        min_run=min_span - k + 1,
        out_left="start_batch",
        out_right="start_corpus",
    )
