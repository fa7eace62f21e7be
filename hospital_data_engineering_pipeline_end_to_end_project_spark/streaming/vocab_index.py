"""Streaming word-frequency (vocabulary) index maintenance — the
tokenizer-training leg of the index family.

A :class:`~hospital_data_engineering_pipeline_end_to_end_project_spark.streaming.shardstore.ShardIndex`
store (``shardstore`` lists the others): BPE tokenizer training
iterates over the ``(word, freq)`` VOCABULARY, and at 100 TB the one
thing you must never redo is the corpus -> vocab collapse.  This sink maintains that collapse incrementally — each
arriving batch contributes its own partial word counts as a
``batch=N`` shard, and training runs entirely FROM the store with
zero corpus re-reads.

Word counts are the canonical LINEAR summary (a sum), so the whole
lifecycle is the count-min sink's, at word granularity:

- write cost ∝ batch distinct words (one partial-aggregate pass over
  the batch's tokens; never a rewrite of accumulated counts);
- replay idempotency: a re-run batch overwrites its OWN ``batch=N``
  directory, and counting is deterministic;
- compaction fold = per-word summation — value-neutral by
  associativity of ``+`` (the read path sums anyway);
- committed-only subsumption reads from ``shardstore``.

:func:`bpe_merges_from_index` is the payoff: the first-N BPE merges
computed from the STORED vocabulary, pinned hash-identical to
recomputing :func:`~hospital_data_engineering_pipeline_end_to_end_project_spark.operators.tokenizer.bpe_train_steps`
over the concatenated corpus (integer pair counts + the deterministic
winner order make the equality exact, not approximate).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hospital_data_engineering_pipeline_end_to_end_project_spark.operators import tokenizer
from hospital_data_engineering_pipeline_end_to_end_project_spark.streaming import shardstore


def _vocab_postings(
    batch_df: DataFrame, batch_id: int, text_col: str = "text"
) -> DataFrame:
    """Collapse THIS batch of documents to its partial ``(word,
    freq)`` counts.  No batch column — the dir name is the batch
    identity and counts are mergeable without it."""
    return tokenizer.word_freqs(batch_df, text_col)


def _sum_freqs(df: DataFrame) -> DataFrame:
    """Per-word summation: the compaction fold and the read path's
    own aggregate, hence value-neutral by associativity of ``+``."""
    return df.groupBy("word").agg(F.sum("freq").alias("freq"))


VOCAB = shardstore.ShardIndex("vocab count", _vocab_postings, fold=_sum_freqs)
make_vocab_batch_writer = VOCAB.writer
vocab_index_sink = VOCAB.sink
compact_vocab_shards = VOCAB.compact


def read_vocab(spark: SparkSession, out_dir: str) -> DataFrame:
    """The served vocabulary: union of active shards, summed per word.
    After compaction this is one summary-sized dir plus any newer
    batch shards."""
    return _sum_freqs(VOCAB.read(spark, out_dir))


def bpe_merges_from_index(
    spark: SparkSession,
    out_dir: str,
    steps: int = 3,
    top: int = 5,
) -> DataFrame:
    """First-``steps`` BPE merges computed entirely FROM the stored
    vocabulary — the train step a tokenizer service runs nightly
    without touching corpus text."""
    steps_df, _final = tokenizer.bpe_train_from_vocab(
        read_vocab(spark, out_dir), steps=steps, top=top
    )
    return steps_df
