"""Streaming MinHash-LSH band index maintenance — per-batch band
shards.

A :class:`~hospital_data_engineering_pipeline_end_to_end_project_spark.streaming.shardstore.ShardIndex`
store (``shardstore`` lists the others): the corpus's LSH band index
is what :func:`~hospital_data_engineering_pipeline_end_to_end_project_spark.operators.dedupe.lsh_incremental_join`
probes daily, and recomputing it from the corpus text per probe is
exactly the rescan a 100 TB pipeline cannot afford.  Banding is
STATELESS per document (md5-derived MinHash under a frozen
``(num_hashes, bands, shingle_n)`` config), so the sink mirrors the
IVF contract:

- write cost ∝ batch (a ``batch=N`` shard of (id, band_id,
  band_hash) rows; never a rewrite of accumulated bands);
- replay idempotency: banding is deterministic given the config, and
  a re-run batch overwrites its OWN ``batch=N`` directory;
- exact-identity reads: the merged shards are ROW-IDENTICAL to a
  batch-mode ``minhash_bands`` over the concatenated stream (pinned
  by ``tests/test_stream_lsh_index.py``);
- lifecycle from ``shardstore``: committed-only subsumption reads,
  plain-union compaction.

:func:`incremental_join_against_index` is the payoff: the q139
incremental near-dup join with the corpus side served FROM the
stored index — candidates come from one index scan with the batch's
bands broadcast, and only the CANDIDATE corpus docs' texts are read
for exact verification (a semi-join keyed scan, not a corpus
rescan).  Pinned row-identical to the recomputing operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hospital_data_engineering_pipeline_end_to_end_project_spark.operators import dedupe
from hospital_data_engineering_pipeline_end_to_end_project_spark.streaming import shardstore


def _lsh_postings(
    batch_df: DataFrame,
    batch_id: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 5,
) -> DataFrame:
    """Band THIS batch's documents: one shingle+MinHash pass (explode
    + map-side-combined min aggregates, the q25 shape), ``(id,
    band_id, band_hash, batch_id)`` rows."""
    return dedupe.minhash_bands(
        batch_df.select(id_col, text_col),
        id_col,
        text_col,
        num_hashes=num_hashes,
        bands=bands,
        shingle_n=shingle_n,
    ).withColumn("batch_id", F.lit(int(batch_id)).cast("long"))


LSH = shardstore.ShardIndex("LSH band", _lsh_postings)
make_lsh_batch_writer = LSH.writer
lsh_index_sink = LSH.sink
read_lsh_index = LSH.read
compact_lsh_shards = LSH.compact


def incremental_join_against_index(
    spark: SparkSession,
    out_dir: str,
    corpus: DataFrame,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 5,
    t_num: int = 7,
    t_den: int = 10,
) -> DataFrame:
    """The q139 incremental near-dup join with candidates served from
    the STORED band index instead of re-banding the corpus.

    The band config must match the writer's (banding is exact given
    the config, so the candidate set is identical — pinned by
    ``tests/test_stream_lsh_index.py``).  ``corpus`` supplies only
    the TEXTS for exact verification, and only candidate docs' rows
    survive the semi-join before the shingle sets are built — the
    full corpus text is never re-shingled.

    Returns the :func:`~hospital_data_engineering_pipeline_end_to_end_project_spark.operators.dedupe.lsh_incremental_join`
    schema: ``(batch_doc, corpus_doc, inter_size, union_size,
    jaccard)``.
    """
    cb = read_lsh_index(spark, out_dir)
    bb = dedupe.minhash_bands(
        batch.select(id_col, text_col),
        id_col,
        text_col,
        num_hashes=num_hashes,
        bands=bands,
        shingle_n=shingle_n,
    )
    cand = (
        cb.alias("c")
        .join(
            F.broadcast(bb.alias("b")),
            (F.col("c.band_id") == F.col("b.band_id"))
            & (F.col("c.band_hash") == F.col("b.band_hash")),
        )
        .select(
            F.col(f"b.{id_col}").alias("batch_doc"),
            F.col(f"c.{id_col}").alias("corpus_doc"),
        )
        .distinct()
    )
    return dedupe._lsh_verify(
        cand, corpus, batch, id_col, text_col, shingle_n, t_num, t_den
    )
