"""Streaming perceptual-hash (dHash) index maintenance — per-batch
fingerprint shards.

A :class:`~hospital_data_engineering_pipeline_end_to_end_project_spark.streaming.shardstore.ShardIndex`
store (``shardstore`` lists the others) over the multimodal columns:
the corpus's image fingerprints are what a daily image-dedup probe
needs, and re-decoding accumulated image payloads per probe is the
rescan a 100 TB media pipeline cannot afford.  dHash is STATELESS
per image (a pure function of the decoded raster under the frozen
9x8 grid), so the sink inherits the established contract wholesale:

- write cost ∝ batch (a ``batch=N`` shard of ``(media_id, b0..b3)``
  rows — ONE row per image, four 16-bit band integers; never a
  rewrite of accumulated fingerprints);
- replay idempotency: hashing is deterministic given the geometry,
  and a re-run batch overwrites its OWN ``batch=N`` directory;
- exact-identity reads: the merged shards are ROW-IDENTICAL to
  batch-mode :func:`~hospital_data_engineering_pipeline_end_to_end_project_spark.operators.multimodal.dhash_bands_from_pgm`
  over the concatenated stream's decodable payloads (pinned by
  ``tests/test_stream_dhash_index.py``);
- lifecycle from ``shardstore``: committed-only subsumption reads,
  plain-union compaction.

:func:`incremental_image_join_against_index` is the payoff — and it
is STRONGER than the text legs' joins: the stored rows ARE the full
fingerprints, so exact Hamming verification runs entirely against
the index.  Zero corpus payloads are re-read or re-decoded per probe
(the LSH leg must still semi-join back to candidate texts; here the
64 bits in the postings are the whole verification input).  Pinned
row-identical to the recomputing
:func:`~hospital_data_engineering_pipeline_end_to_end_project_spark.operators.multimodal.dhash_cross_pairs`.

Undecodable payloads never enter the index (the batch operator
filters ``decode_ok`` identically, so the equality is exact, not
"equal modulo corrupt rows").
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hospital_data_engineering_pipeline_end_to_end_project_spark.operators import multimodal
from hospital_data_engineering_pipeline_end_to_end_project_spark.operators.parallelism import fan_out
from hospital_data_engineering_pipeline_end_to_end_project_spark.streaming import shardstore

_HASH_COLS = ("b0", "b1", "b2", "b3")


def _dhash_postings(batch_df: DataFrame, batch_id: int) -> DataFrame:
    """dHash a MEDIA batch's (``media_id``, ``payload``) decodable
    payloads — one Arrow-batched decode+hash pass: ``(media_id,
    b0..b3, batch_id)`` rows."""
    # fan_out first: a micro-batch has as many partitions as files
    # in the trigger, and the decode+hash is the compute-bound
    # Arrow pass — without the balancing shuffle the whole batch
    # runs on that many cores (the single-file-scan trap, here in
    # streaming form; payloads are ~100 bytes, the shuffle is cheap)
    return (
        multimodal.dhash_bands_from_pgm(
            fan_out(batch_df.select("media_id", "payload"))
        )
        .filter(F.col("decode_ok"))
        .select("media_id", *_HASH_COLS)
        .withColumn("batch_id", F.lit(int(batch_id)).cast("long"))
    )


def _dhash_doc_postings(
    batch_df: DataFrame,
    batch_id: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The DOCUMENT-batch form: render the batch's synthetic
    thumbnails (the q146/q149 synthesis — a deployment with real
    images uses :data:`DHASH` over its media stream instead) and hash
    them.  ``fan_out`` runs BELOW the synthesis so both the
    72-hash-per-doc rendering and the decode spread across every
    core."""
    media = multimodal.synthesize_minhash_pgm(
        fan_out(batch_df.select(id_col, text_col)), id_col, text_col
    )
    return _dhash_postings(media, batch_id)


DHASH = shardstore.ShardIndex("dHash fingerprint", _dhash_postings)
DHASH_DOC = shardstore.ShardIndex("dHash fingerprint", _dhash_doc_postings)
make_dhash_batch_writer = DHASH.writer
dhash_index_sink = DHASH.sink
make_dhash_doc_batch_writer = DHASH_DOC.writer
dhash_doc_index_sink = DHASH_DOC.sink
read_dhash_index = DHASH.read
compact_dhash_shards = DHASH.compact


def incremental_image_join_against_index(
    spark: SparkSession,
    out_dir: str,
    batch_media: DataFrame,
    *,
    max_hamming: int = 3,
) -> DataFrame:
    """Batch-vs-corpus perceptual near-dup join with the corpus side
    served ENTIRELY from the stored index: candidates from a banded
    equi-join of the index scan against the batch's broadcast bands
    (pigeonhole-exact for ``max_hamming < 4``), exact Hamming
    verification against the STORED 64-bit fingerprints — no corpus
    payload is re-read, no re-decode, one index scan total.

    Returns ``(batch_doc, corpus_doc, hamming)`` — the
    :func:`~hospital_data_engineering_pipeline_end_to_end_project_spark.operators.multimodal.dhash_cross_pairs`
    schema; pinned row-identical to it by
    ``tests/test_stream_dhash_index.py``.
    """
    if max_hamming >= multimodal.DHASH_BANDS:
        raise ValueError(
            f"max_hamming={max_hamming} breaks the pigeonhole guarantee "
            f"with {multimodal.DHASH_BANDS} bands (needs max_hamming < bands)"
        )
    idx = read_dhash_index(spark, out_dir)
    bh = multimodal.dhash_bands_from_pgm(
        batch_media.select("media_id", "payload")
    ).filter(F.col("decode_ok"))
    # the stored hash columns ride THROUGH the band join (four ints,
    # functionally dependent on the id): ONE scan of the index, one
    # broadcast equi-join, one distinct — no candidate re-join against
    # the full posting table, so the index is never shuffled
    cb = idx.select(
        F.col("media_id").alias("corpus_doc"),
        *[F.col(c).alias(f"__y{j}") for j, c in enumerate(_HASH_COLS)],
        F.posexplode(F.array(*_HASH_COLS)).alias("band_id", "band_val"),
    )
    bb = bh.select(
        F.col("media_id").alias("batch_doc"),
        *[F.col(c).alias(f"__x{j}") for j, c in enumerate(_HASH_COLS)],
        F.posexplode(F.array(*_HASH_COLS)).alias("band_id", "band_val"),
    )
    hamming = sum(
        F.bit_count(F.col(f"__x{j}").bitwiseXOR(F.col(f"__y{j}")))
        for j in range(multimodal.DHASH_BANDS)
    ).cast("long")
    return (
        cb.join(F.broadcast(bb), ["band_id", "band_val"])
        .select("batch_doc", "corpus_doc", hamming.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
