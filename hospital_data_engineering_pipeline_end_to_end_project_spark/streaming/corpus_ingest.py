"""Streaming corpus ingestion with a persistent novelty gate.

The flagship training-data ingestion loop, composed from pieces this
engine already attests separately: each micro-batch of documents is
screened against the corpus's stored SimHash fingerprint INDEX
(16 bytes per admitted doc — the corpus text is never re-read, let
alone re-fingerprinted), novel docs are appended to the accepted
store, and the index advances in the same batch — so the gate a
100 TB corpus runs on every incoming crawl shard is one banded
equi-join of the batch against warm state
(``operators/dedupe.simhash_novel_against_index``, exact by the
pigeonhole argument).

The index is SHARDED per batch (``fingerprints/batch_id=N``), so the
per-batch write cost is proportional to the batch — never to the
accumulated index (a monolithic rewrite-per-batch would be quadratic
over the stream's lifetime); readers union exactly the COMMITTED
shards (``_SUCCESS`` present — a partially-written shard is never
part of anyone's index view).  Exactly-once posture mirrors the SCD2
sink (``streaming/ingest.make_scd2_batch_merger``): both the accepted
docs and the fingerprint shard land in DETERMINISTIC per-batch
directories (replaying a batch overwrites its own output, never
duplicates it), and the applied-batch marker ledger short-circuits
replays — a crash between the shard commit and the marker is
recovered by the shard's own ``_SUCCESS`` (the shard IS the epoch),
and a crash mid-write leaves no ``_SUCCESS``, so the replay purges
the partial shard, recomputes against an index that EXCLUDES the
current batch (its own half-committed fingerprints must never make
its docs test non-novel against themselves), and overwrites.

Without maintenance the shard count — and with it the probe's
list+open cost — grows linearly over the stream's lifetime, which
multiplied by batches is the next quadratic-ish term.  So the sink
COMPACTS: every ``compact_every`` committed batch shards are merged
into one ``compact_upto=N`` directory (membership-identical union,
cost ∝ index size amortized over ``compact_every`` batches), and the
subsumed per-batch shards are deleted.  The merge commits through
Spark's own ``_SUCCESS`` before any source shard is deleted, so a
crash at any point leaves a readable index: uncommitted merge →
readers still see the old shards; crash mid-delete → readers see the
merged dir plus leftover shards (duplicate ``(id, simhash)`` rows are
harmless to the banded membership test) and the next ingest finishes
the cleanup.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hospital_data_engineering_pipeline_end_to_end_project_spark.operators import dedupe
from hospital_data_engineering_pipeline_end_to_end_project_spark.plans.medallion import SilverStore
from hospital_data_engineering_pipeline_end_to_end_project_spark.streaming import shardstore

#: directory names under the store root
INDEX_DIR = "fingerprints"
ACCEPTED_DIR = "accepted"


def accepted_batch_path(root: str, batch_id: int) -> str:
    return os.path.join(root, ACCEPTED_DIR, f"batch_id={batch_id}")


def index_shard_path(root: str, batch_id: int) -> str:
    return os.path.join(root, INDEX_DIR, f"batch_id={batch_id}")


def read_index(
    spark,
    root: str,
    id_col: str = "doc_id",
    exclude_batch: int | None = None,
) -> DataFrame:
    """The ACTIVE committed fingerprint shards (explicit committed
    paths under the subsumption rule — never a partially-written dir,
    never a compaction-superseded one); ``None`` when no shard exists
    yet.

    ``exclude_batch`` is the replay path's self-exclusion guard, and
    it must survive COMPACTION: once ``compact_index`` has folded
    batch N into a ``compact_upto=M`` dir and deleted the shard, a
    replayed batch N would otherwise test its docs against their own
    fingerprints inside the merged dir, mark everything non-novel, and
    overwrite its accepted output with an empty frame.  Every shard
    row therefore carries its ``batch_id`` as a COLUMN (stamped at
    write, preserved verbatim by the union-only compaction), and
    exclusion filters on the column — shard-dir skipping alone is only
    an optimization for the not-yet-compacted case.  The replay then
    recomputes the ORIGINAL verdicts exactly: docs admitted in batch N
    stay novel against later batches too, because anything admitted
    after them was itself banded-checked > max_hamming away from their
    indexed fingerprints."""
    paths = [
        path
        for kind, n, path in shardstore.active_shard_dirs(
            os.path.join(root, INDEX_DIR)
        )
        if not (kind == "batch" and n == exclude_batch)
    ]
    if not paths:
        return None
    # mergeSchema: a store upgraded mid-stream holds PRE-r11 shards
    # with no batch_id column next to stamped ones — without the merge
    # the read's schema depends on which footer Spark happens to pick,
    # and the legacy rows may not surface a (null) batch_id at all
    df = spark.read.option("mergeSchema", "true").parquet(*paths)
    if exclude_batch is not None and "batch_id" in df.columns:
        # null-safe: pre-upgrade shards carry no batch_id column, so a
        # compacted store can surface NULL batch_id rows — a plain `!=`
        # would evaluate to NULL and silently drop every legacy
        # fingerprint from the index view, blinding the novelty gate to
        # the pre-upgrade corpus
        df = df.filter(~F.col("batch_id").eqNullSafe(F.lit(int(exclude_batch))))
    return df.select(id_col, "simhash")


def compact_index(spark, root: str) -> dict[str, int]:
    """Merge the active index shards into one ``compact_upto=N`` dir
    (N = the highest batch id seen) and delete the subsumed sources
    (``shardstore.compact_shards`` — commit-then-delete, output sized
    by bytes rather than ``coalesce(1)``'s single ever-growing file).
    Membership-identical by construction: the merged frame is the
    plain union of exactly the dirs it replaces, ``batch_id`` column
    included.  Returns before/after shard-dir counts."""
    return shardstore.compact_shards(spark, os.path.join(root, INDEX_DIR))


def make_novelty_batch_ingestor(
    store: SilverStore,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 64,
    bands: int = 4,
    max_hamming: int = 3,
    skip_applied: bool = True,
    compact_every: int | None = 16,
):
    """The ``foreachBatch`` body of :func:`novelty_ingest_sink`,
    factored out (like the SCD2 merger) so replay behavior is
    directly testable.

    Per batch: (1) intra-batch guard — among batch docs sharing an
    IDENTICAL fingerprint only the lowest id survives (the
    batch-vs-state gate cannot see duplicates that arrive together;
    near-dup pairs *within* one batch are admitted and then block all
    future look-alikes — the standard streaming-dedup horizon trade,
    documented rather than hidden); (2) batch-vs-index banded
    membership test — against COMMITTED shards only, with the current
    batch's own shard excluded so a replay after a mid-write crash
    never tests docs against their own partial fingerprints;
    (3) novel docs and their fingerprint shard each written to the
    batch's own deterministic directory (idempotent under replay;
    shard cost ∝ batch, not ∝ index); (4) every ``compact_every``
    accumulated batch shards, :func:`compact_index` merges the index
    into one dir so probe-side list+open cost stays bounded over the
    stream's lifetime (``None`` disables).
    """
    root = store.root
    ledger = shardstore.AppliedLedger(root, INDEX_DIR)

    def _ingest(batch_df: DataFrame, batch_id: int) -> None:
        shard = index_shard_path(root, batch_id)
        # the commit landed when this batch's shard is committed: the
        # shard IS the epoch
        if skip_applied and ledger.applied(
            batch_id, lambda: os.path.exists(os.path.join(shard, "_SUCCESS"))
        ):
            return
        if os.path.isdir(shard) and not os.path.exists(
            os.path.join(shard, "_SUCCESS")
        ):
            # a crash mid-shard-write left task files with no _SUCCESS;
            # purge before recomputing (read_index would already skip
            # an uncommitted dir, but half-written parquet footers
            # should not linger under the index root either)
            shutil.rmtree(shard, ignore_errors=True)
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        batch = batch_df.select(id_col, text_col)
        index = read_index(spark, root, id_col, exclude_batch=batch_id)
        if index is None:
            # empty index with the id type taken from the batch, so
            # string/int-typed ids union cleanly
            index = batch.select(id_col).limit(0).withColumn(
                "simhash", F.lit(0).cast("long")
            )
        verdicts = dedupe.simhash_novel_against_index(
            index, batch, id_col, text_col, bits, bands, max_hamming
        )
        # intra-batch guard: identical fingerprints inside one batch
        # collapse to the lowest id (deterministic)
        w = Window.partitionBy("simhash").orderBy(id_col)
        novel = (
            verdicts.filter(F.col("is_novel"))
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select(id_col, "simhash")
        )
        accepted = batch.join(novel.select(id_col), id_col, "left_semi")
        shardstore.write_shard(
            accepted, accepted_batch_path(root, batch_id)
        )
        # the batch id rides along as a COLUMN so self-exclusion
        # survives compaction folding this shard away (see read_index)
        shardstore.write_shard(
            novel.withColumn(
                "batch_id", F.lit(int(batch_id)).cast("long")
            ),
            shard,
        )
        if skip_applied:
            ledger.mark(batch_id)
        if compact_every is not None:
            n_batch_shards = sum(
                1
                for kind, _, _ in shardstore.committed_shard_dirs(
                    os.path.join(root, INDEX_DIR)
                )
                if kind == "batch"
            )
            if n_batch_shards >= compact_every:
                compact_index(spark, root)

    return _ingest


def novelty_ingest_sink(
    stream: DataFrame,
    store: SilverStore,
    checkpoint_dir: str | None = None,
    **kwargs,
):
    """Continuously ingest a document stream through the novelty gate
    (``foreachBatch`` — one code path for batch and streaming, the
    same Kappa idiom as the SCD2 sink)."""
    return shardstore.foreach_batch_sink(
        stream, make_novelty_batch_ingestor(store, **kwargs), checkpoint_dir
    )
