"""Committed-shard store: the shared lifecycle machinery behind every
per-batch streaming sink, and the one :class:`ShardIndex` spec the
index stores are built on.

Every per-batch sink in this engine shares one layout: each
micro-batch writes its own deterministic ``batch=N`` (or
``batch_id=N``) parquet directory, so replay overwrites rather than
duplicates, and readers union the accumulated shards.  The stream
side is one :func:`foreach_batch_sink` for all of them (the monitor
sinks, the SCD2 and novelty-ingest sinks and the index stores).

A :class:`ShardIndex` is a store defined by its postings builder and
an optional compaction fold; its ``writer`` / ``sink`` / ``read`` /
``compact`` methods are the whole lifecycle.  The stores built on it:
MinHash-LSH bands (``lsh_index``), winnowing fingerprints
(``span_index``), image dHash (``dhash_index``), CDC chunk hashes
(``chunk_index``), audio energy-grams (``audio_index``), word counts
(``vocab_index``, folded by summation) and IVF postings
(``ann_index``, under its epoch root).  The novelty gate
(``corpus_ingest``) and the monitor sinks (``monitor``) use the
listing, read and compaction functions directly.

The layout has three lifecycle obligations this module centralizes:

- **Committed-only reads.**  A crash mid-shard-write leaves a partial
  directory with task files but no ``_SUCCESS``; unioning it corrupts
  or fails the read.  Every listing here filters to dirs containing
  Spark's ``_SUCCESS`` marker, and ignores entries whose numeric
  suffix does not parse (a leftover temp/renamed dir must degrade to
  "skipped", never to a raised ``ValueError`` that bricks the store).

- **Compaction.**  Shard count grows linearly over the stream's
  lifetime and the probe's list+open cost with it (measured in
  BASELINE.md: 0.093 s -> 0.27 s by 60 shards on a *local* fs; object
  stores are far worse).  :func:`compact_shards` folds every active
  shard into one ``compact_upto=N`` dir — committed through Spark's
  own ``_SUCCESS`` *before* any source is deleted, so the store is
  readable at every instant — and sizes the output by bytes rather
  than forcing one file (a ``coalesce(1)`` rewrite would be a single
  task over an ever-growing file, collapsing read parallelism as the
  store grows).  Sinks whose shards are mergeable summaries pass a
  ``fold`` (bottom-k re-rank, counter summation, CUSUM segment
  composition) so the compacted dir shrinks to summary size.

- **Subsumption reads.**  Once ``compact_upto=M`` is committed, every
  batch shard ``<= M`` is redundant; readers take the newest compacted
  dir plus only the batch shards ``> M``.  This makes reads EXACT (not
  merely duplicate-tolerant) in every crash window: uncommitted merge
  -> old shards still served; crash mid-cleanup -> leftovers are
  excluded by the rule rather than double-counted; a batch replayed
  *after* its shard was compacted away lands a ``batch=N <= M`` dir
  that the rule ignores.
"""

from __future__ import annotations

import dataclasses
import functools
import inspect
import math
import os
import shutil
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hospital_data_engineering_pipeline_end_to_end_project_spark.operators.parallelism import (
    run_concurrently,
)
from hospital_data_engineering_pipeline_end_to_end_project_spark.sources.readers import (
    read_parquet,
)

#: recognized shard-dir prefixes: per-batch shards under either naming
#: convention, and the compacted-merge dir
BATCH_PREFIXES = ("batch=", "batch_id=")
COMPACT_PREFIX = "compact_upto="

#: compaction output sizing — small relative to the table default
#: because shard stores hold fingerprints/summaries, not fact rows
DEFAULT_TARGET_BYTES = 64 * 1024 * 1024


def committed_shard_dirs(root: str) -> list[tuple[str, int, str]]:
    """``(kind, n, path)`` for every COMMITTED shard dir under root —
    kind ``"batch"`` (``batch=n`` / ``batch_id=n``) or ``"compact"``
    (``compact_upto=n``).  Commit = Spark's ``_SUCCESS``, so partial
    writes are invisible; unparseable suffixes (a stray temp dir) are
    skipped, not raised."""
    out: list[tuple[str, int, str]] = []
    if not os.path.isdir(root):
        return out
    for e in sorted(os.listdir(root)):
        kind = None
        if e.startswith(COMPACT_PREFIX):
            kind = "compact"
        else:
            for p in BATCH_PREFIXES:
                if e.startswith(p):
                    kind = "batch"
                    break
        if kind is None:
            continue
        try:
            n = int(e.split("=", 1)[1])
        except ValueError:
            continue
        path = os.path.join(root, e)
        if os.path.exists(os.path.join(path, "_SUCCESS")):
            out.append((kind, n, path))
    return out


def active_shard_dirs(root: str) -> list[tuple[str, int, str]]:
    """The dirs a reader should union: the newest committed
    ``compact_upto=M`` (if any) plus batch shards strictly ``> M`` —
    the subsumption rule that keeps reads exact through every
    compaction crash window and through post-compaction replays."""
    shards = committed_shard_dirs(root)
    ms = [n for kind, n, _ in shards if kind == "compact"]
    if not ms:
        return shards
    m = max(ms)
    return [
        (kind, n, path)
        for kind, n, path in shards
        if (kind == "compact" and n == m) or (kind == "batch" and n > m)
    ]


def read_shards(spark: SparkSession, root: str) -> DataFrame | None:
    """Union of the active committed shards (explicit paths — never a
    glob that could pick up a partially-written dir); ``None`` when no
    committed shard exists yet.  Shards are Spark-written, so the
    schema comes from a footer, not from an inference job."""
    paths = [p for _, _, p in active_shard_dirs(root)]
    if not paths:
        return None
    return read_parquet(spark, *paths)


def require_shards(spark: SparkSession, root: str, label: str) -> DataFrame:
    """:func:`read_shards` for a store that must exist: an empty or
    not-yet-committed store raises ``FileNotFoundError`` naming
    ``root`` and the store's ``label``."""
    df = read_shards(spark, root)
    if df is None:
        raise FileNotFoundError(f"no committed {label} shards under {root!r}")
    return df


def cleanup_subsumed(root: str) -> None:
    """Finish an interrupted compaction: once ``compact_upto=M`` is
    committed, every batch shard ``<= M`` and every older compacted
    dir is redundant — delete them (idempotent)."""
    shards = committed_shard_dirs(root)
    ms = [n for kind, n, _ in shards if kind == "compact"]
    if not ms:
        return
    m = max(ms)
    for kind, n, path in shards:
        if (kind == "batch" and n <= m) or (kind == "compact" and n < m):
            shutil.rmtree(path, ignore_errors=True)


def _dir_bytes(paths: list[str]) -> int:
    total = 0
    for p in paths:
        for r, _dirs, files in os.walk(p):
            for f in files:
                if f.endswith(".parquet"):
                    total += os.path.getsize(os.path.join(r, f))
    return total


def write_shard(df: DataFrame, dest: str) -> None:
    """Write one batch shard with AQE-sized output files: a REBALANCE
    hint before the write lets AQE coalesce the shard to
    ``advisoryPartitionSizeInBytes``-sized files instead of one file
    per upstream compute task — a compute-parallel batch (the writers
    all fan the decode/hash stage across every core) otherwise writes
    cores-many KB-sized files, and every later list+open of the store
    pays for them (guide §6's small-files tax; object stores far more
    than local fs).  The extra exchange moves only the post-compute
    shard rows, and at real batch sizes AQE re-expands the partition
    count to match the data, so write parallelism is not capped."""
    df.hint("rebalance").write.mode("overwrite").parquet(dest)


def build_shards_concurrently(writer, batches) -> None:
    """Run independent per-batch shard writes as CONCURRENT Spark jobs
    from driver threads — ``batches`` is ``[(batch_id, DataFrame),
    ...]`` and ``writer`` a ``foreachBatch``-shaped handler.

    The per-shard commit contract is untouched: each thread submits
    its own job writing its own ``batch=N`` dir with its own
    ``_SUCCESS``, so crash semantics, replay idempotency and the
    subsumption rule are exactly the sequential loop's.  What changes
    is wall-clock: a historical backfill of K small batches no longer
    pays K × (job scheduling + scan + underfilled stages) serially —
    Spark's scheduler interleaves the jobs across the executor pool
    (the same thing K genuinely-concurrent micro-batches would do on
    a cluster).  Live streaming ingest keeps the sequential
    ``foreachBatch`` path: micro-batches ARRIVE one at a time there,
    so there is nothing to overlap.  Exceptions from any job
    propagate (the build must not half-succeed silently).  The jobs go
    through :func:`run_concurrently` with the session of the first
    batch, so every shard-build job carries the caller's job group."""
    if not batches:
        return
    run_concurrently(
        batches[0][1].sparkSession,
        {
            str(i): functools.partial(writer, df, bid)
            for i, (bid, df) in enumerate(batches)
        },
    )


def backfill_by_mod(writer, df: DataFrame, key: str, n: int) -> None:
    """Historical backfill: ``df`` split into ``n`` batch shards by
    ``key % n == batch_id``, built by :func:`build_shards_concurrently`."""
    build_shards_concurrently(
        writer, [(b, df.filter(F.col(key) % n == b)) for b in range(n)]
    )


def compact_shards(
    spark: SparkSession,
    root: str,
    fold=None,
    target_file_bytes: int = DEFAULT_TARGET_BYTES,
) -> dict[str, int]:
    """Merge the active shards into one ``compact_upto=N`` dir
    (N = highest batch/compact id present) and delete the subsumed
    sources.

    ``fold`` (optional, ``DataFrame -> DataFrame``) lets summary-sink
    shards collapse to their mergeable form — it must be value-neutral
    through the sink's read path (bottom-k re-rank, counter summation,
    CUSUM segment composition; each is pinned bit-identical by
    ``tests/test_stream_monitor.py`` / ``test_stream_ann_index.py``).
    Without it the merge is the plain union of exactly the dirs it
    replaces.

    Output is sized by input bytes (``ceil(bytes / target)`` files),
    never ``coalesce(1)`` — a single ever-growing file would serialize
    both the rewrite and every later read.  The merge commits through
    ``_SUCCESS`` before any source is deleted, so the store is
    readable at every instant; a crash mid-cleanup is finished by the
    next call (or by :func:`cleanup_subsumed`).
    """
    active = active_shard_dirs(root)
    n_before = len(committed_shard_dirs(root))
    if not active or (len(active) == 1 and active[0][0] == "compact"):
        # nothing new to fold — just finish any interrupted cleanup
        cleanup_subsumed(root)
        return {
            "dirs_before": n_before,
            "dirs_after": len(committed_shard_dirs(root)),
        }
    n = max(nn for _, nn, _ in active)
    paths = [p for _, _, p in active]
    merged = read_parquet(spark, *paths)
    if fold is not None:
        merged = fold(merged)
    n_files = max(1, math.ceil(_dir_bytes(paths) / target_file_bytes))
    dest = os.path.join(root, f"{COMPACT_PREFIX}{n}")
    # dest is always a NEW id: with a prior compact_upto=M active, the
    # subsumption rule only admits batch shards > M, so n > M here.
    # Overwrite clobbers a half-written dest from a crashed prior run;
    # _SUCCESS lands before any source is deleted.
    merged.repartition(n_files).write.mode("overwrite").parquet(dest)
    cleanup_subsumed(root)
    return {
        "dirs_before": n_before,
        "dirs_after": len(committed_shard_dirs(root)),
    }


def foreach_batch_sink(
    stream: DataFrame, handler, checkpoint_dir: str | None = None
):
    """Attach a ``foreachBatch`` handler ``(batch_df, batch_id)`` to a
    stream in update mode, checkpointed under ``checkpoint_dir`` when
    given — one code path for batch and streaming (the Kappa idiom):
    a backfill calls the same handler directly."""
    writer = stream.writeStream.foreachBatch(handler).outputMode("update")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer


@dataclasses.dataclass(frozen=True)
class AppliedLedger:
    """Applied-batch ledger of an at-least-once ``foreachBatch`` sink:
    one marker file per applied batch id under
    ``<root>/silver/<name>__applied/``, so a replayed batch is skipped
    outright.  Markers use local filesystem semantics; a cluster
    deployment backs the same ledger with its DFS."""

    root: str
    name: str

    def _marker(self, batch_id: int) -> str:
        return os.path.join(
            self.root, "silver", f"{self.name}__applied", f"batch-{batch_id}"
        )

    def applied(self, batch_id: int, landed: Callable[[], bool]) -> bool:
        """Whether ``batch_id`` was already applied: its marker exists,
        or ``landed()`` reports that the sink's own commit of this
        batch landed before a crash cut off the marker write — the
        marker is then restored."""
        if os.path.exists(self._marker(batch_id)):
            return True
        if landed():
            self.mark(batch_id)
            return True
        return False

    def mark(self, batch_id: int) -> None:
        """Record ``batch_id`` as applied (after the sink's commit)."""
        marker = self._marker(batch_id)
        os.makedirs(os.path.dirname(marker), exist_ok=True)
        with open(marker, "w"):
            pass


@dataclasses.dataclass(frozen=True)
class ShardIndex:
    """A per-batch shard store: ``postings(batch_df, batch_id, *cfg,
    **cfg_kw)`` builds one batch's rows (stamping ``batch_id`` as a
    column where the store needs it), ``fold`` (optional) collapses
    compacted shards to their mergeable form, and ``label`` names the
    store in the missing-store error.

    The builder must be deterministic given its config, so a replayed
    batch rewrites an identical ``batch=N`` shard."""

    label: str
    postings: Callable[..., DataFrame]
    fold: Callable[[DataFrame], DataFrame] | None = None

    def writer(self, out_dir: str, *cfg, **cfg_kw):
        """``foreachBatch`` body: build THIS batch's postings and write
        them to ``out_dir/batch=N`` (:func:`write_shard`).  The config
        is bound now, so a bad argument fails here, not on the first
        batch."""
        inspect.signature(self.postings).bind(None, 0, *cfg, **cfg_kw)

        def handle(batch_df: DataFrame, batch_id: int) -> None:
            write_shard(
                self.postings(batch_df, batch_id, *cfg, **cfg_kw),
                os.path.join(out_dir, f"batch={batch_id}"),
            )

        return handle

    def sink(
        self,
        stream: DataFrame,
        out_dir: str,
        *cfg,
        checkpoint_dir: str | None = None,
        **cfg_kw,
    ):
        """Attach :meth:`writer` to ``stream`` — continuous index
        maintenance, each micro-batch costing one postings pass over
        the batch plus a batch-sized shard write."""
        return foreach_batch_sink(
            stream, self.writer(out_dir, *cfg, **cfg_kw), checkpoint_dir
        )

    def read(self, spark: SparkSession, out_dir: str) -> DataFrame:
        """The store of EVERYTHING ingested so far: the union of the
        active committed shards (:func:`read_shards`)."""
        return require_shards(spark, out_dir, self.label)

    def compact(self, spark: SparkSession, out_dir: str) -> dict[str, int]:
        """Fold the store into one ``compact_upto=N`` dir with this
        store's ``fold`` (identity union without one)."""
        return compact_shards(spark, out_dir, fold=self.fold)
