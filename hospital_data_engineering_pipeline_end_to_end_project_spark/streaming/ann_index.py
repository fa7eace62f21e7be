"""Streaming ANN index maintenance — per-batch IVF posting shards.

The missing lifecycle piece of the ANN tier: the coarse quantizer is
trained ONCE (``operators/similarity.py:build_ivf_centroids``, a
bounded deterministic sample), and from then on arriving vectors only
need a stateless per-row assignment — argmin distance to the frozen
broadcast centroids.  So a micro-batch costs one assignment pass and
one shard write, and the accumulated shards ARE the IVF index of
everything ingested so far:

- write cost ∝ batch (a ``batch=N`` shard of (id, cluster, vec)
  posting rows; never a rewrite of accumulated postings);
- replay idempotency: assignment is deterministic given the frozen
  centroids, and a re-run batch overwrites its OWN ``batch=N``
  directory — the same contract as the monitor/novelty sinks;
- exact-identity reads: per-row assignment is stateless, so the
  merged shards are ROW-IDENTICAL to a batch-mode
  ``assign_ivf_cluster`` over the concatenated stream (pinned by
  ``tests/test_stream_ann_index.py``), and any reader can probe the
  nprobe nearest cells exactly as ``ivf_topk`` would.

Lifecycle beyond the frozen-quantizer steady state:

- **Committed-only, subsumption-ruled reads** and **shard
  compaction** come from the ``shardstore.ShardIndex`` spec
  (:data:`IVF`), applied under the active epoch root — reads skip
  partially-written dirs, and :func:`compact_ivf_shards` folds the
  per-batch postings into one ``compact_upto=N`` dir (plain union —
  postings are rows, not summaries) so the probe's list+open cost
  stays bounded over the stream's lifetime.
- **Re-training** (:func:`retrain_ivf_index`): drift in the incoming
  distribution degrades cell BALANCE under a frozen quantizer (never
  correctness — every vector still lands in its argmin cell).  The
  fix is a batch job over the accumulated postings: train fresh
  centroids on a bounded deterministic sample, re-run the same
  stateless assignment over every stored vector into a NEW
  ``epoch=E+1`` posting tree, then atomically publish the new
  centroid list + epoch (one ``os.replace`` of the store's
  ``_centroids.json`` — the same single-rename publish as
  ``SilverStore.write``'s epoch file, ``plans/medallion.py:212``).
  Readers and store-managed writers resolve the epoch from that one
  file, so every crash window is safe: before the swap they keep
  serving/writing epoch E (the half-built E+1 tree is invisible and
  is overwritten on retry); after the swap they move to E+1 together,
  and a batch REPLAYED across the swap lands ``epoch=E+1/batch=N``
  with ``N <=`` the compacted watermark, which the subsumption rule
  ignores — no duplicates.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession

from hospital_data_engineering_pipeline_end_to_end_project_spark.sources.readers import read_parquet
from hospital_data_engineering_pipeline_end_to_end_project_spark.streaming import shardstore

#: atomic store metadata: {"epoch": E, "centroids": [[...], ...]}
CENTROIDS_FILE = "_centroids.json"


# ---------------------------------------------------------------------------
# centroid store — one atomically-replaced JSON file holds the ACTIVE
# (epoch, centroid list); posting shards for epoch E live under
# ``out_dir/epoch=E/``.  Stores created with an explicit centroid list
# passed to the writer (no metadata file) keep the flat legacy layout.
# ---------------------------------------------------------------------------


def write_centroids(out_dir: str, centroids: list[list[float]], epoch: int) -> None:
    """Publish a centroid list atomically: write-to-temp + one
    ``os.replace`` — readers see either the old epoch or the new one,
    never a torn file.  JSON round-trips Python floats exactly
    (shortest-repr), so the assignment arithmetic is unchanged by the
    store hop."""
    os.makedirs(out_dir, exist_ok=True)
    dest = os.path.join(out_dir, CENTROIDS_FILE)
    tmp = dest + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(
            {"epoch": int(epoch), "centroids": [list(map(float, c)) for c in centroids]},
            fh,
        )
    os.replace(tmp, dest)


def read_centroids(out_dir: str) -> tuple[list[list[float]], int] | None:
    """The store's active ``(centroids, epoch)``, or ``None`` for a
    legacy flat store with no metadata file."""
    p = os.path.join(out_dir, CENTROIDS_FILE)
    try:
        with open(p) as fh:
            meta = json.load(fh)
    except OSError:
        return None
    return meta["centroids"], int(meta["epoch"])


def init_ivf_store(out_dir: str, centroids: list[list[float]]) -> None:
    """Create an epoch-managed store at epoch 0."""
    write_centroids(out_dir, centroids, epoch=0)


def _postings_root(out_dir: str) -> str:
    """Where this store's posting shards live: ``epoch=E/`` for an
    epoch-managed store, the store root for a legacy flat one."""
    meta = read_centroids(out_dir)
    if meta is None:
        return out_dir
    return os.path.join(out_dir, f"epoch={meta[1]}")


def _ivf_postings(
    batch_df: DataFrame,
    batch_id: int,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign THIS batch's vectors to the frozen ``centroids`` — one
    argmin pass (K x dim flops per row against broadcast literals, no
    shuffle): ``(id, vec, cluster, batch_id)`` posting rows."""
    from pyspark.sql import functions as F

    from hospital_data_engineering_pipeline_end_to_end_project_spark.operators.similarity import assign_ivf_cluster

    return assign_ivf_cluster(
        batch_df.select(id_col, vec_col), centroids, vec_col=vec_col
    ).withColumn("batch_id", F.lit(int(batch_id)).cast("long"))


IVF = shardstore.ShardIndex("IVF posting", _ivf_postings)


def make_ivf_batch_writer(
    out_dir: str,
    centroids: list[list[float]] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """``foreachBatch`` body: assign THIS batch's vectors to the
    frozen centroids, write the posting shard.

    With an explicit ``centroids`` list the store is caller-managed
    (flat layout, quantizer frozen for the writer's lifetime).  With
    ``centroids=None`` the store is EPOCH-MANAGED: each batch resolves
    ``(centroids, epoch)`` from the store's one metadata file — a
    per-batch O(K x dim) driver read — and writes under ``epoch=E/``,
    so a :func:`retrain_ivf_index` swap takes effect on the next batch
    with no writer restart.  Explicit centroids on an epoch-managed
    store raise: the flat ``batch=N`` shards they would write sit
    outside ``epoch=E/``, where no reader or compaction looks."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        meta = read_centroids(out_dir)
        if centroids is not None:
            if meta is not None:
                raise ValueError(
                    f"IVF store {out_dir!r} is epoch-managed ({CENTROIDS_FILE} "
                    "exists); pass centroids=None to write its active epoch"
                )
            cents, root = centroids, out_dir
        elif meta is None:
            raise ValueError(
                f"IVF store {out_dir!r} has no {CENTROIDS_FILE}; "
                "call init_ivf_store first or pass centroids explicitly"
            )
        else:
            cents, root = meta[0], os.path.join(out_dir, f"epoch={meta[1]}")
        IVF.writer(root, cents, id_col, vec_col)(batch_df, batch_id)

    return handle


def ivf_index_sink(
    stream: DataFrame,
    out_dir: str,
    centroids: list[list[float]] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    checkpoint_dir: str | None = None,
):
    """Attach :func:`make_ivf_batch_writer` to a vector stream."""
    return shardstore.foreach_batch_sink(
        stream, make_ivf_batch_writer(out_dir, centroids, id_col, vec_col),
        checkpoint_dir,
    )


def read_ivf_index(spark: SparkSession, out_dir: str) -> DataFrame:
    """The IVF index of EVERYTHING ingested so far, ``(id, vec,
    cluster, batch_id)`` — row-identical to a batch-mode assignment
    of the concatenated stream (stateless per-row argmin), so a probe
    filters ``cluster IN (nprobe nearest cells)`` and scores exactly
    as ``ivf_topk`` does."""
    return IVF.read(spark, _postings_root(out_dir))


def compact_ivf_shards(spark: SparkSession, out_dir: str) -> dict[str, int]:
    """Fold the active epoch's posting shards (plain union)."""
    return IVF.compact(spark, _postings_root(out_dir))


def ivf_topk_against_index(
    spark: SparkSession,
    out_dir: str,
    batch: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    k: int = 5,
    nprobe: int = 2,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """Approximate top-k neighbors for an arriving ``batch`` of
    vectors, served FROM the stored IVF postings — the probe half of
    the build-once-probe-many lifecycle (like the LSH band / span
    posting / dHash probes).

    The batch pays one K x dim distance pass against the store's
    frozen centroids (broadcast literals, no shuffle) to derive its
    ``nprobe`` probe cells — the identical struct-sort semantics as
    :func:`~hospital_data_engineering_pipeline_end_to_end_project_spark.operators.similarity.ivf_topk`'s
    flat index build (ties to the lower cluster id) — then joins the
    STORED postings on ``cluster`` and scores only those cells'
    members.  The corpus is never re-assigned, re-read, or re-trained:
    candidate volume is ∝ |batch| x corpus/K x nprobe, and the
    postings scan prunes to the probed cells.  Served-vs-recomputed
    identity holds because per-row assignment is stateless given the
    frozen centroids (the store invariant pinned by
    ``tests/test_stream_ann_index.py``), so this probe is row-identical
    to ``ivf_topk``'s exact scorer restricted to batch-vs-corpus pairs
    under the same quantizer.

    ``centroids`` overrides the store metadata for legacy flat stores;
    epoch-managed stores resolve the ACTIVE epoch's centroid list.
    Returns ``(query_id, neighbor_id, cos_sim, rank)``.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from hospital_data_engineering_pipeline_end_to_end_project_spark.functions import vectors as V
    from hospital_data_engineering_pipeline_end_to_end_project_spark.operators.parallelism import fan_out
    from hospital_data_engineering_pipeline_end_to_end_project_spark.operators.similarity import (
        _centroid_dists,
        _probe_list,
        _with_unit,
    )

    if centroids is None:
        meta = read_centroids(out_dir)
        if meta is None:
            raise ValueError(
                f"IVF store {out_dir!r} has no {CENTROIDS_FILE}; "
                "pass centroids explicitly for a flat store"
            )
        centroids = meta[0]
    idx = read_ivf_index(spark, out_dir)
    corpus = _with_unit(
        idx.select(
            F.col(id_col).alias("neighbor_id"),
            F.col("cluster"),
            F.expr(V.as_double(vec_col)).alias("v"),
        ),
        "v",
        "cn",
    ).select("neighbor_id", "cluster", "cn")
    base = _with_unit(
        fan_out(batch.select(F.col(id_col), F.expr(V.as_double(vec_col)).alias("v"))),
        "v",
        "qn",
    )
    probes = F.expr(_probe_list(
        _centroid_dists("v", centroids), f"sequence(0, {len(centroids) - 1})", nprobe
    ))
    queries = base.select(
        F.col(id_col).alias("query_id"),
        F.explode(probes).alias("cluster"),
        F.col("qn"),
    )
    scored = (
        queries.join(corpus, "cluster")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.expr(f"round({V.dot('qn', 'cn')}, 6)").alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def retrain_ivf_index(
    spark: SparkSession,
    out_dir: str,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iterations: int = 2,
    grace_seconds: float = 2.0,
) -> dict[str, int]:
    """The quantizer-drift fix: re-train on the accumulated vectors,
    re-assign every stored posting, atomically swap the epoch.

    1. Read the active postings of the CURRENT epoch (committed-only).
    2. Train fresh centroids (``build_ivf_centroids`` — bounded
       deterministic md5 sample, the exact trainer the batch path
       uses, so a swapped index ≡ a fresh batch build over the same
       rows — test-pinned).
    3. Re-run the stateless argmin over all stored ``(id, vec)`` rows
       into ``epoch=E+1/compact_upto=N`` (N = current max batch id),
       committed via ``_SUCCESS``.  One pass, no shuffle: the postings
       scan maps straight to the new cluster column.
    4. Publish: one ``os.replace`` of ``_centroids.json`` flips every
       reader and store-managed writer to epoch E+1; then any batch
       shard committed to the OLD epoch after step 1's listing (a
       writer racing the retrain) is migrated — re-assigned with the
       new centroids into ``epoch=E+1/batch=M`` — by re-listing until
       stable; only then is the old epoch tree deleted (a crash
       before the delete leaves dead garbage, never a wrong read —
       nothing resolves epoch E anymore, and a crash mid-migration
       leaves old_root intact for the retried retrain to migrate).

    Requires an epoch-managed store (:func:`init_ivf_store`).
    """
    from pyspark.sql import functions as F

    from hospital_data_engineering_pipeline_end_to_end_project_spark.operators.similarity import (
        assign_ivf_cluster,
        build_ivf_centroids,
    )

    meta = read_centroids(out_dir)
    if meta is None:
        raise ValueError(
            f"IVF store {out_dir!r} is not epoch-managed; call init_ivf_store"
        )
    _old_cents, epoch = meta
    old_root = os.path.join(out_dir, f"epoch={epoch}")
    shards = shardstore.active_shard_dirs(old_root)
    if not shards:
        raise FileNotFoundError(f"no committed posting shards under {old_root!r}")
    n = max(nn for _, nn, _ in shards)
    postings = read_parquet(spark, *[p for _, _, p in shards])
    new_cents = build_ivf_centroids(
        postings, vec_col, id_col, k=k, iterations=iterations
    )
    reassigned = assign_ivf_cluster(
        postings.drop("cluster"), new_cents, vec_col=vec_col
    ).withColumn("batch_id", F.col("batch_id").cast("long"))
    new_root = os.path.join(out_dir, f"epoch={epoch + 1}")
    # a crashed prior attempt left a half-built tree here — overwrite
    reassigned.write.mode("overwrite").parquet(
        os.path.join(new_root, f"{shardstore.COMPACT_PREFIX}{n}")
    )
    # the atomic publish point: after this rename, every reader and
    # store-managed writer resolves epoch E+1
    write_centroids(out_dir, new_cents, epoch=epoch + 1)
    # LATE-SHARD MIGRATION — a writer batch that resolved epoch E
    # before the publish can commit ``epoch=E/batch=M`` with M > n
    # AFTER the listing above; its checkpoint has advanced, so it will
    # never be replayed, and deleting old_root would silently lose its
    # postings.  Re-list old_root until stable and re-assign every
    # late committed shard (batch id > the compacted watermark n) into
    # the new epoch under its own ``batch=M`` dir — ids <= n are
    # subsumed by ``compact_upto={n}`` and stay ignored.  The loop
    # never trusts a single instantaneous listing: it keeps re-listing
    # until a FULL ``grace_seconds`` window passes with no new commit
    # (the first listing alone can run in the gap just before a
    # mid-commit batch's _SUCCESS lands — breaking there would delete
    # it).  A writer that resolved epoch E and then stalls for longer
    # than the grace window remains the documented residual — quiesce
    # the writer around retrain (or raise ``grace_seconds`` past its
    # worst commit latency) for an absolute guarantee.
    migrated = 0
    prev_late: set[int] | None = None  # None = no listing taken yet
    while True:
        late = {
            m: path
            for kind, m, path in shardstore.active_shard_dirs(old_root)
            if kind == "batch" and m > n
        }
        if prev_late is not None and set(late) == prev_late:
            break
        for m in sorted(set(late) - (prev_late or set())):
            moved = assign_ivf_cluster(
                read_parquet(spark, late[m]).drop("cluster"),
                new_cents,
                vec_col=vec_col,
            ).withColumn("batch_id", F.col("batch_id").cast("long"))
            moved.write.mode("overwrite").parquet(
                os.path.join(new_root, f"batch={m}")
            )
            migrated += 1
        prev_late = set(late)
        time.sleep(grace_seconds)
    shutil.rmtree(old_root, ignore_errors=True)
    return {
        "epoch": epoch + 1,
        "n_clusters": int(k),
        "max_batch": int(n),
        "migrated_late_shards": migrated,
    }
