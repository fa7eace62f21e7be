"""Streaming IVF index maintenance: merged posting shards must be
ROW-IDENTICAL to a batch-mode assignment of the full stream, batch
replay must be idempotent, and a probe over the merged index must
equal the probe over the batch-mode index."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from hospital_data_engineering_pipeline_end_to_end_project_spark.operators.similarity import (
    assign_ivf_cluster,
    build_ivf_centroids,
)
from hospital_data_engineering_pipeline_end_to_end_project_spark.streaming import ann_index
from tests.conftest import SF_SMOKE

_K = 4


def _vectors(spark):
    return spark.read.parquet(os.path.join(SF_SMOKE, "embeddings.parquet")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )


def _rows(df):
    return sorted(
        (r["vec_id"], r["cluster"], tuple(r["embedding"])) for r in df.collect()
    )


def test_merged_stream_index_equals_batch_assignment(spark, tmp_path):
    out = str(tmp_path / "ivf")
    vecs = _vectors(spark)
    cents = build_ivf_centroids(vecs, "embedding", "vec_id", k=_K)
    handle = ann_index.make_ivf_batch_writer(out, cents)
    cuts = (0, 80, 200, 10**18)
    for b in range(3):
        handle(
            vecs.filter((vecs.vec_id >= cuts[b]) & (vecs.vec_id < cuts[b + 1])), b
        )
    merged = ann_index.read_ivf_index(spark, out)
    direct = assign_ivf_cluster(vecs, cents)
    assert _rows(merged) == _rows(direct) and merged.count() == vecs.count()


def test_ivf_batch_replay_idempotent(spark, tmp_path):
    out = str(tmp_path / "ivf")
    vecs = _vectors(spark)
    cents = build_ivf_centroids(vecs, "embedding", "vec_id", k=_K)
    handle = ann_index.make_ivf_batch_writer(out, cents)
    handle(vecs.filter(vecs.vec_id < 150), 0)
    handle(vecs.filter(vecs.vec_id >= 150), 1)
    before = _rows(ann_index.read_ivf_index(spark, out))
    handle(vecs.filter(vecs.vec_id >= 150), 1)  # crash-replay of batch 1
    assert _rows(ann_index.read_ivf_index(spark, out)) == before


def test_ivf_index_live_stream_and_probe(spark, tmp_path):
    """availableNow file-stream smoke: the sink drains, every vector
    lands exactly once, and a single-cell probe over the merged index
    returns the same members as the batch-mode assignment."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "ivf")
    vecs = _vectors(spark)
    cents = build_ivf_centroids(vecs, "embedding", "vec_id", k=_K)
    vecs.repartition(6).write.mode("overwrite").json(src)
    stream = (
        spark.readStream.schema("vec_id long, embedding array<double>")
        .option("maxFilesPerTrigger", 2)
        .json(src)
    )
    q = (
        ann_index.ivf_index_sink(
            stream, out, cents, checkpoint_dir=str(tmp_path / "ckpt")
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    merged = ann_index.read_ivf_index(spark, out)
    assert merged.count() == vecs.count()
    probe = {
        r["vec_id"]
        for r in merged.filter(F.col("cluster") == 0).select("vec_id").collect()
    }
    want = {
        r["vec_id"]
        for r in assign_ivf_cluster(vecs, cents)
        .filter(F.col("cluster") == 0)
        .select("vec_id")
        .collect()
    }
    assert probe == want


def test_ivf_compaction_and_post_compaction_replay(spark, tmp_path):
    """Compaction folds the posting shards into one dir with a
    row-identical read; a batch REPLAYED after its shard was compacted
    away lands under the subsumption watermark and is ignored — no
    duplicate postings."""
    import shutil

    out = str(tmp_path / "ivf")
    vecs = _vectors(spark)
    cents = build_ivf_centroids(vecs, "embedding", "vec_id", k=_K)
    handle = ann_index.make_ivf_batch_writer(out, cents)
    cuts = (0, 80, 200, 10**18)
    for b in range(3):
        handle(
            vecs.filter((vecs.vec_id >= cuts[b]) & (vecs.vec_id < cuts[b + 1])), b
        )
    before = _rows(ann_index.read_ivf_index(spark, out))
    stats = ann_index.compact_ivf_shards(spark, out)
    assert stats["dirs_after"] == 1 and stats["dirs_before"] == 3
    assert _rows(ann_index.read_ivf_index(spark, out)) == before
    # crash-replay of batch 1 after its shard was compacted away
    handle(vecs.filter((vecs.vec_id >= cuts[1]) & (vecs.vec_id < cuts[2])), 1)
    assert _rows(ann_index.read_ivf_index(spark, out)) == before
    # partial shard (no _SUCCESS) and a stray temp dir are skipped
    shutil.copytree(
        os.path.join(out, "compact_upto=2"), os.path.join(out, "batch=9")
    )
    os.remove(os.path.join(out, "batch=9", "_SUCCESS"))
    os.makedirs(os.path.join(out, "batch=tmp-xyz"))
    assert _rows(ann_index.read_ivf_index(spark, out)) == before


def test_ivf_retrain_atomic_swap(spark, tmp_path):
    """The quantizer-drift fix: retrain on the accumulated postings,
    reassign statelessly, publish the new epoch atomically.  The
    swapped index must be ROW-IDENTICAL to a fresh batch-mode
    assignment of the same vectors under the new centroids, and a
    batch replayed ACROSS the swap must not duplicate anything."""
    out = str(tmp_path / "ivf")
    vecs = _vectors(spark)
    # bootstrap the store with a deliberately-poor quantizer: trained
    # on a skewed slice, so the retrain has real work to do
    cents0 = build_ivf_centroids(
        vecs.filter(vecs.vec_id < 60), "embedding", "vec_id", k=2
    )
    ann_index.init_ivf_store(out, cents0)
    assert ann_index.read_centroids(out) == (
        [list(map(float, c)) for c in cents0], 0
    )
    handle = ann_index.make_ivf_batch_writer(out)  # store-managed
    handle(vecs.filter(vecs.vec_id < 150), 0)
    handle(vecs.filter(vecs.vec_id >= 150), 1)
    assert ann_index.read_ivf_index(spark, out).count() == vecs.count()

    stats = ann_index.retrain_ivf_index(spark, out, k=_K)
    assert stats["epoch"] == 1 and stats["max_batch"] == 1
    new_cents, epoch = ann_index.read_centroids(out)
    assert epoch == 1 and len(new_cents) == _K
    merged = ann_index.read_ivf_index(spark, out)
    direct = assign_ivf_cluster(vecs, new_cents)
    assert _rows(merged) == _rows(direct)
    # the old epoch tree is gone; postings live under epoch=1
    assert not os.path.isdir(os.path.join(out, "epoch=0"))
    assert os.path.isdir(os.path.join(out, "epoch=1"))

    # replay of batch 1 across the swap: the writer resolves the NEW
    # epoch and assigns under the NEW centroids, but its shard id sits
    # under the reassigned watermark, so the read is unchanged
    handle(vecs.filter(vecs.vec_id >= 150), 1)
    assert _rows(ann_index.read_ivf_index(spark, out)) == _rows(direct)

    # and a genuinely NEW post-swap batch extends the index under the
    # new quantizer exactly as batch mode would
    extra = vecs.withColumn("vec_id", vecs.vec_id + 10**6)
    handle(extra, 2)
    want = _rows(assign_ivf_cluster(vecs.union(extra), new_cents))
    assert _rows(ann_index.read_ivf_index(spark, out)) == want


def test_ivf_retrain_migrates_racing_late_shard(spark, tmp_path, monkeypatch):
    """A writer batch that commits to the OLD epoch after retrain's
    shard listing but before the centroid swap must not be lost: its
    checkpoint has advanced (never replayed), so retrain migrates it —
    re-assigned under the NEW centroids — into the new epoch before
    deleting the old tree."""
    from hospital_data_engineering_pipeline_end_to_end_project_spark.streaming import shardstore

    out = str(tmp_path / "ivf")
    vecs = _vectors(spark)
    cents0 = build_ivf_centroids(
        vecs.filter(vecs.vec_id < 60), "embedding", "vec_id", k=2
    )
    ann_index.init_ivf_store(out, cents0)
    handle = ann_index.make_ivf_batch_writer(out)  # store-managed
    late = vecs.filter(vecs.vec_id >= 150)
    handle(vecs.filter(vecs.vec_id < 100), 0)
    handle(vecs.filter((vecs.vec_id >= 100) & (vecs.vec_id < 150)), 1)

    # inject the race: the FIRST listing of epoch=0 during retrain
    # returns the pre-commit view, and batch 2 commits to epoch=0
    # immediately after it (the writer resolved epoch 0 pre-swap)
    real = shardstore.active_shard_dirs
    state = {"fired": False}

    def racy(root):
        pre = real(root)
        if not state["fired"] and root.rstrip("/").endswith("epoch=0"):
            state["fired"] = True
            handle(late, 2)  # commits epoch=0/batch=2 AFTER the listing
        return pre

    monkeypatch.setattr(shardstore, "active_shard_dirs", racy)
    stats = ann_index.retrain_ivf_index(spark, out, k=_K)
    monkeypatch.setattr(shardstore, "active_shard_dirs", real)

    assert stats["epoch"] == 1
    assert stats["max_batch"] == 1  # the listing raced, as constructed
    assert stats["migrated_late_shards"] == 1
    new_cents, epoch = ann_index.read_centroids(out)
    assert epoch == 1
    # NOTHING lost: the index equals a batch-mode assignment of ALL
    # ingested vectors (early + the racing late batch) under the new
    # centroids, and the old epoch tree is gone
    want = _rows(assign_ivf_cluster(vecs, new_cents))
    assert _rows(ann_index.read_ivf_index(spark, out)) == want
    assert not os.path.isdir(os.path.join(out, "epoch=0"))
    assert os.path.isdir(os.path.join(out, "epoch=1", "batch=2"))


# ---------------------------------------------------------------------------
# index-served top-k probe (q152's engine): the batch's neighbors
# answered FROM the stored postings must equal an exact recompute
# under the same frozen quantizer
# ---------------------------------------------------------------------------


def _py_unit(v):
    # replicate _with_unit's in-order IEEE fold: norm = sqrt(sum v*v)
    s = 0.0
    for x in v:
        s += x * x
    n = s ** 0.5
    if n == 0:
        return None
    return [x / n for x in v]


def _py_dot(a, b):
    s = 0.0
    for x, y in zip(a, b):
        s += x * y
    return s


def _py_topk(batch_rows, corpus_rows, cents, nprobe, k):
    """The oracle-shaped recompute: squared-L2 centroid ranks (ties to
    the lower cluster id), corpus argmin assignment, batch nprobe
    probes, cosine over unit vectors rounded to 6, rank by
    (-cos_sim, neighbor_id)."""
    def ranks(v):
        ds = []
        for c, cent in enumerate(cents):
            ds.append((_py_dot([x - y for x, y in zip(v, cent)],
                               [x - y for x, y in zip(v, cent)]), c))
        ds.sort()
        return [c for _, c in ds]

    assigned = {}
    for vid, v in corpus_rows:
        assigned.setdefault(ranks(v)[0], []).append((vid, _py_unit(v)))
    out = []
    for qid, qv in batch_rows:
        qn = _py_unit(qv)
        cands = []
        for cell in ranks(qv)[:nprobe]:
            for nid, nn in assigned.get(cell, ()):
                if nid == qid:
                    continue
                cos = (
                    None
                    if qn is None or nn is None
                    else round(_py_dot(qn, nn), 6)
                )
                cands.append((nid, cos))
        cands.sort(key=lambda t: (-(t[1] if t[1] is not None else float("-inf")), t[0]))
        for rank, (nid, cos) in enumerate(cands[:k], 1):
            out.append((qid, nid, cos, rank))
    return sorted(out)


def _collect_vecs(df):
    return [(r["vec_id"], [float(x) for x in r["embedding"]]) for r in df.collect()]


def test_index_served_topk_equals_recompute(spark, tmp_path):
    from hospital_data_engineering_pipeline_end_to_end_project_spark.streaming import shardstore

    out = str(tmp_path / "ivf")
    vecs = _vectors(spark)
    corpus = vecs.filter(vecs.vec_id % 5 != 0)
    batch = vecs.filter(vecs.vec_id % 5 == 0)
    cents = build_ivf_centroids(corpus, "embedding", "vec_id", k=_K)
    ann_index.init_ivf_store(out, cents)
    handle = ann_index.make_ivf_batch_writer(out)
    # the concurrent backfill helper: 3 independent shard jobs
    shardstore.build_shards_concurrently(
        handle,
        [(b, corpus.filter(corpus.vec_id % 3 == b)) for b in range(3)],
    )
    ann_index.compact_ivf_shards(spark, out)
    got = sorted(
        (r["query_id"], r["neighbor_id"], r["cos_sim"], r["rank"])
        for r in ann_index.ivf_topk_against_index(
            spark, out, batch, k=5, nprobe=2
        ).collect()
    )
    want = _py_topk(
        _collect_vecs(batch), _collect_vecs(corpus), cents, nprobe=2, k=5
    )
    assert got == want and len(got) > 0


def test_index_served_topk_follows_epoch_swap(spark, tmp_path):
    """After retrain_ivf_index the probe must resolve the NEW epoch's
    centroids and postings automatically — no caller re-plumbing."""
    out = str(tmp_path / "ivf")
    vecs = _vectors(spark)
    corpus = vecs.filter(vecs.vec_id % 5 != 0)
    batch = vecs.filter(vecs.vec_id % 5 == 0)
    cents0 = build_ivf_centroids(
        corpus.filter(corpus.vec_id < 60), "embedding", "vec_id", k=2
    )
    ann_index.init_ivf_store(out, cents0)
    handle = ann_index.make_ivf_batch_writer(out)
    handle(corpus, 0)
    ann_index.retrain_ivf_index(spark, out, k=_K)
    new_cents, epoch = ann_index.read_centroids(out)
    assert epoch == 1
    got = sorted(
        (r["query_id"], r["neighbor_id"], r["cos_sim"], r["rank"])
        for r in ann_index.ivf_topk_against_index(
            spark, out, batch, k=3, nprobe=2
        ).collect()
    )
    want = _py_topk(
        _collect_vecs(batch), _collect_vecs(corpus), new_cents, nprobe=2, k=3
    )
    assert got == want


def test_index_served_topk_flat_store_needs_centroids(spark, tmp_path):
    import pytest

    out = str(tmp_path / "ivf")
    vecs = _vectors(spark)
    cents = build_ivf_centroids(vecs, "embedding", "vec_id", k=_K)
    handle = ann_index.make_ivf_batch_writer(out, cents)  # legacy flat
    handle(vecs, 0)
    with pytest.raises(ValueError, match="no _centroids.json"):
        ann_index.ivf_topk_against_index(spark, out, vecs.limit(5))
    got = ann_index.ivf_topk_against_index(
        spark, out, vecs.filter(vecs.vec_id < 3), centroids=cents, k=2
    )
    # self-pairs are excluded even when the batch overlaps the corpus
    assert got.filter(F.col("query_id") == F.col("neighbor_id")).count() == 0
    assert got.count() > 0


def test_explicit_centroids_on_epoch_managed_store_raise(spark, tmp_path):
    """Explicit centroids on an epoch-managed store would write flat
    ``batch=N`` shards outside ``epoch=E/``, where no reader or
    compaction looks: the writer refuses, naming the store."""
    import pytest

    out = str(tmp_path / "ivf-managed")
    vecs = _vectors(spark)
    cents = build_ivf_centroids(vecs, "embedding", "vec_id", k=_K)
    ann_index.init_ivf_store(out, cents)
    handle = ann_index.make_ivf_batch_writer(out, cents)
    with pytest.raises(ValueError, match="ivf-managed"):
        handle(vecs, 0)
    assert not os.path.exists(os.path.join(out, "batch=0"))
