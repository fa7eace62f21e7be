"""Video scene dedup tier: the token-video synthesis must be a real
marker-walkable MJPEG whose per-frame COM fingerprints match the
closed form, the signature walk must be all-or-nothing per payload,
and the scene matcher must report exactly the planted shared runs."""

from __future__ import annotations

import hashlib

import pytest

from hospital_data_engineering_pipeline_end_to_end_project_spark.operators import multimodal


def _fp(tok: str) -> int:
    return int(
        hashlib.md5(tok.encode()).hexdigest()[: multimodal.VIDEO_FP_HEX], 16
    )


def test_token_video_frames_match_closed_form(spark):
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "")], "doc_id long, text string"
    )
    media = multimodal.synthesize_token_video(docs)
    rows = {r["media_id"]: r for r in media.collect()}
    # every frame SOF-parses with the registered stdlib decoder and
    # carries the token's md5-prefix fingerprint in its COM segment
    b = bytes(rows[1]["payload"])
    frames = []
    start = 0
    while start < len(b):
        end = b.index(b"\xff\xd9", start)
        frames.append(b[start : end + 2])
        start = end + 2
    assert len(frames) == 3
    for frame, tok in zip(frames, ["alpha", "beta", "gamma"]):
        hdr = multimodal.jpeg_sof_decoder(frame)
        assert (hdr["width"], hdr["height"]) == (8, 8)
        assert multimodal._frame_com_fp(frame) == _fp(tok)
    # empty doc: a valid zero-frame stream
    assert bytes(rows[2]["payload"]) == b""
    sigs = {
        (r["media_id"], r["frame_index"]): r["fp"]
        for r in multimodal.video_frame_signatures(media).collect()
    }
    assert sigs == {
        (1, 0): _fp("alpha"),
        (1, 1): _fp("beta"),
        (1, 2): _fp("gamma"),
    }


def test_video_signatures_all_or_nothing(spark):
    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "e f g h")], "doc_id long, text string"
    )
    media = multimodal.synthesize_token_video(docs)
    # truncate doc 2's last frame mid-marker: EVERY frame of that
    # payload must vanish, frames decoded before the corruption too
    import pyspark.sql.functions as F

    cut = media.withColumn(
        "payload",
        F.when(
            F.col("media_id") == 2,
            F.expr("substring(payload, 1, length(payload) - 3)"),
        ).otherwise(F.col("payload")),
    )
    sigs = multimodal.video_frame_signatures(cut)
    got = {(r["media_id"], r["frame_index"]) for r in sigs.collect()}
    assert got == {(1, 0), (1, 1), (1, 2), (1, 3)}
    # the fused gram-posting kernel applies the same rule: doc 2's
    # three intact leading frames post no bigram either
    grams = multimodal.video_gram_postings(cut, k=2)
    got = {(r["media_id"], r["__pos"]) for r in grams.collect()}
    assert got == {(1, 1), (1, 2), (1, 3)}


def test_video_scene_pairs_find_planted_runs(spark):
    shared = [f"run{i}" for i in range(10)]  # a 10-frame shared scene
    docs = spark.createDataFrame(
        [
            (1, " ".join(["a1", "a2"] + shared + ["a3", "a4", "a5"])),
            (2, " ".join(["b1"] + shared + ["b2", "b3"])),
            # shares only a 5-frame prefix of the scene: below min=8
            (3, " ".join(shared[:5] + [f"c{i}" for i in range(8)])),
            (4, " ".join(f"d{i}" for i in range(12))),
        ],
        "doc_id long, text string",
    )
    media = multimodal.synthesize_token_video(docs)
    got = {
        (r["doc_a"], r["doc_b"]): (r["start_a"], r["start_b"], r["scene_frames"])
        for r in multimodal.video_scene_pairs(media, k=4, min_frames=8).collect()
    }
    assert got == {(1, 2): (3, 2, 10)}
    got5 = {
        (r["doc_a"], r["doc_b"]): (r["start_a"], r["start_b"], r["scene_frames"])
        for r in multimodal.video_scene_pairs(media, k=4, min_frames=5).collect()
    }
    assert got5[(1, 3)] == (3, 1, 5) and got5[(2, 3)] == (2, 1, 5)
    assert not any(4 in p for p in got5)


def test_video_scene_pairs_max_df_and_guard(spark):
    docs = spark.createDataFrame(
        [(i, " ".join(f"x{j}" for j in range(10))) for i in range(5)],
        "doc_id long, text string",
    )
    media = multimodal.synthesize_token_video(docs)
    assert multimodal.video_scene_pairs(media, k=4, min_frames=8).count() == 10
    assert (
        multimodal.video_scene_pairs(media, k=4, min_frames=8, max_df=3).count()
        == 0
    )
    with pytest.raises(ValueError, match="below the gram size"):
        multimodal.video_scene_pairs(media, k=4, min_frames=3)
