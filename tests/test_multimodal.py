"""Byte-level spec pins for the media synthesis and gram-posting
kernels of ``operators/multimodal.py``.

Each Arrow kernel is checked against an independent stdlib
reimplementation of its spec, including the edge rows (empty and NULL
text, NULL ids, duplicate tokens), so a kernel regression is caught at
the operator rather than two stages downstream in a query's oracle.
"""

from __future__ import annotations

import hashlib

from hospital_data_engineering_pipeline_end_to_end_project_spark.operators import (
    multimodal as M,
)

_DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox"),
    (3, "a b a  c"),  # duplicate token + double space
    (4, ""),  # empty text
    (5, None),  # null text
]


def _docs_df(spark):
    return spark.createDataFrame(_DOCS, "doc_id long, text string")


def _toks(text):
    return [t for t in text.split(" ") if t]


def _ref_pgm(text) -> bytes:
    """Independent reimplementation of the PGM spec: pixel i = hex
    chars 17-18 (digest byte 8) of min over distinct tokens of
    md5(f"{i}|{token}")."""
    toks = set(_toks(text)) if text is not None else set()
    px = bytearray(72)
    for i in range(72):
        if toks:
            d = min(
                hashlib.md5(f"{i}|{t}".encode()).hexdigest() for t in toks
            )
            px[i] = int(d[16:18], 16)
    return M._PGM_HEADER + bytes(px)


def _ref_wav(text):
    if text is None:
        return None
    data = b""
    for t in _toks(text):
        u16 = int(hashlib.md5(t.encode()).hexdigest()[:4], 16)
        data += b"".join(
            ((u16 + 7 * j) % 65536).to_bytes(2, "little") for j in range(16)
        )
    return (
        b"RIFF"
        + (len(data) + 36).to_bytes(4, "little")
        + b"WAVE"
        + bytes.fromhex("666d742010000000")
        + bytes.fromhex("0100" "0100" "803e0000" "007d0000" "0200" "1000")
        + b"data"
        + len(data).to_bytes(4, "little")
        + data
    )


def _ref_video(text):
    if text is None:
        return None
    pre = bytes.fromhex(
        "ffd8" "ffe0" "0010" "4a46494600" "0101" "00" "0001" "0001" "0000"
        "fffe" "0011"
    )
    post = bytes.fromhex(
        "ffc0" "0011" "08" "0008" "0008" "03" "012200" "021101" "031101"
        "ffd9"
    )
    return b"".join(
        pre + hashlib.md5(t.encode()).hexdigest()[:15].encode() + post
        for t in _toks(text)
    )


def test_synthesizers_match_spec(spark):
    refs = {
        "pgm": (M.synthesize_minhash_pgm, _ref_pgm),
        "wav": (M.synthesize_speech_wav, _ref_wav),
        "vid": (M.synthesize_token_video, _ref_video),
    }
    for name, (fn, ref) in refs.items():
        rows = {
            r["media_id"]: r
            for r in fn(_docs_df(spark), "doc_id", "text").collect()
        }
        assert set(rows) == {1, 2, 3, 4, 5}, name
        for doc_id, text in _DOCS:
            want = ref(text)
            got = rows[doc_id]["payload"]
            got = bytes(got) if got is not None else None
            assert got == want, (name, doc_id)
            bl = rows[doc_id]["meta"]["byte_len"]
            assert bl == (len(want) if want is not None else None), (
                name,
                doc_id,
            )


def test_audio_gram_postings_match_spec(spark):
    media = M.synthesize_speech_wav(_docs_df(spark), "doc_id", "text")
    got = sorted(
        map(tuple, M.audio_gram_postings(media, k=4).collect())
    )
    want = []
    for doc_id, text in _DOCS:
        payload = _ref_wav(text)
        if payload is None:
            continue
        pcm = payload[44:]
        samples = [
            int.from_bytes(pcm[i : i + 2], "little", signed=True)
            for i in range(0, len(pcm), 2)
        ]
        energies = [
            sum(v * v for v in samples[f : f + 16])
            for f in range(0, len(samples), 16)
        ]
        for i in range(len(energies) - 3):
            want.append(
                (
                    doc_id,
                    i + 1,
                    hashlib.md5(
                        "|".join(str(e) for e in energies[i : i + 4]).encode()
                    ).hexdigest(),
                )
            )
    assert got == sorted(want)


def test_video_gram_postings_match_spec(spark):
    media = M.synthesize_token_video(_docs_df(spark), "doc_id", "text")
    got = sorted(map(tuple, M.video_gram_postings(media, k=2).collect()))
    want = []
    for doc_id, text in _DOCS:
        if text is None:
            continue
        fps = [
            int(hashlib.md5(t.encode()).hexdigest()[:15], 16)
            for t in _toks(text)
        ]
        for i in range(len(fps) - 1):
            want.append(
                (
                    doc_id,
                    i + 1,
                    hashlib.md5(
                        "|".join(str(v) for v in fps[i : i + 2]).encode()
                    ).hexdigest(),
                )
            )
    assert got == sorted(want)


def _spec_wav(mid: int) -> bytes:
    # independent stdlib replay of the closed-form WAV the former
    # expression chain produced
    n = 64 + mid % 64
    data = b"".join(
        ((mid * 31 + i * 7) % 65536).to_bytes(2, "little") for i in range(n)
    )
    return (
        b"RIFF"
        + (len(data) + 36).to_bytes(4, "little")
        + b"WAVE"
        + bytes.fromhex("666d742010000000")
        + bytes.fromhex("01000100803e0000007d000002001000")
        + b"data"
        + len(data).to_bytes(4, "little")
        + data
    )


def _spec_mjpeg(mid: int) -> bytes:
    frames = []
    for f in range(mid % 4 + 3):
        w = (mid * 5 + f) % 300 + 1
        h = (mid * 3 + f * 7) % 200 + 1
        frames.append(
            bytes.fromhex(
                "ffd8ffe000104a4649460001010000010001" "0000ffc0001108"
            )
            + h.to_bytes(2, "big")
            + w.to_bytes(2, "big")
            + bytes.fromhex("03012200021101031101ffd9")
        )
    return b"".join(frames)


def test_id_synth_kernels_match_expression_spec(spark):
    from hospital_data_engineering_pipeline_end_to_end_project_spark.operators import (
        multimodal,
    )

    ids = [0, 1, 5, 63, 64, 599, 600, 601, 12345]
    d = spark.createDataFrame([(i,) for i in ids] + [(None,)], "doc_id long")

    wav = {r["media_id"]: r for r in
           multimodal.synthesize_wav_media(d, "doc_id").collect()}
    for i in ids:
        assert bytes(wav[i]["payload"]) == _spec_wav(i), i
        assert wav[i]["meta"]["byte_len"] == len(_spec_wav(i))
        assert wav[i]["meta"]["mime"] == "audio/wav"
    # NULL id: NULL payload, non-null meta struct with NULL byte_len
    # (the expression form's semantics)
    null_row = wav[None]
    assert null_row["payload"] is None
    assert null_row["meta"]["byte_len"] is None

    vid = {r["media_id"]: r for r in
           multimodal.synthesize_video_media(d, "doc_id").collect()}
    for i in ids:
        assert bytes(vid[i]["payload"]) == _spec_mjpeg(i), i
        assert vid[i]["meta"]["byte_len"] == len(_spec_mjpeg(i))
        assert vid[i]["meta"]["mime"] == "video/x-motion-jpeg"
    assert vid[None]["payload"] is None
    assert vid[None]["meta"]["byte_len"] is None
