"""Multimodal column plumbing.

Media (image/audio/video) travels as an opaque ``binary`` payload plus
a typed metadata struct; decode / feature-extraction runs as Arrow
-batched pandas functions over ``mapInPandas`` — the row format never
crosses to Python un-batched.

The actual codec step is STUBBED in this environment (no
PIL/ffmpeg/torchaudio in the container): ``decode_media`` raises
``NotImplementedError`` unless a decoder is registered, and
``extract_features`` computes deterministic byte-level features
(length, md5, frame-count estimate) so the Spark-side plumbing —
schema, batching, partitioning, UDF signature — is real and tested.

Three shared kernels carry every modality; each public function keeps
only what differs by modality:

- :func:`_synthesize_media` is the one id/text -> media Arrow frame
  (source projection, per-task renderer, ``meta`` struct under
  ``_MEDIA_SCHEMA``); :func:`_token_cache` is its per-task vocabulary
  cache;
- :func:`_mjpeg_frames` is the one MJPEG end-of-image frame walk and
  :func:`_frame_fps` the one all-or-nothing fingerprint decode on top
  of it;
- :func:`_gram_postings` is the one fused decode + gram-hash posting
  kernel behind :func:`audio_gram_postings` and
  :func:`video_gram_postings`.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hospital_data_engineering_pipeline_end_to_end_project_spark.operators.materialize import materialize

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("byte_len", T.LongType(), True),
        T.StructField("content_md5", T.StringType(), True),
        T.StructField("n_frames", T.LongType(), True),
    ]
)

DECODED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("mime", T.StringType(), True),
        T.StructField("decode_ok", T.BooleanType(), False),
        T.StructField("decoded_len", T.LongType(), True),
    ]
)

#: mime -> decoder registry.  Real image/audio codecs (PIL / ffmpeg /
#: soundfile) are absent from this container and would be registered
#: here by the deployment; text/plain is registered below as the one
#: codec that needs no external library, so the registry path runs
#: for real in every environment.
_DECODERS: dict[str, Callable[[bytes], object]] = {}


def register_decoder(mime: str, fn: Callable[[bytes], object]) -> None:
    _DECODERS[mime] = fn


def registered_decoders() -> dict[str, Callable[[bytes], object]]:
    """Snapshot of the registry (what :func:`decoded_stats` captures
    into its UDF closure)."""
    return dict(_DECODERS)


def decode_media(payload: bytes, mime: str):
    """Decode one media payload.  Codecs beyond text/plain are absent
    in this container; register one with :func:`register_decoder`."""
    if mime not in _DECODERS:
        raise NotImplementedError(
            f"no decoder registered for {mime!r}; image/audio libs are "
            "not available in this environment"
        )
    return _DECODERS[mime](payload)


register_decoder(
    "text/plain", lambda b: b.decode("utf-8", errors="replace")
)


def wav_pcm_decoder(b: bytes) -> bytes:
    """Minimal RIFF/WAVE chunk walker (stdlib-only): returns the raw
    PCM bytes of the ``data`` chunk.  A real deployment registers
    soundfile/ffmpeg here; this proves the registry handles a binary,
    non-UTF-8 mime end-to-end.  Malformed payloads raise — which
    :func:`decoded_stats` maps to ``decode_ok = false`` instead of a
    stage failure."""
    import struct

    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    off = 12
    while off + 8 <= len(b):
        cid = b[off : off + 4]
        size = struct.unpack_from("<I", b, off + 4)[0]
        if cid == b"data":
            if off + 8 + size > len(b):
                # a silent clamp would report decode_ok with a wrong
                # decoded_len; truncated payloads must take the
                # corrupt-payload branch
                raise ValueError("data chunk exceeds payload (truncated)")
            return b[off + 8 : off + 8 + size]
        off += 8 + size + (size & 1)  # chunks are word-aligned
    raise ValueError("no data chunk")


register_decoder("audio/wav", wav_pcm_decoder)


def png_header_decoder(b: bytes) -> dict:
    """Stdlib-only PNG header parse: validates the 8-byte signature
    and the mandatory first IHDR chunk, returns
    ``{"width", "height", "bit_depth", "color_type"}`` (PNG spec:
    IHDR is always the first chunk; width/height are 4-byte
    big-endian).  Truncated or non-PNG payloads raise — mapped to
    ``decode_ok = false`` by the batch wrappers."""
    import struct

    if len(b) < 33 or b[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG payload")
    length, ctype = struct.unpack_from(">I4s", b, 8)
    if ctype != b"IHDR" or length != 13:
        raise ValueError("first chunk is not a valid IHDR")
    width, height, bit_depth, color_type = struct.unpack_from(">IIBB", b, 16)
    if width == 0 or height == 0:
        raise ValueError("zero PNG dimension")
    return {
        "width": width,
        "height": height,
        "bit_depth": bit_depth,
        "color_type": color_type,
    }


#: JPEG start-of-frame markers that carry dimensions (SOF0-SOF15 minus
#: the non-frame DHT/DAC/RST gaps C4, C8, CC).
_JPEG_SOF_MARKERS = frozenset(
    range(0xC0, 0xD0)
) - {0xC4, 0xC8, 0xCC}


def jpeg_sof_decoder(b: bytes) -> dict:
    """Stdlib-only JPEG SOF parse: walks the marker-segment chain from
    SOI to the first start-of-frame marker and returns
    ``{"width", "height", "precision", "n_components"}`` (dimensions
    are 2-byte big-endian inside the SOF segment).  Truncated chains
    or missing SOF raise."""
    import struct

    if len(b) < 4 or b[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (no SOI)")
    off = 2
    while off + 4 <= len(b):
        if b[off] != 0xFF:
            raise ValueError("broken JPEG marker chain")
        marker = b[off + 1]
        if marker == 0xD9:  # EOI before any SOF
            break
        seg_len = struct.unpack_from(">H", b, off + 2)[0]
        if seg_len < 2 or off + 2 + seg_len > len(b):
            raise ValueError("JPEG segment exceeds payload (truncated)")
        if marker in _JPEG_SOF_MARKERS:
            return _jpeg_sof(b, off, seg_len)
        off += 2 + seg_len
    raise ValueError("no SOF marker")


def _jpeg_sof(b: bytes, off: int, seg_len: int) -> dict:
    """The fields of the SOF segment at ``off``; raises when it is too
    short or has a zero dimension."""
    import struct

    if seg_len < 8:
        raise ValueError("SOF segment too short")
    precision, height, width, n_comp = struct.unpack_from(">BHHB", b, off + 4)
    if width == 0 or height == 0:
        raise ValueError("zero JPEG dimension")
    return {
        "width": width,
        "height": height,
        "precision": precision,
        "n_components": n_comp,
    }


register_decoder("image/png", png_header_decoder)
register_decoder("image/jpeg", jpeg_sof_decoder)


def decoded_stats(
    media: DataFrame,
    decoders: dict[str, Callable[[bytes], object]] | None = None,
) -> DataFrame:
    """Arrow-batched decode over the payload column.

    The decoder mapping is snapshotted at PLAN-BUILD time and shipped
    inside the UDF closure: module-level registry state does not exist
    on executors (each worker re-imports this module with an empty
    dict plus the defaults), so relying on driver-side registration
    alone would silently decode nothing on a real cluster.  Rows whose
    mime has no decoder — or whose payload makes its decoder raise —
    yield ``decode_ok = false`` instead of failing the batch: on
    100 TB of mixed media a single unknown mime or corrupt payload
    must not kill the stage.
    """
    snapshot = dict(_DECODERS) if decoders is None else dict(decoders)

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ok, dlen = [], []
            for payload, meta in zip(pdf["payload"], pdf["meta"]):
                fn = snapshot.get(meta["mime"])
                if fn is None or payload is None:
                    ok.append(False)
                    dlen.append(None)
                    continue
                try:
                    decoded = fn(bytes(payload))
                except Exception:
                    ok.append(False)
                    dlen.append(None)
                else:
                    ok.append(True)
                    dlen.append(len(decoded) if hasattr(decoded, "__len__") else None)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "mime": [m["mime"] for m in pdf["meta"]],
                    "decode_ok": ok,
                    "decoded_len": pd.array(dlen, dtype="Int64"),
                }
            )

    return media.mapInPandas(_decode, schema=DECODED_SCHEMA)


IMAGE_DIMS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("mime", T.StringType(), True),
        T.StructField("decode_ok", T.BooleanType(), False),
        T.StructField("width", T.LongType(), True),
        T.StructField("height", T.LongType(), True),
    ]
)


def image_dims(
    media: DataFrame,
    decoders: dict[str, Callable[[bytes], object]] | None = None,
) -> DataFrame:
    """Arrow-batched image-dimension extraction: run each payload's
    registered decoder and surface ``width``/``height`` when the
    decoded object carries them (the PNG/JPEG header decoders return
    dicts).  Same closure-snapshot and per-row failure contract as
    :func:`decoded_stats` — an unknown mime or corrupt payload yields
    ``decode_ok = false``, never a stage failure."""
    snapshot = dict(_DECODERS) if decoders is None else dict(decoders)

    def _dims(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ok, ws, hs = [], [], []
            for payload, meta in zip(pdf["payload"], pdf["meta"]):
                fn = snapshot.get(meta["mime"])
                if fn is None or payload is None:
                    ok.append(False)
                    ws.append(None)
                    hs.append(None)
                    continue
                try:
                    decoded = fn(bytes(payload))
                except Exception:
                    ok.append(False)
                    ws.append(None)
                    hs.append(None)
                else:
                    ok.append(True)
                    get = decoded.get if isinstance(decoded, dict) else lambda _k: None
                    ws.append(get("width"))
                    hs.append(get("height"))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "mime": [m["mime"] for m in pdf["meta"]],
                    "decode_ok": ok,
                    "width": pd.array(ws, dtype="Int64"),
                    "height": pd.array(hs, dtype="Int64"),
                }
            )

    return media.mapInPandas(_dims, schema=IMAGE_DIMS_SCHEMA)


def _be_hex(col, n_hex: int):
    """Big-endian fixed-width hex string of a non-negative integral
    Column — ``unhex``-ready (n_hex/2 bytes)."""
    return F.lpad(F.hex(col), n_hex, "0")


def _jpeg_hex(w, h):
    """Hex text of a minimal spec-correct baseline JPEG (SOI |
    APP0/JFIF | SOF0 with the given dims | EOI) — shared by the image
    synthesis and the MJPEG-style video synthesis."""
    return F.concat(
        F.lit("ffd8" "ffe0" "0010" "4a46494600" "0101" "00" "0001" "0001" "0000"),
        F.lit("ffc0" "0011" "08"),
        _be_hex(h, 4),
        _be_hex(w, 4),
        F.lit("03" "012200" "021101" "031101"),
        F.lit("ffd9"),
    )


def synthesize_image_media(
    df: DataFrame,
    id_col: str,
    corrupt_every: int = 7,
) -> DataFrame:
    """Deterministic REAL image payloads from an id column, built
    entirely with Column expressions (hex/lpad/unhex/crc32 — JVM-side,
    no Python in the synthesis path).

    Even ids become a valid PNG (signature + IHDR chunk with a correct
    CRC32 + IEND); odd ids a valid baseline JPEG (SOI + APP0/JFIF +
    SOF0 + EOI).  Dimensions derive from the id
    (``width = id % 300 + 1``, ``height = id * 7 % 200 + 1``) so an
    oracle can predict what a correct header parse must return —
    exercising the stdlib decoders against ground truth.  Every
    ``corrupt_every``-th id ships only the first 16 payload bytes: a
    truncated header that a correct decoder must REJECT
    (``decode_ok = false``).

    The real codec work (pixel decode, resize, frame-sample) would
    slot into the same registry; headers are what's verifiable with
    stdlib only."""
    idc = F.col(id_col).cast("long")
    w = (idc % 300 + 1).cast("long")
    h = (idc * 7 % 200 + 1).cast("long")

    # PNG: sig(8) | IHDR len=13 | "IHDR" w h 8-bit RGBA, CRC32 over
    # type+data | empty IEND
    ihdr_body = F.unhex(
        F.concat(F.lit("49484452"), _be_hex(w, 8), _be_hex(h, 8), F.lit("0806000000"))
    )
    png = F.concat(
        F.unhex(F.lit("89504e470d0a1a0a0000000d")),
        ihdr_body,
        F.unhex(_be_hex(F.crc32(ihdr_body), 8)),
        F.unhex(F.lit("0000000049454e44ae426082")),
    )
    # JPEG: SOI | APP0/JFIF (16-byte segment) | SOF0: len 17,
    # precision 8, h, w, 3 components (YCbCr 4:2:0-ish) | EOI
    jpeg = F.unhex(_jpeg_hex(w, h))
    mime = F.when(idc % 2 == 0, F.lit("image/png")).otherwise(F.lit("image/jpeg"))
    base = df.select(
        idc.alias("media_id"),
        F.when(idc % 2 == 0, png).otherwise(jpeg).alias("__pl"),
        mime.alias("__mime"),
    )
    payload = F.col("__pl")
    if corrupt_every:
        payload = F.when(
            F.col("media_id") % corrupt_every == 0,
            F.expr("substring(__pl, 1, 16)"),
        ).otherwise(payload)
    return base.select(
        "media_id",
        payload.alias("payload"),
        F.struct(
            F.col("__mime").alias("mime"),
            F.lit("synthetic").alias("source"),
            F.length(payload).cast("long").alias("byte_len"),
        ).alias("meta"),
    )


def documents_as_media(docs: DataFrame) -> DataFrame:
    """Adapter: treat document text bytes as a fake media payload so
    the binary pipeline is exercisable with the shipped test data."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.struct(
            F.lit("text/plain").alias("mime"),
            F.col("source").alias("source"),
            F.length(F.encode(F.col("text"), "UTF-8")).cast("long").alias("byte_len"),
        ).alias("meta"),
    )


def extract_features(media: DataFrame, frame_bytes: int = 1000) -> DataFrame:
    """Arrow-batched feature extraction over the binary payload.

    ``mapInPandas``: each Arrow batch arrives as a pandas DataFrame;
    features are computed columnar-side in Python and returned as a
    batch — the pattern a real image-resize / frame-sample operator
    uses.  Features are deterministic byte functions so results are
    oracle-checkable.
    """

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            payloads = pdf["payload"]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "byte_len": payloads.map(lambda b: len(b) if b is not None else 0),
                    "content_md5": payloads.map(
                        lambda b: hashlib.md5(b).hexdigest() if b is not None else None
                    ),
                    # stub frame sampler: 1 frame per `frame_bytes`
                    "n_frames": payloads.map(
                        lambda b: (len(b) // frame_bytes) + 1 if b is not None else 0
                    ),
                }
            )

    return media.mapInPandas(_extract, schema=FEATURE_SCHEMA)


#: output schema shared by the id/text -> media Arrow synthesis kernels
_MEDIA_SCHEMA = (
    "media_id long, payload binary, "
    "meta struct<mime:string,source:string,byte_len:long>"
)

#: per-task entry cap for the synthesis vocabulary caches (an open-web
#: partition's vocabulary can grow without bound; the heaviest cached
#: value — the PGM 72x2 u64 digest block — is ~1.2 KB, so 2^16 entries
#: bound each task at ~80 MB worst case).  Tokens past the cap are
#: computed uncached — identical bytes, no eviction churn.
SYNTH_VOCAB_CACHE_MAX = 1 << 16


def _token_cache(render_token: Callable[[str], object]) -> Callable[[str], object]:
    """Per-task memo of a pure ``token -> value`` renderer, capped at
    :data:`SYNTH_VOCAB_CACHE_MAX` entries.

    Every text synthesizer renders a document as a function of its
    tokens, and each token's rendering (its md5 digests, sample block
    or JPEG frame) is a pure function of the token string, so each
    distinct vocabulary word is hashed and rendered ONCE per task
    instead of once per occurrence: C md5 + bytes joins in place of
    the former interpreted per-row HOF expression chains (guide §4.2;
    measured ~8x on the sf0.1 PGM synthesis, byte-identical payloads
    including the empty- and null-text edges)."""
    vocab: dict[str, object] = {}

    def get(tok: str):
        got = vocab.get(tok)
        if got is None:
            got = render_token(tok)
            if len(vocab) < SYNTH_VOCAB_CACHE_MAX:
                vocab[tok] = got
        return got

    return get


def _media_frame(ids, payloads: list, mime: str, source: str) -> pd.DataFrame:
    """One ``_MEDIA_SCHEMA`` batch: ``byte_len`` is the payload's
    length, NULL with a NULL payload (the expression forms'
    semantics)."""
    return pd.DataFrame(
        {
            "media_id": ids,
            "payload": pd.Series(payloads, dtype="object"),
            "meta": pd.Series(
                [
                    {"mime": mime, "source": source,
                     "byte_len": None if p is None else len(p)}
                    for p in payloads
                ],
                dtype="object",
            ),
        }
    )


def _synthesize_media(
    df: DataFrame,
    id_col: str,
    text_col: str | None,
    mime: str,
    source: str,
    render_factory: Callable[[], Callable[[object], bytes | None]],
) -> DataFrame:
    """The one Arrow synthesis frame: project ``(media_id, __t)`` —
    just ``media_id`` when ``text_col`` is None, so the id itself is
    the rendered input — and run one ``mapInPandas`` pass (a pure map,
    no shuffle) that builds ``render_factory()`` once per task and
    maps each input value (a NULL arrives as None, or NaN in a float
    id batch) to payload bytes or None.  Per-task state such as a
    :func:`_token_cache` lives inside the factory."""
    cols = [F.col(id_col).cast("long").alias("media_id")]
    if text_col is not None:
        cols.append(F.col(text_col).alias("__t"))
    src = df.select(*cols)
    key = src.columns[-1]

    def _render(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        render = render_factory()
        for pdf in batches:
            payloads = [render(v) for v in pdf[key]]
            yield _media_frame(pdf["media_id"], payloads, mime, source)

    return src.mapInPandas(_render, schema=_MEDIA_SCHEMA)


#: the fixed middle of every synthesized RIFF/WAVE header: the WAVE
#: form type, a 16-byte fmt chunk (PCM=1, mono, 16000 Hz, byte rate
#: 32000, block 2, 16-bit) and the data chunk's id
_WAV_FMT = (
    b"WAVE"
    + bytes.fromhex("666d7420" "10000000")
    + bytes.fromhex("0100" "0100" "803e0000" "007d0000" "0200" "1000")
    + b"data"
)


def _wav_header(n_data_bytes: int) -> bytes:
    """The 44-byte RIFF/WAVE header of a synthesized PCM payload whose
    data chunk holds ``n_data_bytes`` (all sizes little-endian)."""
    return (
        b"RIFF"
        + (n_data_bytes + 36).to_bytes(4, "little")
        + _WAV_FMT
        + n_data_bytes.to_bytes(4, "little")
    )


def synthesize_wav_media(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic REAL 16-bit mono PCM WAV payloads from a
    NON-NEGATIVE id column (the synthesized-corpus contract; doc ids
    are nonneg everywhere in this engine) — the audio sibling of
    :func:`synthesize_image_media`.

    ``n_samples = 64 + id % 64``; sample i stores the u16
    ``(id*31 + i*7) % 65536``, which a PCM decoder reinterprets as the
    int16 ``((u + 32768) % 65536) - 32768`` — a closed-form waveform
    an oracle can regenerate, so a correct RIFF walk + PCM decode is
    checkable to the sample.  Each payload is a spec-correct
    RIFF/WAVE (:func:`_wav_header`) with a data chunk of
    ``2 * n_samples`` bytes.

    One Arrow ``mapInPandas`` pass (a pure map, no shuffle; only the
    id column crosses the boundary): the whole batch's waveform
    matrix is two vectorized numpy ops and the 64 possible RIFF
    headers are precomputed, replacing the interpreted per-sample HOF
    hex chain (guide §4.2; byte-identical output, r15).  A NULL id
    yields a NULL payload and NULL byte_len, the expression form's
    semantics."""
    src = df.select(F.col(id_col).cast("long").alias("media_id"))
    hdrs = {n: _wav_header(2 * n) for n in range(64, 128)}

    def _render(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        sevens = 7 * np.arange(128, dtype=np.int64)

        for pdf in batches:
            ids = pdf["media_id"]
            mask = ids.notna().to_numpy()
            # fillna(0) before the int64 cast keeps ids beyond 2^53
            # exact only in NULL-free batches: a batch holding any NULL
            # id already arrives from Arrow as float64, rounded
            iv = ids.fillna(0).to_numpy(dtype="int64")
            if (iv[mask] < 0).any():
                raise ValueError(
                    "synthesize_wav_media needs non-negative ids; got "
                    f"{int(iv[mask].min())}"
                )
            ns = 64 + iv % 64
            base = (iv * 31) % 65536
            wave = ((base[:, None] + sevens[None, :]) % 65536).astype("<u2")
            payloads = [
                hdrs[int(ns[r])] + wave[r, : ns[r]].tobytes() if mask[r] else None
                for r in range(len(iv))
            ]
            yield _media_frame(ids, payloads, "audio/wav", "synthetic")

    return src.mapInPandas(_render, schema=_MEDIA_SCHEMA)


AUDIO_FRAME_SCHEMA = (
    "media_id long, frame_id long, n_samples long, energy long"
)


def audio_frame_energy(
    media: DataFrame, frame_samples: int = 16
) -> DataFrame:
    """Fixed-window audio frame sampling + per-frame energy — the
    audio feature-extraction pattern (VAD windows, loudness stats,
    silence trimming) over Arrow-batched ``mapInPandas``.

    The payload is decoded with the REAL RIFF walker
    (:func:`wav_pcm_decoder`), interpreted as little-endian int16 PCM,
    split into ``frame_samples``-sample windows (last frame may be
    short), and each frame reports its INTEGER sum of squared samples
    — kept as the exact int64 numerator of RMS so the whole result is
    integer-exact and oracle-replayable (the sqrt/mean a consumer
    wants is one float op away).  Rows whose payload fails to decode
    emit no frames — on mixed 100 TB media a corrupt file must not
    kill the stage (same contract as :func:`decoded_stats`)."""

    def _frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            ids, fids, counts, energies = [], [], [], []
            for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
                got = _pcm_frame_energies(payload, frame_samples)
                if got is None:
                    continue
                e, last_n = got
                nf = len(e)
                ids.append(np.full(nf, media_id, dtype=np.int64))
                fids.append(np.arange(nf, dtype=np.int64))
                cnt = np.full(nf, frame_samples, dtype=np.int64)
                if nf:
                    cnt[-1] = last_n
                counts.append(cnt)
                energies.append(e)
            cat = (
                lambda parts: np.concatenate(parts)
                if parts
                else np.empty(0, dtype=np.int64)
            )
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(cat(ids), dtype="int64"),
                    "frame_id": pd.Series(cat(fids), dtype="int64"),
                    "n_samples": pd.Series(cat(counts), dtype="int64"),
                    "energy": pd.Series(cat(energies), dtype="int64"),
                }
            )

    return media.mapInPandas(_frames, schema=AUDIO_FRAME_SCHEMA)


def _pcm_frame_energies(payload, frame_samples: int):
    """Decode one WAV payload to its per-frame int64 energy vector —
    the shared kernel of :func:`audio_frame_energy` and
    :func:`audio_gram_postings`.  Returns ``(energies ndarray,
    n_samples_in_last_frame)`` or ``None`` for the corrupt-payload
    branch.  Frame sums are whole-array numpy ops (square, pad,
    reshape, row-sum) — identical int64 values to the former
    per-frame Python loop, minus the interpreter in the row path
    (guide §4.2)."""
    import numpy as np

    if payload is None:
        return None
    try:
        pcm = _DECODERS["audio/wav"](bytes(payload))
    except ValueError:
        return None
    if len(pcm) % 2:
        # structurally valid RIFF whose data chunk is an odd byte
        # count: not int16 PCM — corrupt-payload branch, never a
        # stage failure (frombuffer would raise OUTSIDE any guard
        # otherwise)
        return None
    s = np.frombuffer(pcm, dtype="<i2").astype(np.int64)
    n = len(s)
    if n == 0:
        return np.empty(0, dtype=np.int64), 0
    nf = -(-n // frame_samples)
    sq = s * s
    pad = nf * frame_samples - n
    if pad:
        sq = np.concatenate([sq, np.zeros(pad, dtype=np.int64)])
    e = sq.reshape(nf, frame_samples).sum(axis=1)
    return e, frame_samples - pad


def synthesize_video_media(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic MJPEG-style video payloads from an id column —
    ``3 + id % 4`` complete JPEG frames concatenated back-to-back
    (motion-JPEG's container-free layout), each frame's dimensions a
    closed form of (id, frame index): ``w = (id*5 + f) % 300 + 1``,
    ``h = (id*3 + 7*f) % 200 + 1`` — the video sibling of
    :func:`synthesize_image_media` / :func:`synthesize_wav_media`, so
    an oracle can predict every sampled frame's header.

    One Arrow pass with a per-task payload cache (guide §4.2/§4.5,
    r15; byte-identical to the former per-frame HOF hex chain): every
    synthesis input — frame count (id % 4), widths (id*5 % 300) and
    heights (id*3 % 200) — is a function of id % lcm(4,60,200) =
    id % 600, so at most 600 distinct payloads exist and each is
    rendered once per task.  NON-NEGATIVE ids assumed (the
    synthesized-corpus contract); NULL id -> NULL payload/byte_len."""
    pre = bytes.fromhex(
        "ffd8" "ffe0" "0010" "4a46494600" "0101" "00" "0001" "0001" "0000"
        "ffc0" "0011" "08"
    )
    post = bytes.fromhex("03" "012200" "021101" "031101" "ffd9")

    def render_factory():
        cache: dict[int, bytes] = {}

        def render(mid) -> bytes | None:
            if mid is None or mid != mid:
                return None
            mid = int(mid)
            key = mid % 600
            got = cache.get(key)
            if got is None:
                got = b"".join(
                    pre
                    + ((mid * 3 + f * 7) % 200 + 1).to_bytes(2, "big")
                    + ((mid * 5 + f) % 300 + 1).to_bytes(2, "big")
                    + post
                    for f in range(mid % 4 + 3)
                )
                cache[key] = got
            return got

        return render

    return _synthesize_media(
        df, id_col, None, "video/x-motion-jpeg", "synthetic", render_factory
    )


VIDEO_FRAME_SCHEMA = (
    "media_id long, frame_index long, width long, height long"
)


def _mjpeg_frames(payload) -> list[bytes] | None:
    """The one MJPEG frame walk: split a payload on end-of-image
    boundaries — frame ``f`` is the bytes up to and including its
    ``ffd9`` — or None for a NULL payload or trailing bytes with no
    EOI (a stream truncated mid-frame is corrupt, not "done").

    The split is exact for the synthesized streams: their frames
    carry no entropy-coded data (and COM fingerprints are ASCII hex),
    so EOI bytes cannot occur mid-frame; a production deployment
    registers a container demuxer — ffmpeg — in the decoder registry
    for real codecs.  Every caller applies the same all-or-nothing
    rule on top: a payload with any unreadable frame emits NO rows,
    frames decoded before the corruption included, so a truncated or
    garbled video never contributes a silently partial frame set
    (it would skew per-video frame statistics downstream); decode
    failures never fail the stage."""
    if payload is None:
        return None
    b = bytes(payload)
    frames, start = [], 0
    while start < len(b):
        end = b.find(b"\xff\xd9", start)
        if end < 0:
            return None
        frames.append(b[start : end + 2])
        start = end + 2
    return frames


def video_frame_dims(media: DataFrame, sample_every: int = 2) -> DataFrame:
    """Video frame sampling: split an MJPEG-style payload into its
    JPEG frames (:func:`_mjpeg_frames`), keep every
    ``sample_every``-th frame (the standard decimation a
    vision-pretraining pipeline applies before feature extraction),
    and parse each kept frame's header with the REAL stdlib SOF
    parser — Arrow-batched ``mapInPandas``, one output row per
    sampled frame.  Only the sampled frames are SOF-parsed; a payload
    whose walk fails or whose sampled frame does not parse emits
    nothing (the all-or-nothing rule)."""

    def _frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, fidx, ws, hs = [], [], [], []
            for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
                frames = _mjpeg_frames(payload)
                if frames is None:
                    continue
                kept = range(0, len(frames), sample_every)
                try:
                    hdrs = [jpeg_sof_decoder(frames[f]) for f in kept]
                except ValueError:
                    continue
                ids.extend([media_id] * len(hdrs))
                fidx.extend(kept)
                ws.extend(h["width"] for h in hdrs)
                hs.extend(h["height"] for h in hdrs)
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "frame_index": pd.Series(fidx, dtype="int64"),
                    "width": pd.Series(ws, dtype="int64"),
                    "height": pd.Series(hs, dtype="int64"),
                }
            )

    return media.mapInPandas(_frames, schema=VIDEO_FRAME_SCHEMA)


# ---------------------------------------------------------------------------
# perceptual image hashing — dHash over DECODED PIXELS, the
# cross-modality dedup tier: near-duplicate images collide under a
# banded Hamming join exactly like near-duplicate texts do under
# SimHash (operators/dedupe.simhash_near_dups)
# ---------------------------------------------------------------------------

PGM_MIME = "image/x-portable-graymap"

#: dHash geometry: a 9x8 grayscale grid yields 8 row-adjacent
#: comparisons per row x 8 rows = 64 bits, carried as FOUR 16-bit
#: band integers (two grid rows per band) — the banded form is what
#: both the candidate join and the exact Hamming verify consume, and
#: it sidesteps int64 sign pitfalls in cross-engine replay entirely
DHASH_GRID_W = 9
DHASH_GRID_H = 8
DHASH_BANDS = 4

_PGM_HEADER = f"P5\n{DHASH_GRID_W} {DHASH_GRID_H}\n255\n".encode()

DHASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("decode_ok", T.BooleanType(), False),
        T.StructField("b0", T.LongType(), True),
        T.StructField("b1", T.LongType(), True),
        T.StructField("b2", T.LongType(), True),
        T.StructField("b3", T.LongType(), True),
    ]
)


def synthesize_minhash_pgm(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Deterministic REAL grayscale thumbnails from document text —
    pixel ``i`` of the 9x8 grid is a uniform byte of the doc's
    ``i``-th MinHash coordinate — ``min over distinct tokens of
    md5(i || '|' || token)`` (the engine's established min-wise
    permutation family, ``functions/text.py:minhash_signature``),
    taking a LOW hex slice of the winning hash so the byte stays
    uniform on [0, 255] instead of concentrating like the min's
    magnitude does.  Serialized as a spec-correct binary PGM
    (``P5`` header + raster).

    Rendered through :func:`_synthesize_media` with each token's 72
    digests held in the :func:`_token_cache`.  The lexicographic hex
    min is taken as an integer min over the digest's (hi, lo) u64
    halves — hex encoding is order-preserving — and pixel ``i`` is
    digest byte 8 (hex chars 17-18) of the winner.

    The sketch rendering gives the downstream perceptual hash the
    statistics dHash needs: by the MinHash property two documents
    agree on each pixel with probability = their token-set Jaccard,
    so near-duplicate texts produce near-identical images (J = 0.97
    -> ~2 of 72 pixels differ) while unrelated documents get
    independent uniform pixels — expected dHash Hamming distance 32,
    essentially never within banding range by chance.  (First cut
    rendered a 72-bucket token-count histogram: this fixture's shared
    vocabulary made those images collide — ~18% of ALL doc pairs
    under Hamming 3 — because most buckets tie at small counts.)
    Exactly replayable by a SQL oracle (no external codec in the
    loop; the container has no PIL/ffmpeg — the decode side parses
    the PGM with stdlib only, the registry contract of this module).
    Documents with no tokens — a NULL text too — render the all-zero
    (flat black) thumbnail, dHash 0 — the standard flat-image
    degeneracy of dHash, kept rather than hidden.
    """
    n_px = DHASH_GRID_W * DHASH_GRID_H

    def render_factory():
        import hashlib

        import numpy as np

        u64max = np.uint64(0xFFFFFFFFFFFFFFFF)
        prefixes = [f"{i}|".encode() for i in range(n_px)]

        def token_digests(tok: str) -> "np.ndarray":
            tb = tok.encode("utf-8")
            got = np.empty((n_px, 2), dtype=np.uint64)
            for i, pre in enumerate(prefixes):
                d = hashlib.md5(pre + tb).digest()
                got[i, 0] = int.from_bytes(d[:8], "big")
                got[i, 1] = int.from_bytes(d[8:], "big")
            return got

        digests = _token_cache(token_digests)
        flat = _PGM_HEADER + bytes(n_px)

        def render(text) -> bytes:
            toks = {t for t in text.split(" ") if t} if text is not None else ()
            if not toks:
                return flat
            D = np.stack([digests(t) for t in toks])
            hi = D[:, :, 0]
            m_hi = hi.min(axis=0)
            # the winner's low half: mask non-minimal hi rows to
            # u64max, take the min — lexicographic tie-break on the
            # second 8 digest bytes without an argmin
            m_lo = np.where(hi == m_hi, D[:, :, 1], u64max).min(axis=0)
            return (
                _PGM_HEADER
                + ((m_lo >> np.uint64(56)) & np.uint64(0xFF))
                .astype(np.uint8)
                .tobytes()
            )

        return render

    return _synthesize_media(
        docs, id_col, text_col, PGM_MIME, "synthetic-minhash-sketch",
        render_factory,
    )


def pgm_decoder(b: bytes) -> dict:
    """Stdlib binary-PGM decode: parse the ``P5`` header, return
    ``{width, height, pixels}`` (raster bytes, row-major).  Raises on
    anything malformed — the registry contract maps that to
    ``decode_ok = false`` per row."""
    import re

    m = re.match(rb"P5\s+(\d+)\s+(\d+)\s+(\d+)\s", b)
    if m is None:
        raise ValueError("not a binary PGM")
    w, h, maxval = (int(g) for g in m.groups())
    raster = b[m.end() :]
    if maxval > 255 or len(raster) != w * h:
        raise ValueError("unsupported or truncated PGM raster")
    return {"width": w, "height": h, "pixels": raster}


register_decoder(PGM_MIME, pgm_decoder)


def dhash_bands_from_pgm(media: DataFrame) -> DataFrame:
    """Arrow-batched dHash over DECODED pixels: parse each payload's
    PGM raster (a real bytes->pixels decode, not a header peek) and
    emit the 64-bit difference hash as four 16-bit band integers —
    band ``j`` covers grid rows ``2j`` and ``2j+1``, bit
    ``(r % 2) * 8 + c`` set when ``pixel[r][c] > pixel[r][c+1]``.

    Per-row failure contract as everywhere in this module: a corrupt
    or wrong-geometry payload yields ``decode_ok = false`` with null
    bands, never a stage failure."""

    def _dh(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ok, bands = [], [[], [], [], []]
            for payload in pdf["payload"]:
                try:
                    d = pgm_decoder(bytes(payload))
                    if d["width"] != DHASH_GRID_W or d["height"] != DHASH_GRID_H:
                        raise ValueError("wrong dHash grid geometry")
                except Exception:
                    ok.append(False)
                    for j in range(DHASH_BANDS):
                        bands[j].append(None)
                    continue
                px = d["pixels"]
                ok.append(True)
                for j in range(DHASH_BANDS):
                    v = 0
                    for rr in range(2):
                        row = (2 * j + rr) * DHASH_GRID_W
                        for c in range(DHASH_GRID_W - 1):
                            if px[row + c] > px[row + c + 1]:
                                v |= 1 << (rr * 8 + c)
                    bands[j].append(v)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "decode_ok": ok,
                    "b0": pd.array(bands[0], dtype="Int64"),
                    "b1": pd.array(bands[1], dtype="Int64"),
                    "b2": pd.array(bands[2], dtype="Int64"),
                    "b3": pd.array(bands[3], dtype="Int64"),
                }
            )

    return media.mapInPandas(_dh, schema=DHASH_SCHEMA)


def dhash_near_dups(
    hashes: DataFrame, max_hamming: int = 3
) -> DataFrame:
    """Banded Hamming self-join over dHash values — the perceptual
    counterpart of ``dedupe.simhash_near_dups``, pigeonhole-EXACT for
    the default threshold: two hashes within Hamming distance 3
    differ in at most 3 of the 4 bands, so at least one band matches
    bit-for-bit and the band equi-join's candidate set is COMPLETE
    (``max_hamming`` above ``DHASH_BANDS - 1`` would make banding
    lossy and raises instead).

    Verification is exact integer work: ``sum over bands of
    bit_count(xor)`` — computed from hash columns CARRIED THROUGH the
    band join (they are four ints per side, functionally dependent on
    the id), so the whole operator is ONE equi-join plus one distinct:
    no re-join of candidates against the full hash table, which at
    corpus scale would shuffle every fingerprint a second and third
    time.  Returns ``(doc_a < doc_b, hamming)``.
    """
    if max_hamming >= DHASH_BANDS:
        raise ValueError(
            f"max_hamming={max_hamming} breaks the pigeonhole guarantee "
            f"with {DHASH_BANDS} bands (needs max_hamming < bands)"
        )

    # materialize the DECODED hash frame (five ints per image): the
    # self-join would otherwise run the synthesis + decode per branch
    h = materialize(hashes.filter(F.col("decode_ok")))
    bands = h.select(
        "media_id",
        *[f"b{j}" for j in range(DHASH_BANDS)],
        F.posexplode(F.array("b0", "b1", "b2", "b3")).alias(
            "band_id", "band_val"
        ),
    )
    hamming = sum(
        F.bit_count(F.col(f"a.b{j}").bitwiseXOR(F.col(f"b.b{j}")))
        for j in range(DHASH_BANDS)
    ).cast("long")
    return (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.media_id") < F.col("b.media_id")),
        )
        .select(
            F.col("a.media_id").alias("doc_a"),
            F.col("b.media_id").alias("doc_b"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


# ---------------------------------------------------------------------------
# audio segment dedup — energy-gram fingerprints over DECODED PCM,
# the audio leg of the cross-modality tier: shared audio SEGMENTS
# surface exactly like q143's repeated text spans (positional gram
# match + maximal diagonal runs), but the grams are frame energies
# computed from real RIFF/PCM bytes
# ---------------------------------------------------------------------------

#: one synthesized frame per token: 16 samples at 16 kHz — so a frame
#: index IS a token position and a shared token run IS a shared audio
#: segment
SPEECH_SAMPLES_PER_TOKEN = 16


def synthesize_speech_wav(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Deterministic REAL 16-bit mono PCM WAV payloads from document
    TEXT — the speech-shaped sibling of :func:`synthesize_wav_media`
    (which derives its waveform from the id alone): each token
    contributes ``SPEECH_SAMPLES_PER_TOKEN`` samples whose u16 values
    are ``(md5_u16(token) + 7*j) % 65536`` — a closed form of the
    token STRING and the within-token sample index only, so the same
    token always renders the same 16-sample chunk wherever it occurs
    and in whichever document.  Near-duplicate texts therefore
    produce waveforms that are byte-identical along every shared
    token run — the property the audio segment matcher exploits —
    while the RIFF/WAVE container stays spec-correct
    (:func:`_wav_header`).  Empty documents render a valid
    zero-sample WAV; a NULL text renders a NULL payload (the former
    expression form's semantics, kept exactly).  Rendered through
    :func:`_synthesize_media` with each token's 32-byte sample block
    held in the :func:`_token_cache`."""
    spt = SPEECH_SAMPLES_PER_TOKEN

    def render_factory():
        import hashlib

        def token_block(tok: str) -> bytes:
            u16 = int(hashlib.md5(tok.encode("utf-8")).hexdigest()[:4], 16)
            return b"".join(
                ((u16 + 7 * j) % 65536).to_bytes(2, "little") for j in range(spt)
            )

        block = _token_cache(token_block)

        def render(text) -> bytes | None:
            if text is None:
                return None
            data = b"".join(block(t) for t in text.split(" ") if t)
            return _wav_header(len(data)) + data

        return render

    return _synthesize_media(
        docs, id_col, text_col, "audio/wav", "synthetic-speech", render_factory
    )


def _gram_postings(
    media: DataFrame, k: int, sequence: Callable[[object], list | None]
) -> DataFrame:
    """The one fused decode + gram-hash posting kernel: positional
    gram postings ``(media_id, __pos 1-based, __h)`` with ``__h =
    md5('|'-joined decimal window)`` over every ``k`` consecutive
    values of ``sequence(payload)`` — one payload's decoded int
    sequence, or None for the corrupt-payload branch (no rows).

    Decode AND gram-hash run in ONE map-side Arrow pass (r13
    reassembled the decoded rows through a groupBy/collect_list
    EXCHANGE — removed in r14; the window md5s then moved from
    interpreted array expressions into the decode kernel itself,
    guide §4.2 — rows identical: Python's ``str(int)`` matches
    Spark's long→string cast), the fused per-row shape of "ML
    Inference Pipeline Execution Using Pure SQL Based on Operator
    Fusion" (ICDE 2025).  The gram hash is a pure function of the
    decoded sequence, so stored postings are engine- and run-stable.

    PRECONDITION (r14 ADVICE #2): at most one payload row per
    ``media_id``.  The fused path emits an independent posting set per
    ROW; the old groupBy path merged duplicate-media_id rows into one
    ill-defined sequence.  Every in-repo producer (the synthesizers
    keyed by doc_id, the per-batch index writers) satisfies this."""

    def _postings(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        import numpy as np

        for pdf in batches:
            ids, poss, hs = [], [], []
            for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
                seq = sequence(payload)
                if seq is None or len(seq) < k:
                    continue
                parts = [str(v) for v in seq]
                for i in range(len(parts) - k + 1):
                    ids.append(media_id)
                    poss.append(i + 1)
                    hs.append(
                        hashlib.md5(
                            "|".join(parts[i : i + k]).encode()
                        ).hexdigest()
                    )
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(
                        np.asarray(ids, dtype=np.int64), dtype="int64"
                    ),
                    # int32, matching the former posexplode+1 column
                    "__pos": pd.Series(
                        np.asarray(poss, dtype=np.int32), dtype="int32"
                    ),
                    "__h": pd.Series(hs, dtype="object"),
                }
            )

    return media.select("media_id", "payload").mapInPandas(
        _postings, schema="media_id long, __pos int, __h string"
    )


def audio_gram_postings(
    media: DataFrame,
    *,
    k: int = 4,
    frame_samples: int = SPEECH_SAMPLES_PER_TOKEN,
) -> DataFrame:
    """Positional energy-gram postings ``(media_id, __pos 1-based,
    __h)`` for a media frame — the decode-and-fingerprint stage of
    :func:`audio_segment_pairs`, factored out so the streaming audio
    feature store (``streaming/audio_index.py``) can persist exactly
    these rows per batch and the match stage can be served WITHOUT
    re-decoding.  :func:`_gram_postings` over the int64 frame
    energies of :func:`_pcm_frame_energies`."""

    def energies(payload) -> list | None:
        got = _pcm_frame_energies(payload, frame_samples)
        return None if got is None else got[0].tolist()

    return _gram_postings(media, k, energies)


def audio_segment_pairs(
    media: DataFrame,
    *,
    k: int = 4,
    min_frames: int = 8,
    frame_samples: int = SPEECH_SAMPLES_PER_TOKEN,
    max_df: int | None = None,
) -> DataFrame:
    """Shared audio SEGMENTS across documents — the Shazam-shaped
    dedup primitive: fingerprint every ``k`` consecutive frame
    energies (an exact positional gram over the decoded PCM), match
    grams across documents, and extract maximal runs of consecutive
    matches via the diagonal identity
    (:func:`~hospital_data_engineering_pipeline_end_to_end_project_spark.operators.dedupe.diagonal_spans`
    — the same second stage as the repeated-text-span operator, with
    audio frames in place of token k-grams).

    The frame energies come from :func:`audio_frame_energy`'s REAL
    decode (RIFF walk + int16 PCM reinterpretation, Arrow-batched),
    so the pipeline is bytes -> pixels^W samples -> features -> join,
    never a shortcut around the binary payload.  Completeness is
    trivial (ALL grams are posted — any shared segment >= ``k``
    frames shares a gram); ``max_df`` is the boilerplate escape for
    corpora with globally-ubiquitous segments (jingles, silence),
    dropping above-cap grams from candidate generation exactly like
    the span operator's knob.  Since round 12 the cap counts DISTINCT
    DOCUMENTS holding a gram, not total postings — a segment looped
    WITHIN one document (repeated silence) no longer inflates its
    gram toward the cap, so a given ``max_df`` value keeps strictly
    MORE grams than the pre-r12 posting-count semantics; callers
    tuned against the old count-based cap should re-derive the knob
    from a document-frequency histogram.  At index scale the
    winnowing selection of ``streaming/span_index.py`` applies to
    these fingerprints verbatim.

    Returns ``(doc_a < doc_b, start_a, start_b, seg_frames)`` —
    1-based frame offsets, maximal-run lengths >= ``min_frames``.
    """
    if min_frames < k:
        raise ValueError(f"min_frames={min_frames} below the gram size k={k}")
    pos = audio_gram_postings(media, k=k, frame_samples=frame_samples)
    return _posting_run_pairs(
        pos,
        k=k,
        min_frames=min_frames,
        max_df=max_df,
        out_len="seg_frames",
    )


def _posting_run_pairs(
    pos: DataFrame,
    *,
    k: int,
    min_frames: int,
    max_df: int | None,
    out_len: str,
    materialize_pos: bool = True,
) -> DataFrame:
    """Shared tail of the media-segment matchers: positional gram
    postings ``(media_id, __pos 1-based, __h)`` -> optional ``max_df``
    candidate cap (generation-only, the span operator's knob) ->
    cross-document gram match -> maximal consecutive runs via
    :func:`~hospital_data_engineering_pipeline_end_to_end_project_spark.operators.dedupe.diagonal_spans`.
    Used by the audio (energy grams) and video (frame-fingerprint
    grams) legs — the k-gram construction differs per modality, the
    run extraction is identical.

    ``pos`` is materialized ONCE before the self-join: its upstream is
    the fused payload decode + gram hashing, and a
    self-join's branches do not reuse a common subtree under AQE's
    broadcast rewrite (the round-7 ReusedExchange finding the sibling
    banded operators all materialize against) — without it the decode
    pipeline runs once per branch.  ``max_df`` counts DISTINCT
    DOCUMENTS per gram (the span operator's semantics): a segment
    repeated WITHIN one document — looped silence — must not inflate
    a gram toward the cap.  ``materialize_pos=False`` skips the
    materialization for postings whose branches re-read a parquet scan
    instead of a decode pipeline."""
    from hospital_data_engineering_pipeline_end_to_end_project_spark.operators import dedupe

    if materialize_pos:
        pos = materialize(pos)
    if max_df is not None:
        # anti-join against the ABOVE-cap grams, not semi against the
        # keep set: the drop side is the boilerplate TAIL (bounded by
        # postings/max_df, tiny on real corpora), so AQE broadcasts it
        # at runtime and the postings are never reshuffled for the
        # cap — the engaged-by-default cap costs one partial-agg pass,
        # not two full posting shuffles (r13: the semi form added
        # ~1.5 s per gated media matcher at sf0.1 where the cap prunes
        # nothing)
        drop = (
            pos.groupBy("__h")
            .agg(F.countDistinct("media_id").alias("__df"))
            .filter(F.col("__df") > max_df)
            .select("__h")
        )
        pos = pos.join(drop, "__h", "left_anti")
    a = pos.select(
        F.col("media_id").alias("doc_a"), F.col("__pos").alias("__pa"), "__h"
    )
    b = pos.select(
        F.col("media_id").alias("doc_b"), F.col("__pos").alias("__pb"), "__h"
    )
    m = a.join(b, "__h").filter(F.col("doc_a") < F.col("doc_b"))
    return dedupe.diagonal_spans(
        m,
        "doc_a",
        "doc_b",
        "__pa",
        "__pb",
        k=k,
        min_run=min_frames - k + 1,
        out_left="start_a",
        out_right="start_b",
    ).withColumnRenamed("span_tokens", out_len)


# ---------------------------------------------------------------------------
# video scene dedup — frame-fingerprint grams over a REAL MJPEG
# marker walk, the video leg of the cross-modality tier: shared
# SCENES (consecutive-frame runs) surface exactly like shared audio
# segments, but the per-frame fingerprint is carried inside each
# JPEG frame's COM marker segment and recovered by parsing the
# marker chain, never by peeking at the source text
# ---------------------------------------------------------------------------

#: per-frame fingerprint width: 15 lowercase hex chars (60 bits) —
#: the engine's established md5-prefix integer encoding, ASCII-safe
#: inside a JPEG COM segment (no 0xFF byte can occur, so the MJPEG
#: EOI boundary walk stays exact)
VIDEO_FP_HEX = 15

#: fixed synthetic frame geometry (the fingerprint carries the
#: content; dims exercise the SOF parse)
_VIDEO_FRAME_W = 8
_VIDEO_FRAME_H = 8


def synthesize_token_video(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Deterministic REAL MJPEG payloads from document TEXT — the
    video sibling of :func:`synthesize_speech_wav`: each token
    renders ONE complete marker-segment JPEG frame (SOI | APP0/JFIF |
    COM | SOF0 | EOI) whose COM segment carries the 15-hex-char md5
    prefix of the token string as ASCII text.  The same token always
    renders the byte-identical frame wherever it occurs, so a shared
    token run IS a shared scene — the property the scene matcher
    exploits — while every frame stays parseable by the stdlib SOF
    walker (:func:`jpeg_sof_decoder`) and the whole payload by the
    MJPEG EOI-boundary walk (:func:`_mjpeg_frames`).  Empty documents
    render a valid zero-frame (empty) stream; a NULL text renders a
    NULL payload (the former expression form's semantics, kept
    exactly).  Rendered through :func:`_synthesize_media` with each
    token's frame held in the :func:`_token_cache`."""
    com_len = VIDEO_FP_HEX + 2
    pre = bytes.fromhex(
        "ffd8"                                          # SOI
        "ffe0" "0010" "4a46494600" "0101" "00"
        "0001" "0001" "0000"                            # APP0/JFIF
        "fffe"                                          # COM
        + f"{com_len:04x}"
    )
    post = bytes.fromhex(
        "ffc0" "0011" "08"                              # SOF0
        + f"{_VIDEO_FRAME_H:04x}"
        + f"{_VIDEO_FRAME_W:04x}"
        + "03" "012200" "021101" "031101"
        + "ffd9"                                        # EOI
    )

    def render_factory():
        import hashlib

        def token_frame(tok: str) -> bytes:
            fp = hashlib.md5(tok.encode("utf-8")).hexdigest()[:VIDEO_FP_HEX]
            return pre + fp.encode("ascii") + post

        frame = _token_cache(token_frame)

        def render(text) -> bytes | None:
            if text is None:
                return None
            return b"".join(frame(t) for t in text.split(" ") if t)

        return render

    return _synthesize_media(
        docs, id_col, text_col, "video/x-motion-jpeg", "synthetic-token-video",
        render_factory,
    )


VIDEO_SIG_SCHEMA = "media_id long, frame_index long, fp long"


def _frame_com_fp(frame: bytes) -> int:
    """Fingerprint of one JPEG frame, in one walk of its marker
    segments: the frame must pass the checks of the registered SOF
    parser (:func:`jpeg_sof_decoder`: SOI, an unbroken chain, a valid
    first SOF) and carry exactly one COM holding the ASCII-hex
    fingerprint.  Raises ``ValueError`` on any deviation — the
    all-or-nothing per-payload contract maps it to exclusion."""
    import struct

    if len(frame) < 4 or frame[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (no SOI)")
    off = 2
    com = None
    sof = False
    while off + 4 <= len(frame):
        if frame[off] != 0xFF:
            raise ValueError("broken JPEG marker chain")
        marker = frame[off + 1]
        if marker == 0xD9:
            break
        seg_len = struct.unpack_from(">H", frame, off + 2)[0]
        if seg_len < 2 or off + 2 + seg_len > len(frame):
            raise ValueError("JPEG segment exceeds frame (truncated)")
        if marker == 0xFE:
            if com is not None:
                raise ValueError("multiple COM segments")
            com = frame[off + 4 : off + 2 + seg_len]
        elif not sof and marker in _JPEG_SOF_MARKERS:
            _jpeg_sof(frame, off, seg_len)
            sof = True
        off += 2 + seg_len
    if not sof:
        raise ValueError("no SOF marker")
    if com is None:
        raise ValueError("no COM fingerprint segment")
    txt = com.decode("ascii", errors="strict")
    if len(txt) != VIDEO_FP_HEX or any(
        c not in "0123456789abcdef" for c in txt
    ):
        raise ValueError("malformed COM fingerprint")
    return int(txt, 16)


def _frame_fps(payload) -> list[int] | None:
    """The COM fingerprints of every frame of one MJPEG payload, or
    None when the walk (:func:`_mjpeg_frames`) or any frame's
    fingerprint fails — the all-or-nothing rule."""
    frames = _mjpeg_frames(payload)
    if frames is None:
        return None
    try:
        return [_frame_com_fp(f) for f in frames]
    except ValueError:
        return None


def video_frame_signatures(media: DataFrame) -> DataFrame:
    """Per-frame fingerprints from a REAL MJPEG walk: SOF-parse every
    frame and recover its COM fingerprint (:func:`_frame_fps`).
    Arrow-batched ``mapInPandas``, one row per frame; a payload with
    ANY unparseable frame (or trailing bytes after the last EOI)
    contributes nothing, so a truncated stream never skews downstream
    scene statistics."""

    def _sigs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, fidx, fps = [], [], []
            for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
                got = _frame_fps(payload)
                if got is None:
                    continue
                ids.extend([media_id] * len(got))
                fidx.extend(range(len(got)))
                fps.extend(got)
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "frame_index": pd.Series(fidx, dtype="int64"),
                    "fp": pd.Series(fps, dtype="int64"),
                }
            )

    return media.mapInPandas(_sigs, schema=VIDEO_SIG_SCHEMA)


def video_gram_postings(media: DataFrame, *, k: int = 4) -> DataFrame:
    """Positional frame-fingerprint gram postings ``(media_id, __pos
    1-based, __h)`` — the video analog of :func:`audio_gram_postings`:
    :func:`_gram_postings` over the COM fingerprints of
    :func:`_frame_fps`, so the same all-or-nothing per-payload rule
    and the same one-row-per-``media_id`` precondition hold."""
    return _gram_postings(media, k, _frame_fps)


def video_scene_pairs(
    media: DataFrame,
    *,
    k: int = 4,
    min_frames: int = 8,
    max_df: int | None = None,
) -> DataFrame:
    """Shared video SCENES across documents — the video leg of the
    segment-dedup family: fingerprint every ``k`` consecutive frame
    fingerprints (a positional gram over the decoded frame sequence),
    match grams across documents, extract maximal runs via the
    diagonal identity.  Same second stage as the audio matcher
    (:func:`_posting_run_pairs`); the first stage is the MJPEG
    marker walk of :func:`video_frame_signatures` instead of the PCM
    energy decode.  ``max_df`` is the ubiquitous-scene escape
    (intros, color bars), candidate-generation-only.

    Returns ``(doc_a < doc_b, start_a, start_b, scene_frames)`` —
    1-based frame offsets, maximal-run lengths >= ``min_frames``."""
    if min_frames < k:
        raise ValueError(f"min_frames={min_frames} below the gram size k={k}")
    pos = video_gram_postings(media, k=k)
    return _posting_run_pairs(
        pos,
        k=k,
        min_frames=min_frames,
        max_df=max_df,
        out_len="scene_frames",
    )


def dhash_cross_pairs(
    corpus_hashes: DataFrame,
    batch_hashes: DataFrame,
    max_hamming: int = 3,
) -> DataFrame:
    """Banded Hamming join BETWEEN two dHash sets — the batch-vs-
    corpus form of :func:`dhash_near_dups` (same pigeonhole-exact
    banding, same exact integer verification), the recomputing
    reference for the index-served image join
    (``streaming/dhash_index.incremental_image_join_against_index``).
    The batch side is broadcast (the daily-arrivals asymmetry).

    Returns ``(batch_doc, corpus_doc, hamming)``.
    """
    if max_hamming >= DHASH_BANDS:
        raise ValueError(
            f"max_hamming={max_hamming} breaks the pigeonhole guarantee "
            f"with {DHASH_BANDS} bands (needs max_hamming < bands)"
        )
    hb = batch_hashes.filter(F.col("decode_ok"))
    hc = corpus_hashes.filter(F.col("decode_ok"))
    # hash columns ride THROUGH the band join on both sides (four
    # ints each, functionally dependent on the id): one broadcast
    # equi-join + one distinct, the corpus fingerprints are scanned
    # exactly once and never re-joined
    cb = hc.select(
        F.col("media_id").alias("corpus_doc"),
        *[F.col(f"b{j}").alias(f"__y{j}") for j in range(DHASH_BANDS)],
        F.posexplode(F.array("b0", "b1", "b2", "b3")).alias(
            "band_id", "band_val"
        ),
    )
    bb = hb.select(
        F.col("media_id").alias("batch_doc"),
        *[F.col(f"b{j}").alias(f"__x{j}") for j in range(DHASH_BANDS)],
        F.posexplode(F.array("b0", "b1", "b2", "b3")).alias(
            "band_id", "band_val"
        ),
    )
    hamming = sum(
        F.bit_count(F.col(f"__x{j}").bitwiseXOR(F.col(f"__y{j}")))
        for j in range(DHASH_BANDS)
    ).cast("long")
    return (
        cb.join(F.broadcast(bb), ["band_id", "band_val"])
        .select("batch_doc", "corpus_doc", hamming.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
