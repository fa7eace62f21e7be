"""Round-12 query wave (q144-q151).

- q144 index-served incremental LSH join — q139's daily near-dup
  join answered FROM materialized band shards: the query builds the
  corpus's LSH band index as three per-batch shards, compacts them
  (the full shard lifecycle: write -> compact -> serve), and probes
  with the arriving batch via
  ``streaming/lsh_index.incremental_join_against_index`` — the
  "build once, probe many" path a production corpus service actually
  runs.  The oracle replays the RECOMPUTING construction (banding
  both sides + exact integer-thresholded verification), so the hash
  gate pins index-served ≡ recomputed.
- q145 index-served incremental span extraction — the same lifecycle
  for the winnowing fingerprint posting index
  (``streaming/span_index.incremental_spans_against_index``): exact
  repeated spans between the batch and the INDEXED corpus, candidates
  from stored postings, positional stage-2 only over candidate docs.
  Oracle replays the two-stage recompute restricted to batch-vs-corpus
  pairs.
- q146 perceptual image dedup — the cross-modality tier: documents
  rendered as deterministic 9x8 grayscale token-histogram thumbnails
  (REAL binary PGM payloads, Column-expression synthesis), dHash
  computed from the DECODED raster bytes (Arrow-batched
  ``mapInPandas``), near-duplicate pairs from a banded Hamming join
  that is pigeonhole-exact at the gated threshold.  The oracle
  replays synthesis + hash + banding + verification as pure integer
  SQL.
- q147 shared audio segments — the audio leg of the same tier:
  documents rendered as deterministic speech-shaped WAVs (one
  16-sample PCM chunk per token, a closed form of the token string),
  REAL RIFF walk + int16 decode to per-frame energies (Arrow
  ``mapInPandas``), energy-gram fingerprints matched across documents
  and extended to maximal shared segments via the diagonal identity —
  the Shazam-shaped dedup primitive.  Oracle replays the waveform ->
  int16 -> energy arithmetic in closed form.

- q148 shared video scenes — the video leg completing the trio:
  documents rendered as deterministic MJPEG streams (one complete
  JPEG frame per token, the COM segment carrying the token's
  md5-prefix fingerprint as ASCII hex), a REAL marker-chain walk
  recovering per-frame fingerprints (Arrow ``mapInPandas``), then
  the repeated-span machinery over the fingerprint sequence.  Oracle
  replays token -> fingerprint -> gram -> island in closed form.
- q149 index-served perceptual image join — the dHash fingerprint
  index lifecycle (``streaming/dhash_index.py``, the FIFTH leg):
  corpus images decoded+hashed once into per-batch shards, compacted,
  the arriving batch answered from the STORED 64-bit fingerprints
  with zero corpus re-reads.  Oracle replays synthesis + hash +
  banding + verification restricted to batch-vs-corpus pairs.

- q150 crawl-shard boundary stitches — documents rendered as sharded
  fetch records (midpoint cut, deterministic carried overlap), the
  operator naming every suffix/prefix stitch with its exact maximal
  overlap via the anchor identity (right record's single first-gram
  row broadcast against the corpus postings, exact token-slice
  verification).  Oracle replays the record synthesis + anchor +
  slice compare.

The index-served queries use a doc_id % 13 batch split (distinct
from q139/q141's % 17) so their gated row sets are not copies of the
recomputing queries' rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hospital_data_engineering_pipeline_end_to_end_project_spark.operators import multimodal
from hospital_data_engineering_pipeline_end_to_end_project_spark.plans.wave11 import (
    _MA,
    _MB,
    _MP,
    _Q138_K,
    _Q138_W,
    TOKS_SQL,
)
from hospital_data_engineering_pipeline_end_to_end_project_spark.scratch import fresh_store
from hospital_data_engineering_pipeline_end_to_end_project_spark.sources.readers import (
    load_table,
    parquet_row_count,
)
from hospital_data_engineering_pipeline_end_to_end_project_spark.streaming import (
    lsh_index,
    shardstore,
    span_index,
)

QUERIES: dict = {}
ORACLES: dict = {}

#: batch split for the index-served queries: ~7.7% of the corpus
_BATCH_MOD = 13

#: index build: the corpus arrives as this many per-batch shards
_N_INDEX_BATCHES = 3


def _split(spark: SparkSession, sf_dir: str):
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = d.filter(F.col("doc_id") % _BATCH_MOD != 0)
    batch = d.filter(F.col("doc_id") % _BATCH_MOD == 0)
    return corpus, batch


# ---------------------------------------------------------------------------
# q144 — incremental LSH near-dup join served from the band index
# ---------------------------------------------------------------------------

_Q144_T = (7, 10)


def q144_lsh_index_served_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus, batch = _split(spark, sf_dir)
    root = fresh_store("q144", sf_dir)
    writer = lsh_index.make_lsh_batch_writer(root)
    # historical backfill: the shard jobs are independent, so they run
    # as CONCURRENT Spark jobs (per-shard commit contract unchanged)
    shardstore.backfill_by_mod(writer, corpus, "doc_id", _N_INDEX_BATCHES)
    # full lifecycle on the gated path: the probe reads the COMPACTED
    # store, not the raw batch shards
    lsh_index.compact_lsh_shards(spark, root)
    return lsh_index.incremental_join_against_index(
        spark, root, corpus, batch, "doc_id", "text",
        t_num=_Q144_T[0], t_den=_Q144_T[1],
    )


Q144_SQL = f"""
WITH toks AS (SELECT doc_id, {TOKS_SQL} AS t FROM documents),
sh0 AS (
  SELECT doc_id, [array_to_string(t[i+1:i+5], ' ') FOR i IN range(len(t) - 4)] AS sh
  FROM toks WHERE len(t) >= 5
),
shd AS (SELECT doc_id, list_distinct(sh) AS sh FROM sh0),
hv AS (
  SELECT doc_id,
         [CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) % {_MP} FOR s IN sh] AS hs
  FROM shd
),
sigs AS (
  SELECT doc_id,
         [list_aggregate([({_MA}[j+1] * h + {_MB}[j+1]) % {_MP} FOR h IN hs],
                         'min') FOR j IN range(8)] AS sig
  FROM hv
),
bnd AS (
  SELECT doc_id, band_id,
         md5(CAST(band_id AS VARCHAR) || '|' || CAST(sig[2*band_id + 1] AS VARCHAR)
             || '|' || CAST(sig[2*band_id + 2] AS VARCHAR)) AS band_hash
  FROM sigs, (SELECT unnest(range(4)) AS band_id)
),
cand AS (
  SELECT DISTINCT b.doc_id AS batch_doc, c.doc_id AS corpus_doc
  FROM bnd b JOIN bnd c
    ON b.band_id = c.band_id AND b.band_hash = c.band_hash
  WHERE b.doc_id % {_BATCH_MOD} = 0 AND c.doc_id % {_BATCH_MOD} <> 0
),
ver AS (
  SELECT cand.batch_doc, cand.corpus_doc,
         len(list_intersect(sb.sh, sc.sh)) AS inter_size,
         len(sb.sh) AS nb, len(sc.sh) AS nc
  FROM cand
  JOIN shd sb ON sb.doc_id = cand.batch_doc
  JOIN shd sc ON sc.doc_id = cand.corpus_doc
)
SELECT batch_doc, corpus_doc,
       CAST(inter_size AS BIGINT) AS inter_size,
       CAST(nb + nc - inter_size AS BIGINT) AS union_size,
       round(CAST(inter_size AS DOUBLE) / (nb + nc - inter_size), 6) AS jaccard
FROM ver
WHERE ({_Q144_T[1]} + {_Q144_T[0]}) * inter_size >= {_Q144_T[0]} * (nb + nc)
"""

QUERIES["q144_lsh_index_served_join"] = q144_lsh_index_served_join
ORACLES["q144_lsh_index_served_join"] = Q144_SQL


# ---------------------------------------------------------------------------
# q145 — incremental repeated-span extraction served from the
# winnowing fingerprint posting index
# ---------------------------------------------------------------------------

_Q145_MIN_SPAN = _Q138_W + _Q138_K - 1  # the winnowing guarantee bound


def q145_span_index_served_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus, batch = _split(spark, sf_dir)
    root = fresh_store("q145", sf_dir)
    writer = span_index.make_span_batch_writer(root, k=_Q138_K, w=_Q138_W)
    # r13: the 5 backfill shard jobs ran SEQUENTIALLY and dominated
    # the headline (build 10.8 s of 17.4 s attributed at sf0.1, each
    # 1/5-corpus winnow underfilling the 32 cores); they are
    # independent jobs, so submit them concurrently — same per-shard
    # commits, same store, row-identical probe
    shardstore.backfill_by_mod(writer, corpus, "doc_id", _N_INDEX_BATCHES)
    span_index.compact_span_shards(spark, root)
    return span_index.incremental_spans_against_index(
        spark, root, corpus, batch, "doc_id", "text",
        k=_Q138_K, w=_Q138_W, min_span=_Q145_MIN_SPAN,
    )


Q145_SQL = f"""
WITH toks AS (SELECT doc_id, {TOKS_SQL} AS t FROM documents),
hv AS (
  SELECT doc_id,
         [CAST('0x' || substr(md5(array_to_string(t[i:i+{_Q138_K - 1}], ' ')), 1, 15) AS BIGINT)
          FOR i IN range(1, len(t) - {_Q138_K - 1} + 1)] AS hs
  FROM toks WHERE len(t) >= {_Q138_K}
),
win AS (SELECT doc_id, hs, len(hs) AS nh FROM hv WHERE len(hs) >= {_Q138_W}),
sel AS (
  SELECT doc_id,
         list_distinct([hs[j + {_Q138_W} - list_position(list_reverse(hs[j:j+{_Q138_W - 1}]),
                                                         list_min(hs[j:j+{_Q138_W - 1}]))]
                        FOR j IN range(1, nh - {_Q138_W} + 2)]) AS fps
  FROM win
),
ex AS (SELECT doc_id, unnest(fps) AS fp FROM sel),
pairs AS (
  SELECT DISTINCT a.doc_id AS batch_doc, b.doc_id AS corpus_doc
  FROM ex a JOIN ex b ON a.fp = b.fp
  WHERE a.doc_id % {_BATCH_MOD} = 0 AND b.doc_id % {_BATCH_MOD} <> 0
),
p2 AS (
  SELECT doc_id, unnest([{{'p': i, 'h': hs[i]}} FOR i IN range(1, len(hs) + 1)]) AS ph
  FROM hv
),
pos AS (SELECT doc_id, ph.p AS pos, ph.h AS h FROM p2),
m AS (
  SELECT pr.batch_doc, pr.corpus_doc, a.pos AS pa, b.pos AS pb
  FROM pairs pr
  JOIN pos a ON a.doc_id = pr.batch_doc
  JOIN pos b ON b.doc_id = pr.corpus_doc AND b.h = a.h
),
r AS (
  SELECT batch_doc, corpus_doc, pa - pb AS delta, pa, pb,
         pa - row_number() OVER (PARTITION BY batch_doc, corpus_doc, pa - pb
                                 ORDER BY pa) AS isl
  FROM m
),
runs AS (
  SELECT batch_doc, corpus_doc, min(pa) AS sa, min(pb) AS sb, count(*) AS len
  FROM r GROUP BY batch_doc, corpus_doc, delta, isl
)
SELECT batch_doc, corpus_doc,
       CAST(sa AS BIGINT) AS start_batch,
       CAST(sb AS BIGINT) AS start_corpus,
       CAST(len + {_Q138_K - 1} AS BIGINT) AS span_tokens
FROM runs
WHERE len >= {_Q145_MIN_SPAN - _Q138_K + 1}
"""

QUERIES["q145_span_index_served_join"] = q145_span_index_served_join
ORACLES["q145_span_index_served_join"] = Q145_SQL


# ---------------------------------------------------------------------------
# q146 — perceptual image dedup (dHash over decoded thumbnails)
# ---------------------------------------------------------------------------

_Q146_MAX_HAMMING = 3
_Q146_NPX = multimodal.DHASH_GRID_W * multimodal.DHASH_GRID_H


def q146_image_dhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hospital_data_engineering_pipeline_end_to_end_project_spark.operators.parallelism import fan_out

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # the synthesis is a heavy md5 projection (72 keyed hashes per
    # distinct token) and the table is a single parquet file at bench
    # SFs — balance it across cores before the per-row work
    media = multimodal.synthesize_minhash_pgm(fan_out(d), "doc_id", "text")
    hashes = multimodal.dhash_bands_from_pgm(media)
    return multimodal.dhash_near_dups(hashes, max_hamming=_Q146_MAX_HAMMING)


Q146_SQL = f"""
WITH toks AS (SELECT doc_id, {TOKS_SQL} AS t FROM documents),
dt AS (SELECT doc_id, list_distinct(t) AS dt FROM toks),
pxl AS (
  SELECT doc_id,
         [coalesce(CAST('0x' || substr(
             list_min([md5(CAST(i AS VARCHAR) || '|' || tok) FOR tok IN dt]),
             17, 2) AS BIGINT), 0)
          FOR i IN range({_Q146_NPX})] AS px
  FROM dt
),
bands AS (
  SELECT doc_id, band_id,
         coalesce(sum(CASE WHEN px[(2*band_id + b//8)*{multimodal.DHASH_GRID_W} + (b%8) + 1]
                            > px[(2*band_id + b//8)*{multimodal.DHASH_GRID_W} + (b%8) + 2]
                      THEN CAST(1 AS BIGINT) << b END), 0) AS bv
  FROM pxl
  CROSS JOIN (SELECT unnest(range({multimodal.DHASH_BANDS})) AS band_id)
  CROSS JOIN (SELECT unnest(range(16)) AS b)
  GROUP BY doc_id, band_id
),
bv4 AS (
  SELECT doc_id,
         max(CASE WHEN band_id = 0 THEN bv END) AS b0,
         max(CASE WHEN band_id = 1 THEN bv END) AS b1,
         max(CASE WHEN band_id = 2 THEN bv END) AS b2,
         max(CASE WHEN band_id = 3 THEN bv END) AS b3
  FROM bands GROUP BY doc_id
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.bv = b.bv AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       CAST(bit_count(xor(x.b0, y.b0)) + bit_count(xor(x.b1, y.b1))
          + bit_count(xor(x.b2, y.b2)) + bit_count(xor(x.b3, y.b3)) AS BIGINT)
         AS hamming
FROM cand
JOIN bv4 x ON x.doc_id = doc_a
JOIN bv4 y ON y.doc_id = doc_b
WHERE bit_count(xor(x.b0, y.b0)) + bit_count(xor(x.b1, y.b1))
    + bit_count(xor(x.b2, y.b2)) + bit_count(xor(x.b3, y.b3))
   <= {_Q146_MAX_HAMMING}
"""

QUERIES["q146_image_dhash_pairs"] = q146_image_dhash_pairs
ORACLES["q146_image_dhash_pairs"] = Q146_SQL


# ---------------------------------------------------------------------------
# q147 — shared audio segments (energy-gram fingerprints over PCM)
#
# The audio leg of the cross-modality dedup tier: documents rendered
# as deterministic speech-shaped WAVs (one 16-sample chunk per token,
# chunk a closed form of the token string), REAL RIFF+PCM decode to
# per-frame energies (Arrow mapInPandas), then the repeated-span
# machinery over the energy-gram sequence.  The oracle replays the
# waveform -> int16 -> energy arithmetic in closed form.
# ---------------------------------------------------------------------------

_Q147_K = 4       # energy-gram size (frames)
_Q147_MIN = 8     # minimal reported shared segment (frames = tokens)

#: the boilerplate cap ENGAGED on the gated media matchers (q147,
#: q148, q150, q151) and mirrored in their oracles: a gram held by
#: more than this many DISTINCT documents leaves candidate
#: generation.  Measured-inert at every correctness/bench SF — the
#: max distinct-doc df of any 4-token gram is 4/4/6 at
#: sf0.001/0.01/0.1 and of any stitch ANCHOR gram 8/6/8 (r13
#: measurement, BASELINE.md) — so the capped plans are value-equal
#: to the uncapped ones on real data, while corpus-ubiquitous grams
#: (the deepdocs3 unsalted 1/5 population at 100x, df >= 100; licence
#: headers / jingles / silence in production) are pruned before the
#: quadratic Σdf² posting self-join can form.  This is the r12
#: verdict's scale-killer fix: the defense is now ON the gated path,
#: not opt-in.
_MEDIA_MAX_DF = 32


def q147_audio_segment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hospital_data_engineering_pipeline_end_to_end_project_spark.operators.parallelism import fan_out

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    media = multimodal.synthesize_speech_wav(fan_out(d), "doc_id", "text")
    return multimodal.audio_segment_pairs(
        media, k=_Q147_K, min_frames=_Q147_MIN, max_df=_MEDIA_MAX_DF
    )


Q147_SQL = f"""
WITH toks AS (SELECT doc_id, {TOKS_SQL} AS t FROM documents),
en AS (
  SELECT doc_id,
         [list_sum([v*v FOR v IN
            [((CAST('0x' || substr(md5(tok), 1, 4) AS BIGINT) + 7*j) % 65536
              + 32768) % 65536 - 32768
             FOR j IN range({multimodal.SPEECH_SAMPLES_PER_TOKEN})]])
          FOR tok IN t] AS e
  FROM toks
),
sq AS (SELECT doc_id, e FROM en WHERE len(e) >= {_Q147_K}),
g AS (
  SELECT doc_id,
         unnest([{{'p': i,
                   'h': md5(CAST(e[i] AS VARCHAR) || '|' || CAST(e[i+1] AS VARCHAR)
                            || '|' || CAST(e[i+2] AS VARCHAR) || '|' || CAST(e[i+3] AS VARCHAR))}}
                 FOR i IN range(1, len(e) - {_Q147_K - 1} + 1)]) AS ph
  FROM sq
),
pos0 AS (SELECT doc_id, ph.p AS pos, ph.h AS h FROM g),
keep AS (SELECT h FROM pos0 GROUP BY h
         HAVING count(DISTINCT doc_id) <= {_MEDIA_MAX_DF}),
pos AS (SELECT pos0.* FROM pos0 JOIN keep USING (h)),
m AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pa, b.pos AS pb
  FROM pos a JOIN pos b ON a.h = b.h AND a.doc_id < b.doc_id
),
r AS (
  SELECT doc_a, doc_b, pa - pb AS delta, pa, pb,
         pa - row_number() OVER (PARTITION BY doc_a, doc_b, pa - pb
                                 ORDER BY pa) AS isl
  FROM m
),
runs AS (
  SELECT doc_a, doc_b, min(pa) AS sa, min(pb) AS sb, count(*) AS len
  FROM r GROUP BY doc_a, doc_b, delta, isl
)
SELECT doc_a, doc_b,
       CAST(sa AS BIGINT) AS start_a,
       CAST(sb AS BIGINT) AS start_b,
       CAST(len + {_Q147_K - 1} AS BIGINT) AS seg_frames
FROM runs
WHERE len >= {_Q147_MIN - _Q147_K + 1}
"""

QUERIES["q147_audio_segment_pairs"] = q147_audio_segment_pairs
ORACLES["q147_audio_segment_pairs"] = Q147_SQL


# ---------------------------------------------------------------------------
# q148 — shared video scenes (frame-fingerprint grams over MJPEG)
#
# The video leg of the cross-modality dedup tier, completing the
# image (q146) / audio (q147) / video trio: documents rendered as
# deterministic MJPEG streams (one complete JPEG frame per token,
# the frame's COM segment carrying the token's md5-prefix fingerprint
# as ASCII hex), a REAL marker-chain walk (SOI/APP0/COM/SOF0/EOI)
# recovering per-frame fingerprints (Arrow mapInPandas), then the
# repeated-span machinery over the fingerprint sequence.  The oracle
# replays token -> md5-prefix fingerprint -> gram -> island in closed
# form — the same island SQL as q147 with the frame fingerprint in
# place of the frame energy.
# ---------------------------------------------------------------------------

_Q148_K = 4       # fingerprint-gram size (frames)
_Q148_MIN = 8     # minimal reported shared scene (frames = tokens)


def q148_video_scene_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hospital_data_engineering_pipeline_end_to_end_project_spark.operators.parallelism import fan_out

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    media = multimodal.synthesize_token_video(fan_out(d), "doc_id", "text")
    return multimodal.video_scene_pairs(
        media, k=_Q148_K, min_frames=_Q148_MIN, max_df=_MEDIA_MAX_DF
    )


Q148_SQL = f"""
WITH toks AS (SELECT doc_id, {TOKS_SQL} AS t FROM documents),
fp AS (
  SELECT doc_id,
         [CAST('0x' || substr(md5(tok), 1, {multimodal.VIDEO_FP_HEX}) AS BIGINT)
          FOR tok IN t] AS e
  FROM toks
),
sq AS (SELECT doc_id, e FROM fp WHERE len(e) >= {_Q148_K}),
g AS (
  SELECT doc_id,
         unnest([{{'p': i,
                   'h': md5(CAST(e[i] AS VARCHAR) || '|' || CAST(e[i+1] AS VARCHAR)
                            || '|' || CAST(e[i+2] AS VARCHAR) || '|' || CAST(e[i+3] AS VARCHAR))}}
                 FOR i IN range(1, len(e) - {_Q148_K - 1} + 1)]) AS ph
  FROM sq
),
pos0 AS (SELECT doc_id, ph.p AS pos, ph.h AS h FROM g),
keep AS (SELECT h FROM pos0 GROUP BY h
         HAVING count(DISTINCT doc_id) <= {_MEDIA_MAX_DF}),
pos AS (SELECT pos0.* FROM pos0 JOIN keep USING (h)),
m AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pa, b.pos AS pb
  FROM pos a JOIN pos b ON a.h = b.h AND a.doc_id < b.doc_id
),
r AS (
  SELECT doc_a, doc_b, pa - pb AS delta, pa, pb,
         pa - row_number() OVER (PARTITION BY doc_a, doc_b, pa - pb
                                 ORDER BY pa) AS isl
  FROM m
),
runs AS (
  SELECT doc_a, doc_b, min(pa) AS sa, min(pb) AS sb, count(*) AS len
  FROM r GROUP BY doc_a, doc_b, delta, isl
)
SELECT doc_a, doc_b,
       CAST(sa AS BIGINT) AS start_a,
       CAST(sb AS BIGINT) AS start_b,
       CAST(len + {_Q148_K - 1} AS BIGINT) AS scene_frames
FROM runs
WHERE len >= {_Q148_MIN - _Q148_K + 1}
"""

QUERIES["q148_video_scene_pairs"] = q148_video_scene_pairs
ORACLES["q148_video_scene_pairs"] = Q148_SQL


# ---------------------------------------------------------------------------
# q149 — index-served perceptual image join (dHash postings)
#
# The FIFTH index-served lifecycle, extending the build-once-probe-
# many path to the multimodal columns: the corpus's images are
# decoded+hashed ONCE into per-batch fingerprint shards
# (streaming/dhash_index.py), compacted, and the arriving batch's
# near-dup images are answered FROM the stored 64-bit fingerprints —
# unlike the text legs, verification needs zero corpus re-reads (the
# postings ARE the full hashes).  The oracle replays synthesis +
# hash + banding + verification as pure integer SQL, restricted to
# batch-vs-corpus pairs.
# ---------------------------------------------------------------------------


def q149_dhash_index_served_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hospital_data_engineering_pipeline_end_to_end_project_spark.operators.parallelism import fan_out
    from hospital_data_engineering_pipeline_end_to_end_project_spark.streaming import dhash_index

    corpus, batch = _split(spark, sf_dir)
    root = fresh_store("q149", sf_dir)
    writer = dhash_index.make_dhash_doc_batch_writer(root)
    shardstore.backfill_by_mod(writer, corpus, "doc_id", _N_INDEX_BATCHES)
    dhash_index.compact_dhash_shards(spark, root)
    batch_media = multimodal.synthesize_minhash_pgm(
        fan_out(batch), "doc_id", "text"
    )
    return dhash_index.incremental_image_join_against_index(
        spark, root, batch_media, max_hamming=_Q146_MAX_HAMMING
    )


Q149_SQL = f"""
WITH toks AS (SELECT doc_id, {TOKS_SQL} AS t FROM documents),
dt AS (SELECT doc_id, list_distinct(t) AS dt FROM toks),
pxl AS (
  SELECT doc_id,
         [coalesce(CAST('0x' || substr(
             list_min([md5(CAST(i AS VARCHAR) || '|' || tok) FOR tok IN dt]),
             17, 2) AS BIGINT), 0)
          FOR i IN range({_Q146_NPX})] AS px
  FROM dt
),
bands AS (
  SELECT doc_id, band_id,
         coalesce(sum(CASE WHEN px[(2*band_id + b//8)*{multimodal.DHASH_GRID_W} + (b%8) + 1]
                            > px[(2*band_id + b//8)*{multimodal.DHASH_GRID_W} + (b%8) + 2]
                      THEN CAST(1 AS BIGINT) << b END), 0) AS bv
  FROM pxl
  CROSS JOIN (SELECT unnest(range({multimodal.DHASH_BANDS})) AS band_id)
  CROSS JOIN (SELECT unnest(range(16)) AS b)
  GROUP BY doc_id, band_id
),
bv4 AS (
  SELECT doc_id,
         max(CASE WHEN band_id = 0 THEN bv END) AS b0,
         max(CASE WHEN band_id = 1 THEN bv END) AS b1,
         max(CASE WHEN band_id = 2 THEN bv END) AS b2,
         max(CASE WHEN band_id = 3 THEN bv END) AS b3
  FROM bands GROUP BY doc_id
),
cand AS (
  SELECT DISTINCT a.doc_id AS batch_doc, b.doc_id AS corpus_doc
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.bv = b.bv
  WHERE a.doc_id % {_BATCH_MOD} = 0 AND b.doc_id % {_BATCH_MOD} <> 0
)
SELECT batch_doc, corpus_doc,
       CAST(bit_count(xor(x.b0, y.b0)) + bit_count(xor(x.b1, y.b1))
          + bit_count(xor(x.b2, y.b2)) + bit_count(xor(x.b3, y.b3)) AS BIGINT)
         AS hamming
FROM cand
JOIN bv4 x ON x.doc_id = batch_doc
JOIN bv4 y ON y.doc_id = corpus_doc
WHERE bit_count(xor(x.b0, y.b0)) + bit_count(xor(x.b1, y.b1))
    + bit_count(xor(x.b2, y.b2)) + bit_count(xor(x.b3, y.b3))
   <= {_Q146_MAX_HAMMING}
"""

QUERIES["q149_dhash_index_served_join"] = q149_dhash_index_served_join
ORACLES["q149_dhash_index_served_join"] = Q149_SQL


# ---------------------------------------------------------------------------
# q150 — crawl-shard boundary stitches (suffix/prefix overlap)
#
# The documents table is rendered as sharded FETCH RECORDS the way a
# paginating crawler cuts one logical page across two records: each
# eligible doc splits at its midpoint with a deterministic
# (8 + doc_id % 5)-token overlap carried into both records; short
# docs pass through uncut as noise.  The operator then names every
# (left record, right record) stitch with its exact maximal overlap —
# the anchor-join shape (B's single first-gram row BROADCAST against
# the corpus postings) with exact token-slice verification.  Oracle
# replays the record synthesis + anchor identity + slice compare.
# ---------------------------------------------------------------------------

_Q150_K = 4
_Q150_MIN = 8
_Q150_ELIG = 24   # docs shorter than this pass through uncut


def fetch_records_from_docs(d: DataFrame) -> DataFrame:
    """The sharded fetch-record rendering shared by q150 (detection),
    q151 (repair) and the scale harness's composed lifecycle: each
    eligible doc splits at its midpoint with a deterministic carried
    overlap; short docs pass through uncut.  ``d`` is any
    ``(doc_id, text)`` frame."""
    from hospital_data_engineering_pipeline_end_to_end_project_spark.functions import text as TX

    base = d.select(
        "doc_id", F.expr(TX.tokens("text")).alias("__t")
    ).withColumn("__n", F.size("__t"))
    cut = F.floor(F.col("__n") / 2).cast("int")
    ov = (F.lit(_Q150_MIN) + F.col("doc_id") % 5).cast("int")
    elig = base.filter(F.col("__n") >= _Q150_ELIG)
    left = elig.select(
        (F.col("doc_id") * 2).alias("doc_id"),
        F.array_join(F.slice("__t", F.lit(1), cut + ov), " ").alias("text"),
    )
    right = elig.select(
        (F.col("doc_id") * 2 + 1).alias("doc_id"),
        F.array_join(
            F.slice("__t", cut + 1, F.col("__n") - cut), " "
        ).alias("text"),
    )
    noise = base.filter(F.col("__n") < _Q150_ELIG).select(
        (F.col("doc_id") * 2).alias("doc_id"),
        F.array_join("__t", " ").alias("text"),
    )
    return left.unionByName(right).unionByName(noise)


def _q150_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fetch_records_from_docs(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )


def _q150_approx_records(sf_dir: str) -> int | None:
    """Record-count hint for the stitch operators' anchor-broadcast
    dispatch: the synthesis emits at most 2 records per document, and
    the document count is a driver-side parquet-footer read — no job.
    Plan-choice only; ``None`` (non-parquet input) falls back to the
    operator's own count probe."""
    n = parquet_row_count(sf_dir, "documents")
    return None if n is None else 2 * n


def q150_boundary_stitch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hospital_data_engineering_pipeline_end_to_end_project_spark.operators import dedupe

    return dedupe.boundary_stitch_pairs(
        _q150_records(spark, sf_dir), "doc_id", "text",
        k=_Q150_K, min_overlap=_Q150_MIN, max_df=_MEDIA_MAX_DF,
        approx_docs=_q150_approx_records(sf_dir),
    )


#: shared CTE chain for the boundary-stitch oracles (q150 detection,
#: q151 repair): record synthesis -> postings -> anchor candidates ->
#: exact slice verification
_STITCH_CTES = f"""
WITH toks AS (SELECT doc_id, {TOKS_SQL} AS t FROM documents),
base AS (SELECT doc_id, t, len(t) AS n FROM toks),
recs AS (
  SELECT doc_id*2 AS doc_id, t[1 : (n//2) + {_Q150_MIN} + doc_id % 5] AS t
  FROM base WHERE n >= {_Q150_ELIG}
  UNION ALL
  SELECT doc_id*2 + 1, t[(n//2) + 1 : n] FROM base WHERE n >= {_Q150_ELIG}
  UNION ALL
  SELECT doc_id*2, t FROM base WHERE n < {_Q150_ELIG}
),
rb AS (SELECT doc_id, t, len(t) AS n FROM recs WHERE len(t) >= {_Q150_K}),
post0 AS (
  SELECT doc_id AS left_doc, n AS na,
         unnest([{{'p': i,
                   'g': md5(array_to_string(t[i : i + {_Q150_K - 1}], ' '))}}
                 FOR i IN range(1, n - {_Q150_K} + 2)]) AS e
  FROM rb
),
post AS (SELECT left_doc, na, e.p AS p, e.g AS g FROM post0),
anch0 AS (
  SELECT doc_id AS right_doc,
         md5(array_to_string(t[1 : {_Q150_K}], ' ')) AS g
  FROM rb
),
-- the engaged boilerplate cap (mirrors the gated plans' max_df):
-- anchor grams held by more than the cap's DISTINCT left docs leave
-- candidate generation
akeep AS (SELECT g FROM post GROUP BY g
          HAVING count(DISTINCT left_doc) <= {_MEDIA_MAX_DF}),
anch AS (SELECT anch0.* FROM anch0 JOIN akeep USING (g)),
cand AS (
  SELECT left_doc, right_doc, p, na - p + 1 AS m
  FROM post JOIN anch USING (g)
  WHERE left_doc <> right_doc AND na - p + 1 >= {_Q150_MIN}
),
ver AS (
  SELECT cand.left_doc, cand.right_doc, cand.m
  FROM cand
  JOIN rb a ON a.doc_id = cand.left_doc
  JOIN rb b ON b.doc_id = cand.right_doc
  WHERE cand.m <= b.n
    AND a.t[cand.p : cand.p + cand.m - 1] = b.t[1 : cand.m]
),
st AS (
  SELECT left_doc, right_doc, max(m) AS m
  FROM ver GROUP BY left_doc, right_doc
)"""

Q150_SQL = (
    _STITCH_CTES
    + """
SELECT left_doc, right_doc, CAST(m AS BIGINT) AS overlap_tokens FROM st
"""
)

QUERIES["q150_boundary_stitch"] = q150_boundary_stitch
ORACLES["q150_boundary_stitch"] = Q150_SQL


# ---------------------------------------------------------------------------
# q151 — stitch REPAIR (merge unambiguous stitched record pairs)
#
# The curation action for q150's findings: each record pair where the
# stitch is unambiguous in both directions is merged back into its
# logical page, dropping the (maximal verified) overlap once.  Same
# record synthesis; the oracle extends the shared CTE chain with the
# one-partner-each filter and the list_concat merge.
# ---------------------------------------------------------------------------


def q151_stitch_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hospital_data_engineering_pipeline_end_to_end_project_spark.operators import dedupe

    records = _q150_records(spark, sf_dir)
    return dedupe.stitch_merge(
        records, "doc_id", "text",
        k=_Q150_K, min_overlap=_Q150_MIN, max_df=_MEDIA_MAX_DF,
        approx_docs=_q150_approx_records(sf_dir),
    )


Q151_SQL = (
    _STITCH_CTES
    + """,
lu AS (SELECT left_doc FROM st GROUP BY left_doc HAVING count(*) = 1),
ru AS (SELECT right_doc FROM st GROUP BY right_doc HAVING count(*) = 1),
u0 AS (
  SELECT st.left_doc, st.right_doc, st.m
  FROM st
  JOIN lu USING (left_doc)
  JOIN ru USING (right_doc)
),
-- chain guard (mirrors stitch_merge): a record on BOTH sides of
-- surviving stitches is an A->B->C chain middle; exclude its stitches
mids AS (
  SELECT right_doc AS mid FROM u0
  INTERSECT
  SELECT left_doc FROM u0
),
u AS (
  SELECT * FROM u0
  WHERE left_doc NOT IN (SELECT mid FROM mids)
    AND right_doc NOT IN (SELECT mid FROM mids)
)
SELECT u.left_doc, u.right_doc,
       CAST(u.m AS BIGINT) AS overlap_tokens,
       array_to_string(list_concat(a.t, b.t[u.m + 1 : b.n]), ' ')
         AS merged_text
FROM u
JOIN rb a ON a.doc_id = u.left_doc
JOIN rb b ON b.doc_id = u.right_doc
"""
)

QUERIES["q151_stitch_repair"] = q151_stitch_repair
ORACLES["q151_stitch_repair"] = Q151_SQL
