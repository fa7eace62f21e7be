"""Corpus-curation query catalog (q94-q108, rounds 8-9).

Second wave of LLM-data-pipeline extensions over ``documents``
(complement-of-reference: the reference pipeline has none of these —
SURVEY.md §2 inventories its surface as cleanse + SCD2 + star gold):

- q94 temperature resampling — the multilingual pretraining mix
  (q_g ∝ n_g^alpha), deterministic md5-bucket downsample
- q95 corpus-boilerplate exposure — fraction of a doc's n-grams that
  are corpus-frequent (RefinedWeb-style frequent-line removal signal)
- q96 per-source distribution drift — total-variation distance from
  the corpus token distribution, integer-exact reduction
- q97 incremental-ingest novelty — batch-vs-corpus SimHash membership
  (the admit/reject gate a growing corpus runs per crawl shard)
- q98/q102 audio & video decode walks, q99 triangle diagnostic,
  q103 mergeable KMV sketches (round 8, see sections below)
- q104 duplicated-passage coverage — positional exact-substring
  duplication with exact interval-union coverage per doc (round 9)
- q105 shingle-containment pairs — asymmetric near-dup (quote
  inclusion) over the shared sparse-intersection pipeline (round 9)
- q106 sketch-only cross-source overlap — pairwise distinct/union/
  intersection/Jaccard from KMV sketch algebra alone (round 9)
- q107 surgical span-level decontamination — remove exactly the
  benchmark-colliding token spans, keep the rest (round 9)
- q108 deterministic globally-shuffled export — the training-data
  writer (salted-md5 buckets, auditable permutation, round 9)

Every query has a bit-exact DuckDB oracle; the exactness arguments
live on the operators (``operators/dataprep.py``,
``operators/dedupe.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hospital_data_engineering_pipeline_end_to_end_project_spark.operators import components, dataprep, dedupe
from hospital_data_engineering_pipeline_end_to_end_project_spark.operators.materialize import materialize
from hospital_data_engineering_pipeline_end_to_end_project_spark.plans.data_prep import TOKS_SQL, _shingles_sql
from hospital_data_engineering_pipeline_end_to_end_project_spark.plans.llm_ops import Q25_SQL, Q27_SQL
from hospital_data_engineering_pipeline_end_to_end_project_spark.sources.readers import load_table

# ---------------------------------------------------------------------------
# q94 — temperature-resampled corpus mix (alpha = 0.5)
#
# keep_g = sqrt(n_min / n_g): division + sqrt are correctly-rounded
# IEEE on both engines; the md5-bucket verdict renders the per-group
# bound as a zero-padded hex string in-plan (Spark hex / DuckDB
# to_hex), guarded for keep >= 1.0 where the 5-char bound would
# compare wrong.  See operators/dataprep.py:temperature_resample.
# ---------------------------------------------------------------------------


def q94_temperature_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return dataprep.temperature_resample(
        d.select("doc_id", "lang"), "lang", "doc_id", alpha=0.5
    )


Q94_SQL = f"""
WITH counts AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
nmin AS (SELECT min(n) AS nmin FROM counts),
probs AS (
  SELECT lang, sqrt(CAST(nmin AS DOUBLE) / n) AS keep FROM counts, nmin
)
SELECT d.doc_id, d.lang, round(keep, 6) AS keep_prob,
       CASE WHEN keep >= 1.0 THEN TRUE
            ELSE substring(md5(CAST(d.doc_id AS VARCHAR)), 1, {dataprep.SPLIT_PREFIX_LEN})
                 < lpad(lower(to_hex(CAST(floor(keep * {16**dataprep.SPLIT_PREFIX_LEN}) AS BIGINT))),
                        {dataprep.SPLIT_PREFIX_LEN}, '0')
       END AS is_kept
FROM documents d JOIN probs ON d.lang IS NOT DISTINCT FROM probs.lang
"""


# ---------------------------------------------------------------------------
# q95 — corpus-boilerplate exposure per document
#
# One pass: window-df over the exploded distinct 3-gram stream, then a
# per-doc rollup — no self-join (operators/dataprep.py:
# boilerplate_stats).  The hot threshold is absolute df, so the same
# SQL replays at any scale factor.
# ---------------------------------------------------------------------------

Q95_SHINGLE_N = 3
Q95_HOT_DF = 20


def q95_boilerplate_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return dataprep.boilerplate_stats(
        d, "doc_id", "text", shingle_n=Q95_SHINGLE_N, hot_df=Q95_HOT_DF
    )


Q95_SQL = f"""
WITH ex AS (
  SELECT doc_id, unnest({_shingles_sql(Q95_SHINGLE_N)}) AS s
  FROM (SELECT doc_id, {TOKS_SQL} AS t FROM documents)
  WHERE len(t) >= {Q95_SHINGLE_N}
),
wdf AS (SELECT doc_id, count(*) OVER (PARTITION BY s) AS df FROM ex)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(sum(CASE WHEN df >= {Q95_HOT_DF} THEN 1 ELSE 0 END) AS BIGINT) AS n_hot,
       round(CAST(sum(CASE WHEN df >= {Q95_HOT_DF} THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS boilerplate_ratio
FROM wdf GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# q96 — per-source total-variation drift from the corpus mix
#
# The whole reduction is exact integer cross-multiplication
# (Σ|c_st*T - C_t*T_s| + the missing-token term); the single final
# division is the only float op (operators/dataprep.py:
# source_divergence).
# ---------------------------------------------------------------------------


def q96_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return dataprep.source_divergence(d, "source", "text")


Q96_SQL = f"""
WITH tok AS (SELECT source, unnest({TOKS_SQL}) AS t FROM documents),
cst AS (SELECT source, t, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY source, t),
ct AS (SELECT t, CAST(sum(c) AS BIGINT) AS ct FROM cst GROUP BY t),
tot AS (SELECT CAST(sum(ct) AS BIGINT) AS bigT FROM ct),
pg AS (
  SELECT source, CAST(sum(c) AS BIGINT) AS ts, CAST(sum(ct) AS BIGINT) AS ct_in
  FROM cst JOIN ct USING (t) GROUP BY source
),
pres AS (
  SELECT source, CAST(sum(abs(c * bigT - ct * ts)) AS BIGINT) AS nump
  FROM cst JOIN ct USING (t) JOIN pg USING (source), tot
  GROUP BY source
)
SELECT source, ts AS n_tokens,
       round(CAST(nump + ts * (bigT - ct_in) AS DOUBLE)
             / (2.0 * ts * bigT), 6) AS tvd
FROM pg JOIN pres USING (source), tot
"""


# ---------------------------------------------------------------------------
# q97 — incremental-ingest SimHash novelty (batch vs existing corpus)
#
# source = 'src0' plays the existing corpus; everything else is the
# incoming shard.  Fingerprints interpolate Q27_SQL (a per-doc
# function, so computing on the full table then subsetting equals
# computing per side); banding/pigeonhole arguments are q86's.
# ---------------------------------------------------------------------------

Q97_CORPUS_SOURCE = "src0"


def q97_novelty_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    corpus = d.filter(F.col("source") == Q97_CORPUS_SOURCE)
    batch = d.filter(F.col("source") != Q97_CORPUS_SOURCE)
    return dedupe.simhash_novel(
        corpus, batch, "doc_id", "text", bits=64, bands=4, max_hamming=3
    )


Q97_SQL = f"""
WITH sh AS ({Q27_SQL}),
src AS (SELECT doc_id, source FROM documents),
bsh AS (
  SELECT sh.doc_id, sh.simhash FROM sh JOIN src ON sh.doc_id = src.doc_id
  WHERE src.source <> '{Q97_CORPUS_SOURCE}'
),
csh AS (
  SELECT sh.doc_id, sh.simhash FROM sh JOIN src ON sh.doc_id = src.doc_id
  WHERE src.source = '{Q97_CORPUS_SOURCE}'
),
bb AS (
  SELECT doc_id, simhash, b.i AS band_id,
         (simhash >> (b.i * 16)) & 65535 AS band_val
  FROM bsh, (SELECT unnest(range(4)) AS i) b
),
cb AS (
  SELECT doc_id, simhash, b.i AS band_id,
         (simhash >> (b.i * 16)) & 65535 AS band_val
  FROM csh, (SELECT unnest(range(4)) AS i) b
),
hits AS (
  SELECT DISTINCT bb.doc_id
  FROM bb JOIN cb ON bb.band_id = cb.band_id AND bb.band_val = cb.band_val
  WHERE bit_count(xor(bb.simhash, cb.simhash)) <= 3
)
SELECT b.doc_id, b.simhash, h.doc_id IS NULL AS is_novel
FROM bsh b LEFT JOIN hits h ON b.doc_id = h.doc_id
"""


# ---------------------------------------------------------------------------
# q98 — audio frame sampling + per-frame energy
#
# Real 16-bit PCM WAVs are synthesized id-deterministically with
# Column expressions (operators/multimodal.py:synthesize_wav_media),
# decoded by the stdlib RIFF walker inside Arrow-batched mapInPandas,
# framed, and each frame reports its exact int64 sum of squared
# samples.  The oracle regenerates the closed-form waveform (the u16
# (id*31 + i*7) % 65536 reinterpreted as int16) and the framing — a
# wrong byte order, chunk offset, or window boundary anywhere flips
# the hash.
# ---------------------------------------------------------------------------

Q98_FRAME_SAMPLES = 16


def q98_audio_frame_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hospital_data_engineering_pipeline_end_to_end_project_spark.operators import multimodal

    d = load_table(spark, sf_dir, "documents")
    media = multimodal.synthesize_wav_media(d, "doc_id")
    return multimodal.audio_frame_energy(
        media, frame_samples=Q98_FRAME_SAMPLES
    )


Q98_SQL = f"""
WITH ids AS (SELECT doc_id AS media_id, 64 + doc_id % 64 AS n FROM documents),
samp AS (
  -- the payload stores the raw u16 (media_id*31 + i*7) % 65536; the
  -- decoder reinterprets it as int16, i.e. values >= 32768 wrap
  -- negative: s = ((u + 32768) % 65536) - 32768
  SELECT media_id, i,
         (((media_id * 31 + i * 7) % 65536 + 32768) % 65536) - 32768 AS s
  FROM (SELECT media_id, unnest(range(n)) AS i FROM ids)
)
SELECT media_id, i // {Q98_FRAME_SAMPLES} AS frame_id,
       CAST(count(*) AS BIGINT) AS n_samples,
       CAST(sum(s * s) AS BIGINT) AS energy
FROM samp GROUP BY media_id, i // {Q98_FRAME_SAMPLES}
"""


# ---------------------------------------------------------------------------
# q99 — triangle participation on the near-dup pair graph
#
# Graph-quality diagnostic: a triangle is mutually-confirming
# duplicate evidence, an edge-heavy node without triangles is the
# false-positive hub shape.  Edges come from the q25 MinHash-LSH
# candidate pipeline; enumeration is the ordered three-edge join
# (a < b < c, each triangle counted exactly once), mirrored verbatim
# by the oracle over the interpolated q25 band SQL.
# ---------------------------------------------------------------------------


def q99_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    bands = dedupe.minhash_bands(
        d, "doc_id", "text", num_hashes=8, bands=4, shingle_n=5
    )
    pairs = dedupe.near_dup_candidates(bands, "doc_id")
    # hub guard engaged: the banded graph's measured max ordered
    # out-degree is 3 at every SF (sf0.001/0.01/0.1), so a cap of 64
    # leaves every node exact and the oracle replays the uncapped SQL
    return components.triangle_counts(pairs, max_degree=64)


Q99_SQL = f"""
WITH bands AS MATERIALIZED ({Q25_SQL}),
e AS (
  SELECT DISTINCT a.doc_id AS u, b.doc_id AS v
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id
),
tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM e e1
  JOIN e e2 ON e1.v = e2.u
  JOIN e e3 ON e1.u = e3.u AND e2.v = e3.v
)
SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
FROM (SELECT unnest([a, b, c]) AS node FROM tri)
GROUP BY node
"""


# ---------------------------------------------------------------------------
# q102 — video frame sampling (MJPEG-style stream, every 2nd frame)
#
# Completes the image (q85) / audio (q98) / VIDEO modality triad:
# ``3 + id % 4`` complete JPEG frames concatenated per doc
# (expression-side synthesis), frame-walked on EOI boundaries inside
# Arrow-batched mapInPandas, every 2nd frame's header parsed by the
# real stdlib SOF parser.  The oracle predicts each sampled frame's
# dims from the closed forms — a wrong walk offset, an off-by-one in
# the decimation, or a misread SOF flips the hash.
# ---------------------------------------------------------------------------

Q102_SAMPLE_EVERY = 2


def q102_video_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hospital_data_engineering_pipeline_end_to_end_project_spark.operators import multimodal

    d = load_table(spark, sf_dir, "documents")
    media = multimodal.synthesize_video_media(d, "doc_id")
    return multimodal.video_frame_dims(
        media, sample_every=Q102_SAMPLE_EVERY
    )


Q102_SQL = f"""
WITH ids AS (SELECT doc_id AS media_id, 3 + doc_id % 4 AS n FROM documents),
fr AS (SELECT media_id, unnest(range(n)) AS f FROM ids)
SELECT media_id, f AS frame_index,
       CAST((media_id * 5 + f) % 300 + 1 AS BIGINT) AS width,
       CAST((media_id * 3 + f * 7) % 200 + 1 AS BIGINT) AS height
FROM fr WHERE f % {Q102_SAMPLE_EVERY} = 0
"""


# ---------------------------------------------------------------------------
# q103 — mergeable KMV sketches (per-source distinct-token estimates
# + the merged global estimate)
#
# The mergeability identity — bottom-k(∪ bottom-k_s) = bottom-k(all)
# — is what lets every executor sketch its shard independently and a
# coordinator combine parts x k rows instead of re-scanning; this
# query materializes BOTH the merged-global and direct-global
# estimates so the gate hash proves they are IDENTICAL, not merely
# close.  Deterministic md5-KMV (same estimator as q49), so the whole
# construction replays in SQL.
# ---------------------------------------------------------------------------

Q103_K = 128


def q103_mergeable_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hospital_data_engineering_pipeline_end_to_end_project_spark.functions import metrics, text as TX
    from hospital_data_engineering_pipeline_end_to_end_project_spark.operators.parallelism import fan_out

    d = load_table(spark, sf_dir, "documents")
    # distinct 3-gram vocabulary (tens of thousands at sf0.001 — far
    # past K, so the (k-1)/h_k estimator branch is the one attested,
    # not the exact-count fallback)
    # the exploded shingle stream feeds BOTH the per-source sketch and
    # the independent direct-global sketch (the attestation needs the
    # direct one; a production pipeline computes only the mergeable
    # per-part sketches) — materialize it once so the corpus is
    # shingled once, not twice
    tok = materialize(
        fan_out(d.select("source", "text")).select(
            "source",
            F.explode(F.array_distinct(F.expr(TX.shingles("text", 3)))).alias("t"),
        )
    )
    # the per-source sketch feeds the per-source estimates AND the
    # merge (two consumers) — materialized too (parts x k tiny rows)
    sk = materialize(metrics.kmv_bottom_k(tok, ["source"], "t", k=Q103_K))
    per_source = metrics.kmv_estimate(sk, ["source"], k=Q103_K).select(
        F.col("source").alias("scope"), "approx_distinct"
    )
    merged = metrics.kmv_estimate(sk, [], k=Q103_K).select(
        F.lit("__MERGED__").alias("scope"), "approx_distinct"
    )
    direct = metrics.kmv_estimate(
        metrics.kmv_bottom_k(tok, [], "t", k=Q103_K), [], k=Q103_K
    ).select(F.lit("__DIRECT__").alias("scope"), "approx_distinct")
    return per_source.unionByName(merged).unionByName(direct)


Q103_SQL = f"""
WITH tok AS (
  SELECT DISTINCT source, unnest({_shingles_sql(3)}) AS t
  FROM (SELECT source, {TOKS_SQL} AS t FROM documents)
  WHERE len(t) >= 3
),
hashed AS (
  SELECT source, t,
         CAST(('0x' || substr(md5(t), 1, 13)) AS BIGINT)
           / 4503599627370496e0 AS h
  FROM tok
),
sk AS (
  SELECT source, h FROM (
    SELECT source, h,
           row_number() OVER (PARTITION BY source ORDER BY h) AS rn
    FROM hashed
  ) WHERE rn <= {Q103_K}
),
per_source AS (
  SELECT source AS scope,
         CAST(CASE WHEN count(*) < {Q103_K} THEN count(*)
              ELSE floor({Q103_K - 1} /
                         max(CASE WHEN rn = {Q103_K} THEN h END))
              END AS BIGINT) AS approx_distinct
  FROM (SELECT source, h,
               row_number() OVER (PARTITION BY source ORDER BY h) AS rn
        FROM (SELECT DISTINCT source, h FROM sk))
  GROUP BY source
),
merged AS (
  SELECT '__MERGED__' AS scope,
         CAST(CASE WHEN count(*) < {Q103_K} THEN count(*)
              ELSE floor({Q103_K - 1} /
                         max(CASE WHEN rn = {Q103_K} THEN h END))
              END AS BIGINT) AS approx_distinct
  FROM (SELECT h, row_number() OVER (ORDER BY h) AS rn
        FROM (SELECT DISTINCT h FROM sk))
  WHERE rn <= {Q103_K}
),
direct AS (
  SELECT '__DIRECT__' AS scope,
         CAST(CASE WHEN count(*) < {Q103_K} THEN count(*)
              ELSE floor({Q103_K - 1} /
                         max(CASE WHEN rn = {Q103_K} THEN h END))
              END AS BIGINT) AS approx_distinct
  FROM (SELECT h, row_number() OVER (ORDER BY h) AS rn
        FROM (SELECT DISTINCT h FROM hashed))
  WHERE rn <= {Q103_K}
)
SELECT scope, approx_distinct FROM per_source
UNION ALL SELECT scope, approx_distinct FROM merged
UNION ALL SELECT scope, approx_distinct FROM direct
"""


# ---------------------------------------------------------------------------
# q104 — duplicated-passage coverage (exact-substring dedup signal)
#
# Span-level complement of doc-level MinHash: positional k-gram
# explode, groupBy corpus frequency (map-side combine, never a window
# over the gram), left-semi probe, exact interval-union coverage per
# doc via a bounded per-doc window.  Integer arithmetic until one
# final division (operators/dataprep.py:duplicated_passage_stats).
# ---------------------------------------------------------------------------

Q104_K = 5
Q104_MIN_COUNT = 2


def q104_passage_dup_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return dataprep.duplicated_passage_stats(
        d, "doc_id", "text", gram_k=Q104_K, min_count=Q104_MIN_COUNT
    )


Q104_SQL = f"""
WITH base AS (
  SELECT doc_id, len(t) AS n_tokens, t
  FROM (SELECT doc_id, {TOKS_SQL} AS t FROM documents)
  WHERE len(t) >= {Q104_K}
),
ex AS (
  SELECT doc_id, n_tokens,
         unnest([{{'pos': i,
                   'g': array_to_string(t[i+1:i+{Q104_K}], ' ')}}
                 FOR i IN range(len(t) - {Q104_K - 1})]) AS e
  FROM base
),
pos_g AS (SELECT doc_id, e.pos AS pos, e.g AS g FROM ex),
dup AS (SELECT g FROM pos_g GROUP BY g HAVING count(*) >= {Q104_MIN_COUNT}),
cov AS (
  SELECT doc_id, pos,
         max(pos + {Q104_K}) OVER (
           PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_e
  FROM pos_g WHERE g IN (SELECT g FROM dup)
),
agg AS (
  SELECT doc_id,
         CAST(sum(GREATEST(0, pos + {Q104_K}
                           - GREATEST(COALESCE(prev_e, pos), pos)))
              AS BIGINT) AS covered
  FROM cov GROUP BY doc_id
)
SELECT b.doc_id, CAST(b.n_tokens AS BIGINT) AS n_tokens,
       COALESCE(a.covered, 0) AS n_dup_tokens,
       round(CAST(COALESCE(a.covered, 0) AS DOUBLE) / b.n_tokens, 6)
         AS dup_ratio
FROM base b LEFT JOIN agg a USING (doc_id)
"""


# ---------------------------------------------------------------------------
# q105 — shingle-containment pairs (asymmetric near-dup)
#
# C = |S_a ∩ S_b| / min(|S_a|, |S_b|): the quote-inclusion signal
# symmetric Jaccard misses.  Same sparse-intersection pipeline (and
# q26's hot-shingle df cap) as jaccard_within_key — only the measure
# differs (operators/dedupe.py:containment_pairs).
# ---------------------------------------------------------------------------

Q105_THRESHOLD = 0.5
Q105_DF_MAX = 64


def q105_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return dedupe.containment_pairs(
        d,
        "doc_id",
        "text",
        "source",
        threshold=Q105_THRESHOLD,
        shingle_n=3,
        df_max=Q105_DF_MAX,
    )


Q105_SQL = f"""
WITH sh AS (
  SELECT doc_id, source,
         list_distinct([array_to_string(t[i+1:i+3], ' ')
                        FOR i IN range(len(t) - 2)]) AS sh
  FROM (SELECT doc_id, source, {TOKS_SQL} AS t FROM documents)
  WHERE len(t) >= 3
),
ex AS (SELECT doc_id, source, unnest(sh) AS s, len(sh) AS n_sh FROM sh),
kept AS (
  SELECT *, count(*) OVER (PARTITION BY source, s) AS df
  FROM ex QUALIFY df > 1 AND df <= {Q105_DF_MAX}
),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter,
         min(a.n_sh) AS n_a, min(b.n_sh) AS n_b
  FROM kept a JOIN kept b
    ON a.source = b.source AND a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT * FROM (
  SELECT CASE WHEN n_a <= n_b THEN id_a ELSE id_b END AS id_contained,
         CASE WHEN n_a <= n_b THEN id_b ELSE id_a END AS id_container,
         round(CAST(n_inter AS DOUBLE) / LEAST(n_a, n_b), 6) AS containment
  FROM inter
) WHERE containment >= {Q105_THRESHOLD}
"""


# ---------------------------------------------------------------------------
# q106 — sketch-only cross-source overlap (KMV set algebra)
#
# The cross-shard diagnostic a 100 TB corpus runs WITHOUT rescanning
# raw data: every source ships k hash rows (the q103 sketches), and
# all pairwise distinct/union/intersection/Jaccard estimates derive
# from sketch algebra — union via the mergeability re-rank,
# intersection via inclusion-exclusion.  Integer until one final
# division (functions/metrics.py:kmv_pair_overlap).
# ---------------------------------------------------------------------------


def q106_sketch_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hospital_data_engineering_pipeline_end_to_end_project_spark.functions import metrics, text as TX
    from hospital_data_engineering_pipeline_end_to_end_project_spark.operators.parallelism import fan_out

    d = load_table(spark, sf_dir, "documents")
    tok = fan_out(d.select("source", "text")).select(
        "source",
        F.explode(F.array_distinct(F.expr(TX.shingles("text", 3)))).alias("t"),
    )
    # the sketch feeds per-source estimates AND both sides of the
    # pair union (three consumers) — materialize the parts x k rows
    sk = materialize(metrics.kmv_bottom_k(tok, ["source"], "t", k=Q103_K))
    return metrics.kmv_pair_overlap(sk, "source", k=Q103_K)


Q106_SQL = f"""
WITH tok AS (
  SELECT DISTINCT source, unnest({_shingles_sql(3)}) AS t
  FROM (SELECT source, {TOKS_SQL} AS t FROM documents)
  WHERE len(t) >= 3
),
hashed AS (
  SELECT source, t,
         CAST(('0x' || substr(md5(t), 1, 13)) AS BIGINT)
           / 4503599627370496e0 AS h
  FROM tok
),
sk AS (
  SELECT source, h FROM (
    SELECT source, h,
           row_number() OVER (PARTITION BY source ORDER BY h) AS rn
    FROM hashed
  ) WHERE rn <= {Q103_K}
),
est AS (
  SELECT source,
         CAST(CASE WHEN count(*) < {Q103_K} THEN count(*)
              ELSE floor({Q103_K - 1} /
                         max(CASE WHEN rn = {Q103_K} THEN h END))
              END AS BIGINT) AS approx_distinct
  FROM (SELECT source, h,
               row_number() OVER (PARTITION BY source ORDER BY h) AS rn
        FROM (SELECT DISTINCT source, h FROM sk))
  WHERE rn <= {Q103_K}
  GROUP BY source
),
gs AS (SELECT DISTINCT source FROM sk),
pairs AS (
  SELECT a.source AS group_a, b.source AS group_b
  FROM gs a JOIN gs b ON a.source < b.source
),
uni AS (
  SELECT DISTINCT group_a, group_b, h FROM (
    SELECT p.group_a, p.group_b, s.h
    FROM pairs p JOIN sk s ON s.source = p.group_a
    UNION ALL
    SELECT p.group_a, p.group_b, s.h
    FROM pairs p JOIN sk s ON s.source = p.group_b
  )
),
uest AS (
  SELECT group_a, group_b,
         CAST(CASE WHEN count(*) < {Q103_K} THEN count(*)
              ELSE floor({Q103_K - 1} /
                         max(CASE WHEN rn = {Q103_K} THEN h END))
              END AS BIGINT) AS est_union
  FROM (SELECT group_a, group_b, h,
               row_number() OVER (PARTITION BY group_a, group_b
                                  ORDER BY h) AS rn
        FROM uni)
  WHERE rn <= {Q103_K}
  GROUP BY group_a, group_b
)
SELECT u.group_a, u.group_b,
       ea.approx_distinct AS est_a,
       eb.approx_distinct AS est_b,
       u.est_union,
       CAST(GREATEST(0, ea.approx_distinct + eb.approx_distinct
                        - u.est_union) AS BIGINT) AS est_inter,
       round(CAST(GREATEST(0, ea.approx_distinct + eb.approx_distinct
                              - u.est_union) AS DOUBLE)
             / u.est_union, 6) AS jaccard_est
FROM uest u
JOIN est ea ON ea.source = u.group_a
JOIN est eb ON eb.source = u.group_b
"""


# ---------------------------------------------------------------------------
# q107 — surgical span-level decontamination
#
# q55 flags contaminated docs; q107 removes exactly the colliding
# token spans and keeps the rest of the document — every token
# covered by a benchmark 5-gram is masked (position-exact via the
# shared positional-gram machinery), and the cleaned text re-joins
# the survivors.  Benchmark slice = q55's doc_id % 20 == 0 so the
# two policies are directly comparable on the same contamination
# (operators/dataprep.py:contamination_scrub).
# ---------------------------------------------------------------------------

Q107_K = 5
Q107_MOD = 20


def q107_contamination_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return dataprep.contamination_scrub(
        d, "doc_id", "text", F.col("doc_id") % Q107_MOD == 0, gram_k=Q107_K
    )


Q107_SQL = f"""
WITH toks AS (
  SELECT doc_id, {TOKS_SQL} AS t, (doc_id % {Q107_MOD} = 0) AS b
  FROM documents
),
bg AS (
  SELECT DISTINCT unnest({_shingles_sql(Q107_K)}) AS g
  FROM (SELECT t FROM toks WHERE b) WHERE len(t) >= {Q107_K}
),
ex AS (
  SELECT doc_id,
         unnest([{{'pos': i,
                   'g': array_to_string(t[i+1:i+{Q107_K}], ' ')}}
                 FOR i IN range(len(t) - {Q107_K - 1})]) AS e
  FROM toks WHERE NOT b AND len(t) >= {Q107_K}
),
hit AS (
  SELECT doc_id, e.pos AS pos FROM ex WHERE e.g IN (SELECT g FROM bg)
),
cpos AS (
  SELECT DISTINCT doc_id, unnest([pos + i FOR i IN range({Q107_K})]) AS p
  FROM hit
),
cov AS (SELECT doc_id, list(p) AS cov FROM cpos GROUP BY doc_id)
SELECT t.doc_id,
       CAST(len(t.t) AS BIGINT) AS n_tokens,
       CAST(COALESCE(len(cov), 0) AS BIGINT) AS n_masked,
       CASE WHEN t.t IS NULL THEN NULL
            ELSE COALESCE(array_to_string(
              [t.t[i+1] FOR i IN range(len(t.t))
               IF NOT list_contains(COALESCE(cov, []), i)], ' '), '')
       END AS clean_text
FROM toks t LEFT JOIN cov USING (doc_id)
WHERE NOT t.b
"""


# ---------------------------------------------------------------------------
# q108 — deterministic globally-shuffled export (training-data writer)
#
# The sample order a trainer consumes IS the curriculum: it must be
# well-mixed, reproducible from (salt, id) alone, and auditable for
# resume-from-step.  write_shuffled lays the corpus out as salted-md5
# buckets each sorted by hash — one hash exchange + bounded per-bucket
# sorts, never a global total-order sort — and writes the position
# columns with the payload.  The audit re-ranks every bucket from the
# read-back bytes and the oracle recomputes the whole permutation
# independently in DuckDB: the positional checksum Σ pos·id pins the
# exact global order, so a lost, duplicated, misbucketed or misordered
# row anywhere in the write path flips the gate hash
# (sources/writers.py:write_shuffled / audit_shuffled).
# ---------------------------------------------------------------------------

Q108_BUCKETS = 16
Q108_SALT = "shuf-r9:"


def q108_shuffled_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hospital_data_engineering_pipeline_end_to_end_project_spark.scratch import scratch_path
    from hospital_data_engineering_pipeline_end_to_end_project_spark.sources.writers import audit_shuffled, write_shuffled

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    tmp = scratch_path("q108", "documents_shuffled")
    write_shuffled(
        d, tmp, "doc_id", num_buckets=Q108_BUCKETS, salt=Q108_SALT
    )
    return audit_shuffled(spark, tmp, "doc_id")


Q108_SQL = f"""
WITH k AS (
  SELECT doc_id, md5('{Q108_SALT}' || CAST(doc_id AS VARCHAR)) AS h
  FROM documents
),
b AS (
  SELECT doc_id, h,
         CAST(('0x' || substr(h, 1, 8)) AS BIGINT) % {Q108_BUCKETS}
           AS bucket
  FROM k
),
r AS (
  SELECT doc_id, h, bucket,
         row_number() OVER (PARTITION BY bucket ORDER BY h, doc_id)
           AS pos
  FROM b
)
SELECT CAST(bucket AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(0 AS BIGINT) AS n_order_violations,
       CAST(sum(pos * doc_id) AS BIGINT) AS checksum,
       min(h) AS h_first,
       max(h) AS h_last
FROM r
GROUP BY bucket
"""


# ---------------------------------------------------------------------------
# q112 — mergeable quantile sketches (hash-sampled order statistics)
#
# The quantile sibling of q103's KMV distinct sketches: a
# deterministic bottom-k ROW sample (md5 of the unique event id — the
# same 52-bit fraction, so reproducible and engine-replayable) whose
# order statistics estimate per-group quantiles, and which merges by
# the same order-by-key subset identity.  The gate hash PROVES the
# mergeability: the 'merged' rows re-rank the per-type sketches into
# a global one, the 'direct' rows sketch the raw rows globally, and
# the oracle emits one set of numbers for both — any divergence
# between the two Spark constructions flips the hash.  Estimates are
# discrete order statistics (actual data values, never
# interpolation), exact whenever a group holds <= k rows
# (functions/metrics.py:hash_sample_bottom_k / sample_quantiles).
# ---------------------------------------------------------------------------

Q112_K = 256
Q112_PS = (0.25, 0.5, 0.75, 0.9)


def q112_quantile_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hospital_data_engineering_pipeline_end_to_end_project_spark.functions import metrics

    e = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    # the per-type sketch feeds its own estimates AND the merged
    # global construction (two consumers) — materialize the
    # |types| x k rows once
    sk = materialize(
        metrics.hash_sample_bottom_k(
            e, ["event_type"], "event_id", "value", k=Q112_K
        )
    )
    per = metrics.sample_quantiles(
        sk, ["event_type"], "value", ps=Q112_PS, k=Q112_K
    ).select(
        F.lit("per_type").alias("scope"),
        F.col("event_type").alias("grp"),
        "p",
        "q_value",
    )
    merged = metrics.sample_quantiles(
        sk.select("h", "value"), [], "value", ps=Q112_PS, k=Q112_K
    ).select(
        F.lit("merged").alias("scope"),
        F.lit("__ALL__").alias("grp"),
        "p",
        "q_value",
    )
    direct = metrics.sample_quantiles(
        metrics.hash_sample_bottom_k(e, [], "event_id", "value", k=Q112_K),
        [],
        "value",
        ps=Q112_PS,
        k=Q112_K,
    ).select(
        F.lit("direct").alias("scope"),
        F.lit("__ALL__").alias("grp"),
        "p",
        "q_value",
    )
    return per.unionByName(merged).unionByName(direct)


Q112_SQL = f"""
WITH h AS (
  SELECT event_type, value,
         CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 13))
              AS BIGINT) / 4503599627370496e0 AS h
  FROM events
),
sk AS (
  SELECT event_type, h, value FROM (
    SELECT *, row_number() OVER (
      PARTITION BY event_type ORDER BY h, value) AS rn
    FROM h
  ) WHERE rn <= {Q112_K}
),
skg AS (
  SELECT h, value FROM (
    SELECT h, value, row_number() OVER (ORDER BY h, value) AS rn FROM h
  ) WHERE rn <= {Q112_K}
),
pt AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type ORDER BY value, h)
           AS rv,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM sk
),
pg AS (
  SELECT value, row_number() OVER (ORDER BY value, h) AS rv,
         count(*) OVER () AS n
  FROM skg
),
ps AS (SELECT unnest([2.5e-1, 5e-1, 7.5e-1, 9e-1]) AS p)
SELECT 'per_type' AS scope, event_type AS grp, p, value AS q_value
FROM pt CROSS JOIN ps WHERE rv = floor(p * (n - 1)) + 1
UNION ALL
SELECT 'merged' AS scope, '__ALL__' AS grp, p, value AS q_value
FROM pg CROSS JOIN ps WHERE rv = floor(p * (n - 1)) + 1
UNION ALL
SELECT 'direct' AS scope, '__ALL__' AS grp, p, value AS q_value
FROM pg CROSS JOIN ps WHERE rv = floor(p * (n - 1)) + 1
"""


# ---------------------------------------------------------------------------
# q117 — sketch-based robust outliers (median/MAD monitoring)
#
# The downstream CONSUMER of q112's sketch machinery: per-type
# robust center/spread from the deterministic hash-sample (exact
# medians would be a hot-key total sort at 100 TB), then ONE
# broadcast-join scan flags |x - med| > 3 * 1.4826 * mad over the
# full data.  Every number is a data value, an integer count, or a
# fixed float chain — bit-replayable
# (functions/metrics.py:robust_outlier_stats).
# ---------------------------------------------------------------------------


def q117_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hospital_data_engineering_pipeline_end_to_end_project_spark.functions import metrics

    e = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    return metrics.robust_outlier_stats(
        e, ["event_type"], "event_id", "value", k=Q112_K
    )


Q117_SQL = f"""
WITH h AS (
  SELECT event_type, value,
         CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 13))
              AS BIGINT) / 4503599627370496e0 AS h
  FROM events
),
sk AS (
  SELECT event_type, h, value FROM (
    SELECT *, row_number() OVER (
      PARTITION BY event_type ORDER BY h, value) AS rn
    FROM h
  ) WHERE rn <= {Q112_K}
),
med AS (
  SELECT event_type, value AS med FROM (
    SELECT event_type, value,
           row_number() OVER (
             PARTITION BY event_type ORDER BY value, h) AS rv,
           count(*) OVER (PARTITION BY event_type) AS n
    FROM sk
  ) WHERE rv = floor(0.5 * (n - 1)) + 1
),
dev AS (
  SELECT s.event_type, s.h, abs(s.value - m.med) AS dev
  FROM sk s JOIN med m USING (event_type)
),
mad AS (
  SELECT event_type, dev AS mad FROM (
    SELECT event_type, dev,
           row_number() OVER (
             PARTITION BY event_type ORDER BY dev, h) AS rv,
           count(*) OVER (PARTITION BY event_type) AS ns
    FROM dev
  ) WHERE rv = floor(0.5 * (ns - 1)) + 1
),
fl AS (
  SELECT e.event_type, m.med, d.mad,
         (abs(e.value - m.med) > 3.0 * 1.4826 * d.mad) AS outp
  FROM h e
  JOIN med m USING (event_type)
  JOIN mad d USING (event_type)
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       med AS med_est,
       mad AS mad_est,
       CAST(sum(CASE WHEN outp THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers,
       round(CAST(sum(CASE WHEN outp THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(count(*) AS DOUBLE), 6) AS outlier_ratio
FROM fl
GROUP BY event_type, med, mad
"""


# ---------------------------------------------------------------------------
# q124 — token-budgeted corpus mix (two-phase quota cut)
#
# The Spark side is the two-level bucket cut (only the single
# boundary bucket per source gets per-document ordered work); the
# oracle replays the ONE-LEVEL greedy-prefix definition — identical
# by construction because the md5-prefix bucket is a prefix of the
# sort key.  See operators/dataprep.py:token_budget_mix.
# ---------------------------------------------------------------------------

_Q124_BUDGET = 5000


def q124_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hospital_data_engineering_pipeline_end_to_end_project_spark.functions import text

    d = load_table(spark, sf_dir, "documents")
    sized = d.select(
        "source", "doc_id", F.size(F.expr(text.tokens("text"))).alias("n_tokens")
    )
    return dataprep.token_budget_mix(
        sized, "source", "doc_id", "n_tokens", budget=_Q124_BUDGET
    )


Q124_SQL = f"""
WITH t AS (
  SELECT doc_id, source, CAST(len({TOKS_SQL}) AS BIGINT) AS n_tokens,
         md5(CAST(doc_id AS VARCHAR)) AS h
  FROM documents
),
c AS (
  SELECT *, sum(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM t
)
SELECT source, doc_id, n_tokens FROM c WHERE cum <= {_Q124_BUDGET}
"""


QUERIES = {
    "q94_temperature_resample": q94_temperature_resample,
    "q95_boilerplate_stats": q95_boilerplate_stats,
    "q96_source_divergence": q96_source_divergence,
    "q97_novelty_filter": q97_novelty_filter,
    "q98_audio_frame_energy": q98_audio_frame_energy,
    "q99_triangle_counts": q99_triangle_counts,
    "q102_video_frame_sample": q102_video_frame_sample,
    "q103_mergeable_sketches": q103_mergeable_sketches,
    "q104_passage_dup_coverage": q104_passage_dup_coverage,
    "q105_containment_pairs": q105_containment_pairs,
    "q106_sketch_overlap": q106_sketch_overlap,
    "q107_contamination_scrub": q107_contamination_scrub,
    "q108_shuffled_export": q108_shuffled_export,
    "q112_quantile_sketches": q112_quantile_sketches,
    "q117_robust_outliers": q117_robust_outliers,
    "q124_token_budget_mix": q124_token_budget_mix,
}

ORACLES = {
    "q94_temperature_resample": Q94_SQL,
    "q95_boilerplate_stats": Q95_SQL,
    "q96_source_divergence": Q96_SQL,
    "q97_novelty_filter": Q97_SQL,
    "q98_audio_frame_energy": Q98_SQL,
    "q99_triangle_counts": Q99_SQL,
    "q102_video_frame_sample": Q102_SQL,
    "q103_mergeable_sketches": Q103_SQL,
    "q104_passage_dup_coverage": Q104_SQL,
    "q105_containment_pairs": Q105_SQL,
    "q106_sketch_overlap": Q106_SQL,
    "q107_contamination_scrub": Q107_SQL,
    "q108_shuffled_export": Q108_SQL,
    "q112_quantile_sketches": Q112_SQL,
    "q117_robust_outliers": Q117_SQL,
    "q124_token_budget_mix": Q124_SQL,
}
