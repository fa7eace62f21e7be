"""Round-10 query wave (q126-q136).

Operators that round out the training-data-pipeline surface:

- q126 Hamming-shortlist -> exact-cosine rerank — the two-stage ANN
  tiering measured by the recall harness in round 9, promoted to a
  first-class operator (packed 1-bit scan over everything, float
  embeddings read only for the shortlist)
- q127 corpus-conditioned bigram fluency — the statistical text-
  quality signal (MLE transition probabilities, rational arithmetic:
  mean of count ratios, no libm)
- q128 bounded-round min-label propagation — the cheap community/
  labeling primitive on the near-dup graph (q123's edges), oracle-
  unrolled like PageRank
- q129 deterministic per-group reservoir — fixed-size k-sample per
  stratum in replayable md5 order (the eval-set builder)
- q130 URL canonicalization + dedup — crawl-key normalization
  (case/port/www/tracking-params/trailing-slash) as pure regexp and
  array expressions, then keep-lowest-id per canonical key
- q131 ANN recall@k evaluation — approximate vs exact neighbor sets
  joined into per-query recall, integer counts + one division
- q132 per-group CUSUM drift — Page's sequential change-point
  statistic made data-parallel by the prefix-min identity (two
  integer windows; bit-exact after quantization)
- q133 exact prefix-filtered Jaccard self-join — the deterministic
  counterpart to the MinHash family (integer cross-multiplied
  threshold; oracle = brute-force postings join, so parity doubles
  as a completeness check of the prefix filter)
- q134 per-source empirical-CDF calibration — cume_dist without a
  per-source sort window (the q49 value-domain identity), feeding a
  portable round-6 global cut
- q135 token Gini diversity — distribution-wide repetitiveness,
  rational arithmetic where entropy would need ``ln``
- q136 dedup-cluster canonicalization — keeper-per-cluster selection
  (max integer quality, lowest-id ties) composing MinHash banding,
  min-label propagation, and the salted two-level top-k

Exactness arguments live on the operators
(``operators/similarity.py``, ``operators/dataprep.py``,
``operators/components.py``, ``functions/text.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hospital_data_engineering_pipeline_end_to_end_project_spark.functions import text
from hospital_data_engineering_pipeline_end_to_end_project_spark.operators import components, dataprep, dedupe, similarity
from hospital_data_engineering_pipeline_end_to_end_project_spark.plans.data_prep import TOKS_SQL
from hospital_data_engineering_pipeline_end_to_end_project_spark.plans.llm_ops import Q25_SQL, _UNIT
from hospital_data_engineering_pipeline_end_to_end_project_spark.plans.scale_ops import _PACK_SQL
from hospital_data_engineering_pipeline_end_to_end_project_spark.sources.readers import load_table

# ---------------------------------------------------------------------------
# q126 — Hamming shortlist -> exact cosine rerank
#
# Stage 1 is pure integer (no rounding argument needed); stage 2 is
# the proven q28 unit-cosine grammar over only the shortlist rows, so
# the whole two-stage pipeline replays bit-for-bit.
# ---------------------------------------------------------------------------

_Q126_NQ = 8
_Q126_SHORTLIST = 20
_Q126_K = 5
_Q126_DIM = 64


def q126_hamming_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return similarity.hamming_rerank_topk(
        e.filter(F.col("vec_id") < _Q126_NQ),
        e,
        dim=_Q126_DIM,
        shortlist=_Q126_SHORTLIST,
        k=_Q126_K,
    )


Q126_SQL = f"""
WITH packed AS ({_PACK_SQL}),
q AS (SELECT vec_id AS query_id, code AS qc FROM packed WHERE vec_id < {_Q126_NQ}),
short AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.query_id, p.vec_id AS neighbor_id,
      bit_count(xor(qc[1], code[1])) + bit_count(xor(qc[2], code[2])) AS hamming,
      row_number() OVER (PARTITION BY q.query_id
                         ORDER BY bit_count(xor(qc[1], code[1])) + bit_count(xor(qc[2], code[2])) ASC,
                                  p.vec_id ASC) AS srank
    FROM q JOIN packed p ON p.vec_id <> q.query_id
  ) WHERE srank <= {_Q126_SHORTLIST}
),
qn AS (
  SELECT vec_id AS query_id, {_UNIT.format(v='embedding::DOUBLE[]')} AS qnv
  FROM embeddings WHERE vec_id < {_Q126_NQ}
),
cn AS (
  SELECT vec_id AS neighbor_id, {_UNIT.format(v='embedding::DOUBLE[]')} AS cnv
  FROM embeddings
),
scored AS (
  SELECT s.query_id, s.neighbor_id,
         round(list_dot_product(qnv, cnv), 6) AS cos_sim
  FROM short s JOIN qn USING (query_id) JOIN cn USING (neighbor_id)
)
SELECT query_id, neighbor_id, cos_sim, CAST(rank AS BIGINT) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= {_Q126_K}
"""


# ---------------------------------------------------------------------------
# q127 — corpus-conditioned bigram fluency
#
# Probabilities are count ratios (one correctly-rounded division
# each); the per-doc sum folds in POSITION order on both engines
# (array_sort + sequential aggregate == list(... ORDER BY pos) +
# list_sum), and the mean is one final rounded division.
# ---------------------------------------------------------------------------


def q127_bigram_fluency(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return dataprep.bigram_fluency(d, "doc_id", "text")


Q127_SQL = f"""
WITH toks AS (
  SELECT doc_id, {TOKS_SQL} AS t FROM documents
  WHERE len({TOKS_SQL}) >= 2
),
bg0 AS (
  SELECT doc_id,
         [{{'pos': i, 'prev': t[i], 'cur': t[i + 1]}} FOR i IN range(1, len(t))] AS bgs
  FROM toks
),
bg AS (SELECT doc_id, unnest(bgs, recursive := true) FROM bg0),
bgc AS (SELECT prev, cur, count(*) AS num FROM bg GROUP BY prev, cur),
pc AS (SELECT prev, count(*) AS den FROM bg GROUP BY prev),
j AS (
  SELECT bg.doc_id, bg.pos,
         CAST(bgc.num AS DOUBLE) / CAST(pc.den AS DOUBLE) AS p
  FROM bg JOIN bgc USING (prev, cur) JOIN pc USING (prev)
),
agg AS (
  SELECT doc_id, count(*) AS n_bigrams,
         list(p ORDER BY pos) AS ps
  FROM j GROUP BY doc_id
)
SELECT doc_id,
       CAST(n_bigrams AS BIGINT) AS n_bigrams,
       round(list_sum(ps) / CAST(n_bigrams AS DOUBLE), 6) AS fluency
FROM agg
"""


# ---------------------------------------------------------------------------
# q128 — bounded-round min-label propagation on the near-dup graph
#
# Same edge derivation as q123 (banded MinHash candidates); labels
# are integer mins, so the unrolled CTE replay needs no arithmetic
# argument at all.
# ---------------------------------------------------------------------------

_Q128_ROUNDS = 3


def q128_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    bands = dedupe.minhash_bands(
        d, "doc_id", "text", num_hashes=8, bands=4, shingle_n=5
    )
    pairs = dedupe.near_dup_candidates(bands, "doc_id")
    return components.label_propagation_min(
        pairs, rounds=_Q128_ROUNDS
    )


def _q128_step(prev: str, out: str) -> str:
    return f"""
{out} AS (
  SELECT node, min(label) AS label FROM (
    SELECT node, label FROM {prev}
    UNION ALL
    SELECT s.v AS node, l.label FROM sym s JOIN {prev} l ON s.u = l.node
  ) GROUP BY node
)"""


Q128_SQL = f"""
WITH bands AS MATERIALIZED ({Q25_SQL}),
e0 AS (
  SELECT DISTINCT least(a.doc_id, b.doc_id) AS u,
                  greatest(a.doc_id, b.doc_id) AS v
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id
),
sym AS (SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0),
l0 AS (SELECT DISTINCT u AS node, u AS label FROM sym),
{",".join(_q128_step(f"l{i - 1}", f"l{i}") for i in range(1, _Q128_ROUNDS + 1))}
SELECT node, label FROM l{_Q128_ROUNDS}
"""


# ---------------------------------------------------------------------------
# q129 — deterministic per-group reservoir sample
#
# Pure hash-order rank; the Spark side runs the salted two-level
# top-k, the oracle replays the one-level window (subset identity).
# ---------------------------------------------------------------------------

_Q129_K = 10


def q129_reservoir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return dataprep.deterministic_reservoir(d, "lang", "doc_id", k=_Q129_K)


Q129_SQL = f"""
SELECT lang, doc_id, CAST(rank AS BIGINT) AS rank FROM (
  SELECT lang, doc_id,
         row_number() OVER (PARTITION BY lang
                            ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC,
                                     doc_id ASC) AS rank
  FROM documents
) WHERE rank <= {_Q129_K}
"""


# ---------------------------------------------------------------------------
# q130 — URL canonicalization + dedup
#
# URLs are SYNTHESIZED from doc_id by the same expression on both
# engines (four variant shapes per collision group: tracking params +
# default port + www, uppercase scheme/host, fragment + trailing
# slash, http + utm at the tail), then canonicalized and grouped.
# Everything is string/integer — no float anywhere.
# ---------------------------------------------------------------------------


def _synth_url_spark():
    g = (F.col("doc_id") % 50).cast("string")
    # host digit derives from the COLLISION GROUP (doc_id % 50), not
    # doc_id itself — otherwise ids sharing (group, variant) would get
    # different hosts and nothing would ever collide at small SF
    h = ((F.col("doc_id") % 50) % 7).cast("string")
    m = F.col("doc_id") % 4
    return (
        F.when(m == 0, F.concat(F.lit("https://www.site"), h, F.lit(".com:443/d/"), g, F.lit("/?utm_source=a&b=2&a=1")))
        .when(m == 1, F.concat(F.lit("HTTPS://Site"), h, F.lit(".COM/d/"), g, F.lit("?a=1&b=2")))
        .when(m == 2, F.concat(F.lit("https://site"), h, F.lit(".com/d/"), g, F.lit("/#frag")))
        .otherwise(F.concat(F.lit("http://site"), h, F.lit(".com:80/d/"), g, F.lit("?a=1&b=2&utm_medium=m")))
    )


def q130_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", _synth_url_spark().alias("url")
    )
    return (
        d.select("doc_id", F.expr(text.canonical_url("url")).alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.min("doc_id").cast("long").alias("canonical_doc"),
            F.count(F.lit(1)).cast("long").alias("n_variants"),
        )
    )


_SYNTH_URL_SQL = """
CASE doc_id % 4
  WHEN 0 THEN 'https://www.site' || CAST((doc_id % 50) % 7 AS VARCHAR) || '.com:443/d/' || CAST(doc_id % 50 AS VARCHAR) || '/?utm_source=a&b=2&a=1'
  WHEN 1 THEN 'HTTPS://Site' || CAST((doc_id % 50) % 7 AS VARCHAR) || '.COM/d/' || CAST(doc_id % 50 AS VARCHAR) || '?a=1&b=2'
  WHEN 2 THEN 'https://site' || CAST((doc_id % 50) % 7 AS VARCHAR) || '.com/d/' || CAST(doc_id % 50 AS VARCHAR) || '/#frag'
  ELSE 'http://site' || CAST((doc_id % 50) % 7 AS VARCHAR) || '.com:80/d/' || CAST(doc_id % 50 AS VARCHAR) || '?a=1&b=2&utm_medium=m'
END
"""

#: DuckDB mirror of functions/text.canonical_url — single-match
#: regexps only (DuckDB regexp_replace is first-match by default,
#: Spark's is global: every pattern here is anchored or can occur at
#: most once, so the two agree)
CANON_SQL = """
SELECT doc_id, scheme || '://' || auth || cpath ||
       CASE WHEN q2 = '' THEN '' ELSE '?' || q2 END AS canonical_url
FROM (
  SELECT doc_id, scheme,
    regexp_replace(
      CASE WHEN scheme = 'https' THEN regexp_replace(auth0, ':443$', '')
           WHEN scheme = 'http' THEN regexp_replace(auth0, ':80$', '')
           ELSE auth0 END, '^www\\.', '') AS auth,
    CASE WHEN path1 = '' THEN '/' ELSE path1 END AS cpath,
    coalesce(array_to_string(list_sort(list_filter(string_split(query, '&'),
      p -> p <> '' AND NOT starts_with(p, 'utm_')
                  AND NOT starts_with(p, 'fbclid='))), '&'), '') AS q2
  FROM (
    SELECT doc_id, scheme, lower(regexp_extract(rest, '^([^/?#]*)', 1)) AS auth0,
           regexp_replace(regexp_extract(rest, '^[^/?#]*([^?#]*)', 1), '/+$', '') AS path1,
           regexp_extract(rest, '\\?([^#]*)', 1) AS query
    FROM (
      SELECT doc_id,
             lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
             regexp_replace(u, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest
      FROM (SELECT doc_id, regexp_replace(url, '#.*$', '') AS u FROM urls)
    )
  )
)
"""

Q130_SQL = f"""
WITH urls AS (SELECT doc_id, {_SYNTH_URL_SQL} AS url FROM documents),
canon AS ({CANON_SQL})
SELECT canonical_url,
       CAST(min(doc_id) AS BIGINT) AS canonical_doc,
       CAST(count(*) AS BIGINT) AS n_variants
FROM canon GROUP BY canonical_url
"""


# ---------------------------------------------------------------------------
# q131 — ANN recall@k evaluation (Hamming approx vs exact cosine)
#
# Intersection counts are integers; the single division by k is
# correctly rounded on both engines.
# ---------------------------------------------------------------------------

_Q131_NQ = 8
_Q131_K = 5


def q131_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < _Q131_NQ)
    approx = similarity.binary_hamming_topk(q, e, dim=64, k=_Q131_K)
    exact = similarity.cosine_topk(q, e, k=_Q131_K)
    return similarity.ann_recall_at_k(approx, exact, k=_Q131_K)


Q131_SQL = f"""
WITH packed AS ({_PACK_SQL}),
q AS (SELECT vec_id AS query_id, code AS qc FROM packed WHERE vec_id < {_Q131_NQ}),
approx AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.query_id, p.vec_id AS neighbor_id,
      row_number() OVER (PARTITION BY q.query_id
                         ORDER BY bit_count(xor(qc[1], code[1])) + bit_count(xor(qc[2], code[2])) ASC,
                                  p.vec_id ASC) AS rank
    FROM q JOIN packed p ON p.vec_id <> q.query_id
  ) WHERE rank <= {_Q131_K}
),
qn AS (
  SELECT vec_id AS query_id, {_UNIT.format(v='embedding::DOUBLE[]')} AS qnv
  FROM embeddings WHERE vec_id < {_Q131_NQ}
),
cn AS (
  SELECT vec_id AS neighbor_id, {_UNIT.format(v='embedding::DOUBLE[]')} AS cnv
  FROM embeddings
),
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY round(list_dot_product(qnv, cnv), 6) DESC,
                                       neighbor_id ASC) AS rank
    FROM qn, cn WHERE query_id <> neighbor_id
  ) WHERE rank <= {_Q131_K}
),
hits AS (
  SELECT a.query_id, count(*) AS c
  FROM approx a JOIN exact e USING (query_id, neighbor_id)
  GROUP BY a.query_id
)
SELECT b.query_id,
       CAST(coalesce(c, 0) AS BIGINT) AS n_hits,
       round(CAST(coalesce(c, 0) AS DOUBLE) / {float(_Q131_K)!r}, 6) AS recall
FROM (SELECT DISTINCT query_id FROM approx) b LEFT JOIN hits USING (query_id)
"""


QUERIES = {
    "q126_hamming_rerank_topk": q126_hamming_rerank_topk,
    "q127_bigram_fluency": q127_bigram_fluency,
    "q128_label_propagation": q128_label_propagation,
    "q129_reservoir_sample": q129_reservoir_sample,
    "q130_url_dedup": q130_url_dedup,
    "q131_ann_recall_eval": q131_ann_recall_eval,
}

ORACLES = {
    "q126_hamming_rerank_topk": Q126_SQL,
    "q127_bigram_fluency": Q127_SQL,
    "q128_label_propagation": Q128_SQL,
    "q129_reservoir_sample": Q129_SQL,
    "q130_url_dedup": Q130_SQL,
    "q131_ann_recall_eval": Q131_SQL,
}


# ---------------------------------------------------------------------------
# q132 — per-user CUSUM drift on the event stream
#
# Integer arithmetic end-to-end after the quantization floor; the
# oracle replays the same two windows.  The sequence key is event_id
# (unique, engine-identical) — ts would diverge across engines at
# sub-microsecond resolution (DuckDB truncates nanos to micros).
# ---------------------------------------------------------------------------

_Q132_K_SCALED = 1000
_Q132_SCALE = 1000


def q132_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hospital_data_engineering_pipeline_end_to_end_project_spark.operators import temporal

    e = load_table(spark, sf_dir, "events")
    return temporal.cusum_drift(
        e, "user_id", "event_id", "value",
        k_scaled=_Q132_K_SCALED, scale=_Q132_SCALE,
    )


Q132_SQL = f"""
WITH q AS (
  SELECT user_id, event_id,
         CAST(floor(value * {_Q132_SCALE} + 0.5) AS BIGINT) - {_Q132_K_SCALED} AS dv
  FROM events
),
t AS (
  SELECT user_id, event_id,
         sum(dv) OVER (PARTITION BY user_id ORDER BY event_id
                       ROWS UNBOUNDED PRECEDING) AS t
  FROM q
),
s AS (
  SELECT user_id,
         t - least(min(t) OVER (PARTITION BY user_id ORDER BY event_id
                                ROWS UNBOUNDED PRECEDING),
                   0) AS s
  FROM t
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(max(s) AS BIGINT) AS peak_cusum
FROM s GROUP BY user_id
"""

QUERIES["q132_cusum_drift"] = q132_cusum_drift
ORACLES["q132_cusum_drift"] = Q132_SQL


# ---------------------------------------------------------------------------
# q133 — exact prefix-filtered Jaccard self-join
#
# Integer arithmetic end-to-end (cross-multiplied threshold); the
# oracle replays the BRUTE-FORCE postings join, so the parity check
# doubles as the prefix-filter completeness proof on real data.
# ---------------------------------------------------------------------------

_Q133_T = (4, 5)  # Jaccard threshold 4/5


def q133_prefix_jaccard_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return dedupe.prefix_jaccard_join(
        d, "doc_id", "text", shingle_n=5, t_num=_Q133_T[0], t_den=_Q133_T[1]
    )


Q133_SQL = f"""
WITH toks AS (SELECT doc_id, {TOKS_SQL} AS t FROM documents),
sh0 AS (
  SELECT doc_id, [array_to_string(t[i+1:i+5], ' ') FOR i IN range(len(t) - 4)] AS sh
  FROM toks WHERE len(t) >= 5
),
sh AS (SELECT doc_id, unnest(list_distinct(sh)) AS s FROM sh0),
sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
p AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       CAST(inter AS BIGINT) AS inter_size,
       CAST(x.n + y.n - inter AS BIGINT) AS union_size,
       round(CAST(inter AS DOUBLE) / CAST(x.n + y.n - inter AS DOUBLE), 6) AS jaccard
FROM p JOIN sz x ON p.doc_a = x.doc_id JOIN sz y ON p.doc_b = y.doc_id
WHERE {_Q133_T[1] + _Q133_T[0]} * inter >= {_Q133_T[0]} * (x.n + y.n)
"""


# ---------------------------------------------------------------------------
# q134 — per-source empirical-CDF calibration + global cut
#
# Integer counts, one rounded division; the cut compares the SAME
# round-6 value on both engines.  The oracle replays the row-level
# cume_dist window the value-domain form is identical to.
# ---------------------------------------------------------------------------

_Q134_CUT = 0.98


def q134_source_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.expr(text.token_count("text")).cast("long").alias("n_tokens")
    )
    out = dataprep.percentile_calibrate(d, "source", "n_tokens")
    return out.filter(F.col("pct") >= _Q134_CUT).select(
        "source", "doc_id", "n_tokens", "pct"
    )


Q134_SQL = f"""
WITH tok AS (
  SELECT doc_id, source, CAST(len({TOKS_SQL}) AS BIGINT) AS n_tokens
  FROM documents
),
c AS (
  SELECT source, doc_id, n_tokens,
         round(CAST(count(*) OVER (PARTITION BY source ORDER BY n_tokens
                                   RANGE UNBOUNDED PRECEDING) AS DOUBLE)
               / CAST(count(*) OVER (PARTITION BY source) AS DOUBLE), 6) AS pct
  FROM tok
)
SELECT source, doc_id, n_tokens, pct FROM c WHERE pct >= {_Q134_CUT}
"""


# ---------------------------------------------------------------------------
# q135 — per-document token Gini diversity
#
# Rational end-to-end (no libm): integer counts and sums of squares,
# two single rounded divisions at the end.
# ---------------------------------------------------------------------------


def q135_token_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return dataprep.token_gini(d, "doc_id", "text")


Q135_SQL = f"""
WITH tok AS (SELECT doc_id, unnest({TOKS_SQL}) AS t FROM documents),
per AS (SELECT doc_id, t, count(*) AS c FROM tok GROUP BY doc_id, t),
agg AS (
  SELECT doc_id,
         CAST(sum(c) AS BIGINT) AS n_tokens,
         CAST(count(*) AS BIGINT) AS n_distinct,
         CAST(sum(c * c) AS BIGINT) AS ssq
  FROM per GROUP BY doc_id
)
SELECT doc_id, n_tokens, n_distinct,
       round(CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) AS distinct_ratio,
       round(CAST(n_tokens * n_tokens - ssq AS DOUBLE)
             / CAST(n_tokens * n_tokens AS DOUBLE), 6) AS gini
FROM agg
"""

QUERIES["q133_prefix_jaccard_join"] = q133_prefix_jaccard_join
ORACLES["q133_prefix_jaccard_join"] = Q133_SQL
QUERIES["q134_source_calibration"] = q134_source_calibration
ORACLES["q134_source_calibration"] = Q134_SQL
QUERIES["q135_token_gini"] = q135_token_gini
ORACLES["q135_token_gini"] = Q135_SQL


# ---------------------------------------------------------------------------
# q136 — dedup-cluster canonicalization (keeper per near-dup cluster)
#
# Composition of three gated operators: MinHash banding -> bounded-
# round min-label propagation (the q128 pipeline) -> quality-aware
# keeper selection (integer token count, lowest-id ties) via the
# salted two-level top-k.  Integer end-to-end; the oracle replays the
# q128 label CTEs plus a one-level rank window (the subset identity
# the salted top-k is pinned to).
# ---------------------------------------------------------------------------


def q136_cluster_keepers(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    bands = dedupe.minhash_bands(
        d, "doc_id", "text", num_hashes=8, bands=4, shingle_n=5
    )
    pairs = dedupe.near_dup_candidates(bands, "doc_id")
    labels = components.label_propagation_min(pairs, rounds=_Q128_ROUNDS)
    quality = d.select("doc_id", F.expr(text.token_count("text")).cast("long").alias("n_tokens"))
    return dedupe.cluster_keepers(labels, quality, "doc_id", "n_tokens")


Q136_SQL = f"""
WITH lp AS ({Q128_SQL}),
tok AS (
  SELECT doc_id, CAST(len({TOKS_SQL}) AS BIGINT) AS n_tokens FROM documents
),
scored AS (SELECT lp.node, lp.label, tok.n_tokens FROM lp JOIN tok ON lp.node = tok.doc_id),
ranked AS (
  SELECT label, node, n_tokens,
         row_number() OVER (PARTITION BY label
                            ORDER BY n_tokens DESC, node ASC) AS rnk
  FROM scored
),
members AS (SELECT label, CAST(count(*) AS BIGINT) AS n_members FROM lp GROUP BY label)
SELECT r.label, r.node AS keeper_doc, r.n_tokens AS keeper_quality, m.n_members
FROM ranked r JOIN members m USING (label)
WHERE r.rnk = 1
"""

QUERIES["q136_cluster_keepers"] = q136_cluster_keepers
ORACLES["q136_cluster_keepers"] = Q136_SQL


# ---------------------------------------------------------------------------
# q137 — winnowing document fingerprints (MOSS)
#
# Integer end-to-end; the rightmost-min-per-window selection uses the
# SAME expression on both engines (start + w - position(reverse(sl),
# min(sl)), 1-based), so ties on equal hashes break identically and
# the oracle replays the algorithm literally.
# ---------------------------------------------------------------------------

_Q137_K = 4
_Q137_W = 4


def q137_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return dedupe.winnowing_fingerprints(
        d, "doc_id", "text", k=_Q137_K, w=_Q137_W
    )


Q137_SQL = f"""
WITH toks AS (SELECT doc_id, {TOKS_SQL} AS t FROM documents),
hv AS (
  SELECT doc_id,
         [CAST('0x' || substr(md5(array_to_string(t[i:i+{_Q137_K - 1}], ' ')), 1, 15) AS BIGINT)
          FOR i IN range(1, len(t) - {_Q137_K - 1} + 1)] AS hs
  FROM toks WHERE len(t) >= {_Q137_K}
),
win AS (SELECT doc_id, hs, len(hs) AS nh FROM hv WHERE len(hs) >= {_Q137_W}),
sel AS (
  SELECT doc_id, nh,
         list_distinct([hs[j + {_Q137_W} - list_position(list_reverse(hs[j:j+{_Q137_W - 1}]),
                                                         list_min(hs[j:j+{_Q137_W - 1}]))]
                        FOR j IN range(1, nh - {_Q137_W} + 2)]) AS fps
  FROM win
),
ex AS (SELECT doc_id, unnest(fps) AS fp FROM sel),
dup AS (SELECT fp FROM ex GROUP BY fp HAVING count(*) >= 2),
shared AS (
  SELECT doc_id, count(*) AS n_shared
  FROM ex WHERE fp IN (SELECT fp FROM dup) GROUP BY doc_id
)
SELECT s.doc_id,
       CAST(s.nh AS BIGINT) AS n_kgrams,
       CAST(len(s.fps) AS BIGINT) AS n_fingerprints,
       CAST(coalesce(sh.n_shared, 0) AS BIGINT) AS n_shared
FROM sel s LEFT JOIN shared sh USING (doc_id)
"""

QUERIES["q137_winnowing_fingerprints"] = q137_winnowing_fingerprints
ORACLES["q137_winnowing_fingerprints"] = Q137_SQL
