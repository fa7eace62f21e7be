"""Training-data preparation query catalog (q50-q54).

The post-dedup stage of a pretraining corpus pipeline: deterministic
split assignment, class balancing, sequence packing, chunking, and
characteristic-term extraction — each over the ``documents`` table
with an exact DuckDB oracle (md5 bucket strings, integer window sums,
rational idf — see ``operators/dataprep.py`` for why each is
bit-reproducible cross-engine).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hospital_data_engineering_pipeline_end_to_end_project_spark.functions import text as TX
from hospital_data_engineering_pipeline_end_to_end_project_spark.operators import dataprep
from hospital_data_engineering_pipeline_end_to_end_project_spark.sources.readers import load_table

TOKS_SQL = "list_filter(string_split(text, ' '), x -> x <> '')"
TOKEN_RE = "[a-z0-9]+"

SPLIT_WEIGHTS = {"train": 0.8, "val": 0.1, "test": 0.1}


# ---------------------------------------------------------------------------
# q50 — deterministic train/val/test split (md5-bucket, no rand())
# ---------------------------------------------------------------------------

def q50_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return dataprep.hash_split(
        d.select("doc_id"), "doc_id", SPLIT_WEIGHTS
    )


def _split_case_sql() -> str:
    branches = []
    for name, bound in dataprep.split_thresholds(SPLIT_WEIGHTS):
        if bound is None:
            branches.append(f"ELSE '{name}'")
        else:
            branches.append(f"WHEN bucket < '{bound}' THEN '{name}'")
    return "CASE " + " ".join(branches) + " END"


Q50_SQL = f"""
WITH b AS (
  SELECT doc_id,
         substr(md5(CAST(doc_id AS VARCHAR)), 1, {dataprep.SPLIT_PREFIX_LEN})
           AS bucket
  FROM documents
)
SELECT doc_id, bucket, {_split_case_sql()} AS split
FROM b
"""


# ---------------------------------------------------------------------------
# q51 — per-group cap (class balancing: at most N docs per source)
# ---------------------------------------------------------------------------

Q51_CAP = 10


def q51_group_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return dataprep.group_cap(
        d.select("doc_id", "source"), ["source"], "doc_id", Q51_CAP
    )


Q51_SQL = f"""
SELECT doc_id, source,
       CAST(row_number() OVER (
         PARTITION BY source
         ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS INT) AS sample_rank
FROM documents
QUALIFY sample_rank <= {Q51_CAP}
"""


# ---------------------------------------------------------------------------
# q52 — sequence packing (concat-then-chunk token-stream layout)
# ---------------------------------------------------------------------------

Q52_BUDGET = 2048


def q52_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    sized = d.select(
        "doc_id", "source", F.expr(TX.token_count("text")).cast("long").alias("n_tokens")
    )
    # packed per source shard: the window partitions on source, so the
    # layout parallelizes across shards instead of one global sort
    return dataprep.pack_sequences(
        sized, "doc_id", "n_tokens", Q52_BUDGET, group_cols=["source"]
    )


Q52_SQL = f"""
WITH sized AS (
  SELECT doc_id, source, len({TOKS_SQL}) AS n_tokens FROM documents
)
SELECT doc_id, source, n_tokens,
       CAST(sum(n_tokens) OVER w - n_tokens AS BIGINT) AS start_offset,
       CAST((sum(n_tokens) OVER w - n_tokens) // {Q52_BUDGET} AS BIGINT) AS pack_id
FROM sized
WINDOW w AS (PARTITION BY source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


# ---------------------------------------------------------------------------
# q53 — document chunking into fixed token windows
# ---------------------------------------------------------------------------

Q53_WINDOW = 64


def q53_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    sized = d.select(
        "doc_id", F.expr(TX.token_count("text")).cast("long").alias("n_tokens")
    )
    return dataprep.chunk_documents(sized, "doc_id", "n_tokens", Q53_WINDOW)


Q53_SQL = f"""
WITH sized AS (
  SELECT doc_id, len({TOKS_SQL}) AS n_tokens FROM documents
  WHERE len({TOKS_SQL}) > 0
),
chunks AS (
  SELECT doc_id, n_tokens,
         unnest(range(0, CAST(ceil(n_tokens / {Q53_WINDOW}.0) AS BIGINT)))
           AS chunk_id
  FROM sized
)
SELECT doc_id, n_tokens, chunk_id,
       chunk_id * {Q53_WINDOW} AS tok_start,
       least(chunk_id * {Q53_WINDOW} + {Q53_WINDOW}, n_tokens) AS tok_end
FROM chunks
"""


# ---------------------------------------------------------------------------
# q54 — tf-idf top terms per document (rational idf, exact cross-engine)
# ---------------------------------------------------------------------------

Q54_K = 3


def q54_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hospital_data_engineering_pipeline_end_to_end_project_spark.operators.parallelism import fan_out

    d = load_table(spark, sf_dir, "documents")
    # balance the compact scan before the regexp tokenize + explode
    tok = fan_out(d.select("doc_id", "text"), by="doc_id").select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.lower("text"), F.lit(TOKEN_RE), 0)
        ).alias("term"),
    )
    return dataprep.tfidf_top_terms(tok, "doc_id", "term", k=Q54_K)


Q54_SQL = f"""
WITH tok AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS term
  FROM documents
),
tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM tok GROUP BY doc_id, term
),
dfreq AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
),
n AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs FROM tok)
SELECT doc_id, term, tf, df,
       tf * (n_docs + 1) / (df + 1) AS tfidf,
       CAST(row_number() OVER (
         PARTITION BY doc_id ORDER BY tf * (n_docs + 1) / (df + 1) DESC, term
       ) AS INT) AS term_rank
FROM tf JOIN dfreq USING (term), n
QUALIFY term_rank <= {Q54_K}
"""


# ---------------------------------------------------------------------------
# q55 — benchmark decontamination (n-gram overlap against an eval set)
#
# The canonical pretraining hygiene op: drop/flag training docs that
# share long word n-grams with a benchmark/eval set.  The benchmark
# here is a deterministic slice of the corpus (doc_id % 20 == 0, ~5%);
# in production it is the actual eval suite — small, which is why the
# contaminated-shingle probe is a BROADCAST semi-join: the corpus side
# never shuffles, each partition streams past the benchmark shingles.
# ---------------------------------------------------------------------------

Q55_SHINGLE_N = 5
Q55_MOD = 20


def q55_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return dataprep.contamination(
        d, "doc_id", "text", F.col("doc_id") % Q55_MOD == 0, Q55_SHINGLE_N
    )


def _shingles_sql(n: int) -> str:
    """DuckDB word-n-gram mirror of TX.shingles (same guard/layout as
    the q25/q26 oracles)."""
    return (
        f"list_distinct([array_to_string(t[i+1:i+{n}], ' ') "
        f"FOR i IN range(len(t) - {n - 1})])"
    )


Q55_SQL = f"""
WITH sh AS (
  SELECT doc_id, {_shingles_sql(Q55_SHINGLE_N)} AS sh
  FROM (SELECT doc_id, {TOKS_SQL} AS t FROM documents)
  WHERE len(t) >= {Q55_SHINGLE_N}
),
bench AS (
  SELECT DISTINCT unnest(sh) AS s FROM sh WHERE doc_id % {Q55_MOD} = 0
),
train AS (
  SELECT doc_id, unnest(sh) AS s FROM sh WHERE doc_id % {Q55_MOD} <> 0
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_contaminated_shingles
FROM train JOIN bench USING (s)
GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# q56 — repetition statistics (Gopher/RefinedWeb-style quality signal)
# ---------------------------------------------------------------------------

Q56_SHINGLE_N = 3


def q56_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hospital_data_engineering_pipeline_end_to_end_project_spark.operators.parallelism import fan_out

    d = load_table(spark, sf_dir, "documents")
    # balance the compact scan before the ~50x shingle row expansion
    # (a small parquet arrives as ONE partition and would shingle on
    # one core)
    per = (
        fan_out(d.select("doc_id", "text"), by="doc_id")
        .select(
            "doc_id", F.explode(F.expr(TX.shingles("text", Q56_SHINGLE_N))).alias("s")
        )
        .groupBy("doc_id", "s")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return per.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_shingles"),
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
        F.round(F.max("c").cast("double") / F.sum("c"), 6).alias("top_ratio"),
        F.round(F.count(F.lit(1)).cast("double") / F.sum("c"), 6).alias(
            "distinct_ratio"
        ),
    )


Q56_SQL = f"""
WITH sh AS (
  SELECT doc_id,
         [array_to_string(t[i+1:i+{Q56_SHINGLE_N}], ' ')
          FOR i IN range(len(t) - {Q56_SHINGLE_N - 1})] AS sh
  FROM (SELECT doc_id, {TOKS_SQL} AS t FROM documents)
  WHERE len(t) >= {Q56_SHINGLE_N}
),
per AS (
  SELECT doc_id, s, count(*) AS c
  FROM (SELECT doc_id, unnest(sh) AS s FROM sh)
  GROUP BY doc_id, s
)
SELECT doc_id,
       CAST(sum(c) AS BIGINT) AS n_shingles,
       CAST(count(*) AS BIGINT) AS n_distinct,
       round(CAST(max(c) AS DOUBLE) / sum(c), 6) AS top_ratio,
       round(CAST(count(*) AS DOUBLE) / sum(c), 6) AS distinct_ratio
FROM per
GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# q57 — PII scrubbing (email / long-digit-run redaction)
# ---------------------------------------------------------------------------

# patterns kept to the regex subset with identical semantics in Java
# regex (Spark) and RE2 (DuckDB)
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
LONGNUM_RE = r"[0-9]{9,}"


def q57_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    no_email = F.regexp_replace(t, EMAIL_RE, "<EMAIL>")
    clean = F.regexp_replace(no_email, LONGNUM_RE, "<NUM>")
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all(t, F.lit(EMAIL_RE), 0))
        .cast("long")
        .alias("n_emails"),
        F.size(F.regexp_extract_all(t, F.lit(LONGNUM_RE), 0))
        .cast("long")
        .alias("n_long_numbers"),
        F.md5(clean).alias("clean_hash"),
    )


Q57_SQL = f"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{EMAIL_RE}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(text, '{LONGNUM_RE}')) AS BIGINT)
         AS n_long_numbers,
       md5(regexp_replace(regexp_replace(text, '{EMAIL_RE}', '<EMAIL>', 'g'),
                          '{LONGNUM_RE}', '<NUM>', 'g')) AS clean_hash
FROM documents
"""


QUERIES = {
    "q50_hash_split": q50_hash_split,
    "q51_group_cap": q51_group_cap,
    "q52_pack_sequences": q52_pack_sequences,
    "q53_chunk_documents": q53_chunk_documents,
    "q54_tfidf_top_terms": q54_tfidf_top_terms,
    "q55_decontaminate": q55_decontaminate,
    "q56_repetition_stats": q56_repetition_stats,
    "q57_pii_scrub": q57_pii_scrub,
}

ORACLES = {
    "q50_hash_split": Q50_SQL,
    "q51_group_cap": Q51_SQL,
    "q52_pack_sequences": Q52_SQL,
    "q53_chunk_documents": Q53_SQL,
    "q54_tfidf_top_terms": Q54_SQL,
    "q55_decontaminate": Q55_SQL,
    "q56_repetition_stats": Q56_SQL,
    "q57_pii_scrub": Q57_SQL,
}
