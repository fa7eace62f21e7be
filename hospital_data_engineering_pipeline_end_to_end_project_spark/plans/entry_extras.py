"""Catalog-surface, pandas-UDF, and end-to-end medallion queries.

q40 runs the actual reference-parity engine (seeded raw generation ->
Bronze -> Silver SCD2 -> Gold mart) and returns the revenue mart —
fully hash-checked: its inputs are generated, not the pre-registered
views, so ``PREPARE`` materializes the deterministic raw fixture
first and ``Q40_SQL`` replays the whole billing medallion pipeline
over it in DuckDB.

q41 exercises the catalog surface (CREATE DATABASE / saveAsTable /
spark.table / CTAS — SURVEY S8-S10).  q42 exercises the
``applyInPandas`` escape hatch with an oracle (group-mean deviation:
``l_quantity`` is integral, so the group mean is exact in both
engines).  q43 is the BPE-ish regex token counter.
"""

from __future__ import annotations

import os
import tempfile

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hospital_data_engineering_pipeline_end_to_end_project_spark.scratch import scratch_path
from hospital_data_engineering_pipeline_end_to_end_project_spark.sources.readers import (
    load_table,
    read_parquet,
)


# ---------------------------------------------------------------------------
# q40 — the medallion engine end-to-end, oracle-checked
#
# The raw fixture lives at a DETERMINISTIC path (seeded datagen,
# atomic tmp+rename publish) so the DuckDB oracle can re-derive the
# revenue mart end-to-end from the very same files: NDJSON billing ->
# explode line_items -> marker-aware scrub-casts -> exact-dup DISTINCT
# -> key requirement -> latest-wins batch dedupe -> year/month revenue
# aggregate.  This is a full-value check of the medallion centerpiece
# (Silver Layer.py billing block + Gold Layer.py:260-272), not just a
# row count.
# ---------------------------------------------------------------------------

Q40_FIXTURE_DIR = os.path.join(tempfile.gettempdir(), "hospital_q40_fixture")
Q40_GEN = dict(
    seed=42, n_patients=80, n_doctors=15, n_admissions=120,
    n_vitals=120, n_procedures=120, n_billing=120,
)


def ensure_q40_fixture() -> str:
    """Generate the seeded raw fixture once (idempotent; billing_raw
    .json is written last, so its presence marks a complete dir)."""
    if not os.path.exists(os.path.join(Q40_FIXTURE_DIR, "billing_raw.json")):
        import shutil
        import uuid

        from hospital_data_engineering_pipeline_end_to_end_project_spark.testing import datagen

        tmp = f"{Q40_FIXTURE_DIR}.tmp-{uuid.uuid4().hex[:8]}"
        datagen.generate(tmp, **Q40_GEN)
        shutil.rmtree(Q40_FIXTURE_DIR, ignore_errors=True)
        os.replace(tmp, Q40_FIXTURE_DIR)
    return Q40_FIXTURE_DIR


#: registry hook — called from oracle_sql() so the fixture exists no
#: matter which side (Spark query vs DuckDB oracle) the driver runs
#: first
PREPARE = ensure_q40_fixture


def q40_hospital_medallion_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hospital_data_engineering_pipeline_end_to_end_project_spark.plans import medallion, star

    raw = ensure_q40_fixture()
    wh = scratch_path("q40", "wh")
    medallion.run_silver(spark, raw, wh, "2026-01-15")
    star.run_gold(spark, wh)
    mart = read_parquet(spark, os.path.join(wh, "gold", "agg_revenue_month"))
    return mart.orderBy("year", "month")


_MARKERS_SQL = "'ERR','TEMP_ERR','COST_ERR','EXP_ERR','BAD_AMOUNT','','-','null','NULL','N/A'"


def _clean_sql(expr: str, target: str) -> str:
    """DuckDB mirror of cleanse.clean_cast: trim, null the error
    markers, try_cast."""
    t = f"trim({expr})"
    return (
        f"try_cast(CASE WHEN {t} IS NULL OR {t} IN ({_MARKERS_SQL}) "
        f"THEN NULL ELSE {t} END AS {target})"
    )


_AMOUNT_SQL = (
    # cleanse.regex_scrub_cast: trim -> marker-null -> strip non-numeric
    # chars (global!) -> ''->NULL -> try_cast
    "try_cast(nullif(regexp_replace("
    f"CASE WHEN trim(li.amount) IS NULL OR trim(li.amount) IN ({_MARKERS_SQL}) "
    "THEN NULL ELSE trim(li.amount) END, '[^0-9.\\-]', '', 'g'), '') AS DOUBLE)"
)

Q40_SQL = f"""
WITH raw AS (
  SELECT billing_id, patient_id, line_items, total, billing_date
  FROM read_json('{Q40_FIXTURE_DIR}/billing_raw.json',
                 format = 'newline_delimited',
                 columns = {{billing_id: 'VARCHAR', patient_id: 'VARCHAR',
                             line_items: 'STRUCT(service VARCHAR, amount VARCHAR)[]',
                             total: 'VARCHAR', billing_date: 'VARCHAR'}})
),
ex AS (
  SELECT billing_id, patient_id, unnest(line_items) AS li, total, billing_date
  FROM raw
),
cleansed AS (
  SELECT billing_id, patient_id, li.service AS service,
         {_AMOUNT_SQL} AS amount,
         {_clean_sql('total', 'DOUBLE')} AS total,
         {_clean_sql('billing_date', 'DATE')} AS billing_date
  FROM ex
),
batch AS (
  SELECT DISTINCT * FROM cleansed
  WHERE billing_id IS NOT NULL AND service IS NOT NULL
),
deduped AS (
  SELECT * FROM batch
  QUALIFY row_number() OVER (
    PARTITION BY billing_id, service
    ORDER BY patient_id DESC NULLS LAST, amount DESC NULLS LAST,
             total DESC NULLS LAST, billing_date DESC NULLS LAST) = 1
)
SELECT year(billing_date) AS year, month(billing_date) AS month,
       round(CAST(sum(CAST(amount AS DECIMAL(18,6))) AS DOUBLE), 2)
         AS total_revenue,
       count(*) AS n_line_items
FROM deduped
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# q41 — catalog: CREATE DATABASE / saveAsTable / spark.table / CTAS
# (SURVEY S4, S8, S9, S10)
# ---------------------------------------------------------------------------

def q41_catalog_ctas(spark: SparkSession, sf_dir: str) -> DataFrame:
    db = "engine_q41"
    # idempotent: drop catalog entries AND any orphaned managed-table
    # location a previously failed run left in the warehouse dir
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    import shutil

    shutil.rmtree(
        os.path.join(warehouse.removeprefix("file:"), f"{db}.db"),
        ignore_errors=True,
    )
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
    load_table(spark, sf_dir, "nation").write.mode("overwrite").saveAsTable(
        f"{db}.nation_managed"
    )
    assert spark.catalog.tableExists(f"{db}.nation_managed")
    # v1 session catalog has no REPLACE TABLE AS SELECT; DROP + CTAS
    spark.sql(f"DROP TABLE IF EXISTS {db}.nations_per_region")
    spark.sql(
        f"""
        CREATE TABLE {db}.nations_per_region USING PARQUET AS
        SELECT n_regionkey, count(*) AS n_nations,
               min(n_name) AS first_nation
        FROM {db}.nation_managed
        GROUP BY n_regionkey
        """
    )
    return spark.table(f"{db}.nations_per_region")


Q41_SQL = """
SELECT n_regionkey, count(*) AS n_nations, min(n_name) AS first_nation
FROM nation
GROUP BY n_regionkey
"""


# ---------------------------------------------------------------------------
# q42 — applyInPandas (grouped-map pandas UDF; the custom-operator
# escape hatch, Arrow-batched)
# ---------------------------------------------------------------------------

def q42_group_mean_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_quantity"
    )

    def dev(pdf: pd.DataFrame) -> pd.DataFrame:
        # l_quantity is integral-valued, so the sum (and mean) are
        # exact in float64 regardless of summation order — the oracle
        # computes the identical mean
        mean = pdf["l_quantity"].sum() / len(pdf)
        out = pdf[["l_orderkey", "l_linenumber", "l_returnflag"]].copy()
        out["dev_from_mean"] = (pdf["l_quantity"] - mean).round(6)
        return out

    return l.groupBy("l_returnflag").applyInPandas(
        dev,
        schema="l_orderkey long, l_linenumber int, l_returnflag string, "
        "dev_from_mean double",
    )


Q42_SQL = """
SELECT l_orderkey, l_linenumber, l_returnflag,
       round(l_quantity - avg(l_quantity) OVER (PARTITION BY l_returnflag), 6)
         AS dev_from_mean
FROM lineitem
"""


# ---------------------------------------------------------------------------
# q43 — BPE-ish regex token counting (word pieces + punctuation)
# ---------------------------------------------------------------------------

TOKEN_RE = "[a-z0-9]+"


def q43_regex_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = F.regexp_extract_all(F.lower("text"), F.lit(TOKEN_RE), 0)
    return d.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_regex_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_unique_tokens"),
    )


Q43_SQL = f"""
SELECT doc_id,
       len(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS n_regex_tokens,
       len(list_distinct(regexp_extract_all(lower(text), '{TOKEN_RE}'))) AS n_unique_tokens
FROM documents
"""


# ---------------------------------------------------------------------------
# q44 — range source (SURVEY S11: spark.range as a generated seed)
# ---------------------------------------------------------------------------

def q44_range_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.range(1, 101).select(
        F.col("id"),
        (F.col("id") * F.col("id")).alias("square"),
        F.when(F.col("id") % 2 == 0, F.lit("even")).otherwise(F.lit("odd")).alias(
            "parity"
        ),
    )


Q44_SQL = """
SELECT x AS id, x * x AS square,
       CASE WHEN x % 2 = 0 THEN 'even' ELSE 'odd' END AS parity
FROM (SELECT unnest(range(1, 101)) AS x)
"""


# ---------------------------------------------------------------------------
# q45 — CSV round-trip (SURVEY S1: header CSV written then re-read
# with an explicit schema + PERMISSIVE quarantine, aggregated)
# ---------------------------------------------------------------------------

def q45_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import types as T

    from hospital_data_engineering_pipeline_end_to_end_project_spark.sources.readers import read_csv

    e = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    tmp = scratch_path("q45", "events_csv")
    e.write.mode("overwrite").option("header", True).csv(tmp)
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType(), True),
            T.StructField("user_id", T.LongType(), True),
            T.StructField("event_type", T.StringType(), True),
            T.StructField("value", T.DoubleType(), True),
        ]
    )
    back = read_csv(spark, tmp, schema)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 4
        ).alias("sum_value"),
    )


Q45_SQL = """
SELECT event_type, count(*) AS n,
       round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4) AS sum_value
FROM events
GROUP BY event_type
"""


QUERIES = {
    "q40_hospital_medallion_e2e": q40_hospital_medallion_e2e,
    "q41_catalog_ctas": q41_catalog_ctas,
    "q42_group_mean_deviation": q42_group_mean_deviation,
    "q43_regex_token_count": q43_regex_token_count,
    "q44_range_source": q44_range_source,
    "q45_csv_roundtrip": q45_csv_roundtrip,
}

ORACLES = {
    # q40's oracle reads the deterministic raw fixture directly and
    # replays the whole billing medallion pipeline in SQL
    "q40_hospital_medallion_e2e": Q40_SQL,
    "q41_catalog_ctas": Q41_SQL,
    "q42_group_mean_deviation": Q42_SQL,
    "q43_regex_token_count": Q43_SQL,
    "q44_range_source": Q44_SQL,
    "q45_csv_roundtrip": Q45_SQL,
}
