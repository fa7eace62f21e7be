"""Silver -> Gold star-schema builder.

Table-driven replacement for the reference's guarded notebook blocks
(``Gold Layer.py:26-288``): two entity dims + a generated date
dimension + four facts + two aggregate marts.  Because Silver keeps
the FK columns the reference drops, `fact_billing` and the doctor
-activity fact actually materialize (they are permanently skipped in
the reference — SURVEY 2.6).

Physical layout: facts are partitioned by (year, month) exactly like
the reference's only tuning decision (``Gold Layer.py:153-156``), with
a pre-write repartition on the partition columns so each hive
partition is a few contiguous files (at 100 TB: low-cardinality
partitions + row-group stats, not high-cardinality directory trees).
Date-range inference for dim_date is ONE aggregate job over a unioned
projection, not the reference's N collect round-trips
(``Gold Layer.py:88-104``; SURVEY 3.3).
"""

from __future__ import annotations

import functools
import os
from collections.abc import Container

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hospital_data_engineering_pipeline_end_to_end_project_spark.operators.parallelism import (
    run_concurrently,
)
from hospital_data_engineering_pipeline_end_to_end_project_spark.operators.scd2 import CURRENT
from hospital_data_engineering_pipeline_end_to_end_project_spark.plans.medallion import SilverStore
from hospital_data_engineering_pipeline_end_to_end_project_spark.sources.readers import read_parquet
from hospital_data_engineering_pipeline_end_to_end_project_spark.sources.writers import (
    write_observed,
    write_partitioned,
    write_table,
)


def _current(store: SilverStore, entity: str) -> DataFrame:
    # SQL-string filter form for parity with Gold Layer.py:30,62,134,167
    # (same Catalyst predicate as F.col(CURRENT))
    return store.read(entity).filter(f"{CURRENT} = true")


def _with_ym(df: DataFrame, date_col: str) -> DataFrame:
    return df.withColumn("year", F.year(date_col)).withColumn(
        "month", F.month(date_col)
    )


def build_dim_patient(store: SilverStore) -> DataFrame:
    # Gold Layer.py:26-54
    return _current(store, "patients").select(
        "patient_id", "first_name", "last_name", "gender", "age", "email",
        "phone", "city",
    )


def build_dim_doctor(store: SilverStore) -> DataFrame:
    # Gold Layer.py:59-80
    return _current(store, "doctors").select(
        "doctor_id", "first_name", "last_name", "speciality", "experience_years"
    )


def build_dim_date(spark: SparkSession, store: SilverStore) -> DataFrame:
    """Calendar spanning every date seen in Silver — single job:
    union the date projections, one min/max aggregate, sequence+explode
    (``Gold Layer.py:85-125`` minus the collect loop)."""
    candidates = [
        _current(store, "admissions").select(F.col("admission_date").alias("d")),
        _current(store, "admissions").select(F.col("discharge_date").alias("d")),
        _current(store, "billing").select(F.col("billing_date").alias("d")),
        _current(store, "vitals").select(F.col("measured_at").cast("date").alias("d")),
        _current(store, "procedures").select(
            F.col("performed_at").cast("date").alias("d")
        ),
    ]
    all_dates = candidates[0]
    for c in candidates[1:]:
        all_dates = all_dates.unionByName(c)
    bounds = all_dates.filter(F.col("d").isNotNull()).agg(
        F.min("d").alias("d0"), F.max("d").alias("d1")
    )
    return (
        bounds.select(F.explode(F.sequence("d0", "d1")).alias("date_key"))
        .select(
            "date_key",
            F.year("date_key").alias("year"),
            F.month("date_key").alias("month"),
            F.dayofmonth("date_key").alias("day"),
            F.weekofyear("date_key").alias("week"),
            F.date_format("date_key", "EEEE").alias("day_name"),
            F.date_format("date_key", "MMMM").alias("month_name"),
            F.dayofweek("date_key").isin(1, 7).alias("is_weekend"),
        )
    )


def build_fact_admissions(store: SilverStore) -> DataFrame:
    # Gold Layer.py:164-189 + length_of_stay_days (datediff)
    adm = _current(store, "admissions")
    return _with_ym(
        adm.select(
            "admission_id", "patient_id", "doctor_id", "admission_date",
            "discharge_date", "reason", "room_no",
            F.datediff("discharge_date", "admission_date").alias(
                "length_of_stay_days"
            ),
        ),
        "admission_date",
    )


def build_fact_billing(store: SilverStore) -> DataFrame:
    # Gold Layer.py:130-159 — materializes because patient_id survived
    return _with_ym(
        _current(store, "billing").select(
            "billing_id", "patient_id", "service", "amount", "total",
            "billing_date",
        ),
        "billing_date",
    )


def build_fact_vitals(store: SilverStore) -> DataFrame:
    # Gold Layer.py:194-227
    return _with_ym(
        _current(store, "vitals").select(
            "vital_id", "patient_id", "temperature", "heart_rate", "measured_at"
        ),
        "measured_at",
    )


def build_fact_procedures(store: SilverStore) -> DataFrame:
    # stands in for the reference's always-skipped fact_doctor_activity
    # (Gold Layer.py:233-254)
    return _with_ym(
        _current(store, "procedures").select(
            "procedure_id", "patient_id", "procedure_name", "cost", "performed_at"
        ),
        "performed_at",
    )


def build_agg_revenue_month(fact_billing: DataFrame) -> DataFrame:
    # Gold Layer.py:260-272
    return (
        fact_billing.groupBy("year", "month")
        .agg(
            F.round(
                F.sum(F.col("amount").cast("decimal(18,6)")).cast("double"), 2
            ).alias("total_revenue"),
            F.count(F.lit(1)).alias("n_line_items"),
        )
    )


def build_agg_admissions_reason_month(fact_admissions: DataFrame) -> DataFrame:
    # Gold Layer.py:275-288
    return (
        fact_admissions.groupBy("year", "month", "reason")
        .agg(
            F.count(F.lit(1)).alias("n_admissions"),
            F.round(F.avg("length_of_stay_days"), 4).alias("avg_length_of_stay"),
        )
    )


#: fact name -> (builder, date column its year/month partitions derive
#: from) — shared by the full rebuild and the incremental refresh
FACT_BUILDERS = {
    "fact_admissions": (build_fact_admissions, "admission_date"),
    "fact_billing": (build_fact_billing, "billing_date"),
    "fact_vitals": (build_fact_vitals, "measured_at"),
    "fact_procedures": (build_fact_procedures, "performed_at"),
}


def months_touched(df: DataFrame, date_col: str) -> list[tuple[int, int]]:
    """Distinct non-null (year, month) pairs of a batch — the
    partitions an incremental Gold refresh must rewrite.  Bounded
    collect: cardinality is months-in-batch, a few hundred at most."""
    rows = (
        df.select(F.year(date_col).alias("y"), F.month(date_col).alias("m"))
        .filter(F.col("y").isNotNull())
        .distinct()
        .collect()
    )
    return sorted((r["y"], r["m"]) for r in rows)


def refresh_fact_partitions(
    spark: SparkSession,
    warehouse: str,
    fact_name: str,
    months: list[tuple[int, int]],
) -> int:
    """Incrementally rewrite ONLY the given (year, month) partitions
    of one fact — dynamic partition overwrite, the 100 TB answer to
    the reference's rebuild-everything Gold runs (`Gold Layer.py`
    rewrites every fact wholesale on every execution).

    Cost scales with the touched months' data, not the fact's total
    history: the builder's plan is partition-pruned by the month
    filter before the scan, and ``partitionOverwriteMode=dynamic``
    replaces only the partition directories present in the written
    frame, leaving every other partition's files untouched.

    Returns the number of rows written to the touched months, observed
    on the write job itself.  NULL-dated rows live in the HIVE default
    partition and are only rewritten by a full ``run_gold``.
    """
    builder, _ = FACT_BUILDERS[fact_name]
    df = builder(SilverStore(spark, warehouse))
    pred = F.lit(False)
    for y, m in months:
        pred = pred | ((F.col("year") == y) & (F.col("month") == m))
    return write_observed(
        df.filter(pred).repartition("year", "month"),
        lambda sub: sub.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("year", "month")
        .parquet(os.path.join(warehouse, "gold", fact_name)),
    )["rows"]


def _write_tables(
    spark: SparkSession,
    gold: str,
    tables: dict[str, DataFrame],
    partitioned: Container[str] = (),
) -> dict[str, int]:
    """Write independent Gold tables concurrently (``partitioned``
    ones by year/month); returns each table's row count, observed on
    its write job, in ``tables`` order."""

    def write(name: str, df: DataFrame) -> int:
        path = os.path.join(gold, name)
        if name in partitioned:
            return write_observed(
                df.repartition("year", "month"),
                lambda d: write_partitioned(
                    d, path, ["year", "month"], coalesce_per_partition=False
                ),
            )["rows"]
        return write_observed(df, lambda d: write_table(d, path))["rows"]

    return run_concurrently(
        spark, {name: functools.partial(write, name, df) for name, df in tables.items()}
    )


def refresh_marts(spark: SparkSession, warehouse: str) -> dict[str, int]:
    """Rebuild the aggregate marts from the (possibly incrementally
    refreshed) facts, both at once; returns their row counts.  Marts
    are months x small-dimension aggregates — tiny relative to facts —
    so a full rebuild is the right trade at any scale."""
    gold = os.path.join(warehouse, "gold")
    fb = read_parquet(spark, os.path.join(gold, "fact_billing"))
    fa = read_parquet(spark, os.path.join(gold, "fact_admissions"))
    return _write_tables(
        spark,
        gold,
        {
            "agg_revenue_month": build_agg_revenue_month(fb),
            "agg_admissions_reason_month": build_agg_admissions_reason_month(fa),
        },
    )


def run_gold(spark: SparkSession, warehouse: str) -> dict[str, int]:
    """Build and persist the full Gold layer; returns row counts.  The
    dims and facts are independent and written concurrently, then the
    marts over the new facts (:func:`refresh_marts`)."""
    store = SilverStore(spark, warehouse)
    gold = os.path.join(warehouse, "gold")

    tables = {
        "dim_patient": build_dim_patient(store),
        "dim_doctor": build_dim_doctor(store),
        "dim_date": build_dim_date(spark, store),
        **{name: b(store) for name, (b, _) in FACT_BUILDERS.items()},
    }
    counts = _write_tables(spark, gold, tables, partitioned=FACT_BUILDERS)
    counts.update(refresh_marts(spark, warehouse))
    return counts
