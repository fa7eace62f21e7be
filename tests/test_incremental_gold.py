"""Incremental Gold refresh: dynamic partition overwrite rewrites ONLY
the touched (year, month) partitions (the reference rebuilds every
fact wholesale on each run — `Gold Layer.py:153-156`)."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from hospital_data_engineering_pipeline_end_to_end_project_spark.operators import scd2
from hospital_data_engineering_pipeline_end_to_end_project_spark.plans import medallion, star
from hospital_data_engineering_pipeline_end_to_end_project_spark.testing import datagen


@pytest.fixture()
def pipeline(spark, tmp_path):
    raw = str(tmp_path / "raw")
    wh = str(tmp_path / "wh")
    datagen.generate(
        raw, seed=11, n_patients=60, n_doctors=10, n_admissions=80,
        n_vitals=80, n_procedures=80, n_billing=80,
    )
    medallion.run_silver(spark, raw, wh, "2026-01-15")
    star.run_gold(spark, wh)
    return wh


def _partition_files(wh: str, fact: str) -> dict[str, set[str]]:
    root = os.path.join(wh, "gold", fact)
    out: dict[str, set[str]] = {}
    for p in glob.glob(os.path.join(root, "year=*", "month=*", "*.parquet")):
        rel = os.path.relpath(p, root)
        part = os.path.dirname(rel)
        out.setdefault(part, set()).add(os.path.basename(rel))
    return out


def test_refresh_rewrites_only_touched_partitions(spark, pipeline):
    wh = pipeline
    before = _partition_files(wh, "fact_billing")
    assert len(before) > 1, "need several month partitions for the test"

    # pick one real month, refresh only it
    fb = spark.read.parquet(os.path.join(wh, "gold", "fact_billing"))
    y, m = (
        fb.filter(F.col("year").isNotNull())
        .select("year", "month")
        .first()
    )
    n = star.refresh_fact_partitions(spark, wh, "fact_billing", [(y, m)])
    assert n > 0

    after = _partition_files(wh, "fact_billing")
    touched = f"year={y}/month={m}"
    assert after[touched] != before[touched], "refreshed partition rewritten"
    for part in before:
        if part != touched:
            assert after[part] == before[part], (
                f"untouched partition {part} must keep its exact files"
            )


def test_refresh_propagates_silver_change_and_marts(spark, pipeline):
    wh = pipeline
    store = medallion.SilverStore(spark, wh)
    fb_path = os.path.join(wh, "gold", "fact_billing")

    fb = spark.read.parquet(fb_path)
    y, m = (
        fb.filter(F.col("year").isNotNull() & F.col("amount").isNotNull())
        .select("year", "month")
        .first()
    )
    in_month = (F.year("billing_date") == y) & (F.month("billing_date") == m)
    old_sum = (
        fb.filter((F.col("year") == y) & (F.col("month") == m))
        .agg(F.sum("amount"))
        .collect()[0][0]
    )

    # simulate an upstream correction: double that month's amounts in
    # Silver (current rows only), then refresh just that partition
    state = store.read("billing")
    state = state.withColumn(
        "amount",
        F.when(
            F.col(scd2.CURRENT) & in_month, F.col("amount") * 2
        ).otherwise(F.col("amount")),
    )
    store.write("billing", state)
    star.refresh_fact_partitions(spark, wh, "fact_billing", [(y, m)])

    new_sum = (
        spark.read.parquet(fb_path)
        .filter((F.col("year") == y) & (F.col("month") == m))
        .agg(F.sum("amount"))
        .collect()[0][0]
    )
    assert new_sum == pytest.approx(2 * old_sum)

    marts = star.refresh_marts(spark, wh)
    assert marts["agg_revenue_month"] > 0
    mart = spark.read.parquet(os.path.join(wh, "gold", "agg_revenue_month"))
    mart_rev = (
        mart.filter((F.col("year") == y) & (F.col("month") == m))
        .collect()[0]["total_revenue"]
    )
    assert mart_rev == pytest.approx(2 * old_sum, abs=0.02)


def test_refresh_counts_match_the_written_partitions(spark, pipeline):
    # each returned count is observed on the write job; it must equal
    # an independent re-read of the touched months / the marts
    wh = pipeline
    store = medallion.SilverStore(spark, wh)
    months = star.months_touched(store.read("billing"), "billing_date")[:2]
    assert len(months) == 2
    pred = F.lit(False)
    for y, m in months:
        pred = pred | ((F.col("year") == y) & (F.col("month") == m))
    for fact in star.FACT_BUILDERS:
        n = star.refresh_fact_partitions(spark, wh, fact, months)
        back = spark.read.parquet(os.path.join(wh, "gold", fact)).filter(pred)
        assert n == back.count(), fact
    # no month: the filter folds to an empty relation and the observed
    # count must still arrive (the write job is the only one)
    assert star.refresh_fact_partitions(spark, wh, "fact_billing", []) == 0
    marts = star.refresh_marts(spark, wh)
    assert list(marts) == ["agg_revenue_month", "agg_admissions_reason_month"]
    for name, n in marts.items():
        assert n == spark.read.parquet(os.path.join(wh, "gold", name)).count()


def test_months_touched_bounds(spark):
    df = spark.createDataFrame(
        [("2026-01-05",), ("2026-01-20",), ("2026-03-01",), (None,)],
        "d string",
    ).select(F.col("d").cast("date").alias("d"))
    assert star.months_touched(df, "d") == [(2026, 1), (2026, 3)]


def test_refresh_of_a_month_without_rows_writes_zero(spark, pipeline):
    # a month no current row falls in: the filtered frame is empty only
    # at run time, so AQE finds the write's shuffle empty; the observed
    # count must still arrive, and every partition keeps its files
    wh = pipeline
    before = _partition_files(wh, "fact_billing")
    assert star.refresh_fact_partitions(spark, wh, "fact_billing", [(1999, 1)]) == 0
    assert _partition_files(wh, "fact_billing") == before


def test_run_gold_with_an_empty_entity_feed(spark, tmp_path):
    raw = str(tmp_path / "raw")
    wh = str(tmp_path / "wh")
    datagen.generate(
        raw, seed=11, n_patients=60, n_doctors=10, n_admissions=80,
        n_vitals=80, n_procedures=80, n_billing=80,
    )
    open(os.path.join(raw, "procedures_raw.json"), "w").close()
    medallion.run_silver(spark, raw, wh, "2026-01-15")
    counts = star.run_gold(spark, wh)
    assert counts["fact_procedures"] == 0
    assert counts["fact_billing"] > 0
    back = spark.read.parquet(os.path.join(wh, "gold", "fact_billing"))
    assert back.count() == counts["fact_billing"]
