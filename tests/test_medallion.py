"""End-to-end medallion test: seeded raw files -> Bronze -> Silver
(SCD2) -> Gold star schema, with SCD2 invariants, re-run idempotency,
and a DuckDB cross-check of the revenue mart (SURVEY 5.3/5.4)."""

from __future__ import annotations

import contextlib
import glob
import os
import warnings

import duckdb
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from hospital_data_engineering_pipeline_end_to_end_project_spark.operators import scd2
from hospital_data_engineering_pipeline_end_to_end_project_spark.plans import medallion, star
from hospital_data_engineering_pipeline_end_to_end_project_spark.testing import datagen

D1 = "2026-01-15"


@pytest.fixture(scope="module")
def pipeline(spark, tmp_path_factory):
    raw = str(tmp_path_factory.mktemp("raw"))
    wh = str(tmp_path_factory.mktemp("warehouse"))
    datagen.generate(
        raw,
        seed=7,
        n_patients=120,
        n_doctors=25,
        n_admissions=200,
        n_vitals=200,
        n_procedures=200,
        n_billing=200,
    )
    silver_metrics = medallion.run_silver(spark, raw, wh, D1)
    gold_counts = star.run_gold(spark, wh)
    return {"raw": raw, "wh": wh, "silver": silver_metrics, "gold": gold_counts}


def test_silver_counts_and_invariants(spark, pipeline):
    store = medallion.SilverStore(spark, pipeline["wh"])
    for name, spec in medallion.ENTITIES.items():
        m = pipeline["silver"][name]
        assert m["rows"] > 0, name
        assert m["rows"] == m["current"], "initial load: everything current"
        v = scd2.validate(store.read(name), spec.scd2)
        assert v == {
            "multi_current_keys": 0,
            "end_before_effective": 0,
            "expired_without_end": 0,
        }, (name, v)


def test_exact_dupes_removed(spark, pipeline):
    store = medallion.SilverStore(spark, pipeline["wh"])
    pats = store.read("patients")
    assert pats.count() == pats.dropDuplicates(["patient_id"]).count()


def test_silver_rerun_is_idempotent(spark, pipeline):
    before = {
        n: pipeline["silver"][n]["rows"] for n in medallion.ENTITIES
    }
    after = medallion.run_silver(spark, pipeline["raw"], pipeline["wh"], "2026-02-15")
    for n in medallion.ENTITIES:
        assert after[n]["rows"] == before[n], (
            f"{n}: replaying the same batch created versions"
        )


def test_gold_all_tables_materialize(pipeline):
    g = pipeline["gold"]
    for t in (
        "dim_patient", "dim_doctor", "dim_date", "fact_admissions",
        "fact_billing", "fact_vitals", "fact_procedures",
        "agg_revenue_month", "agg_admissions_reason_month",
    ):
        assert g[t] > 0, f"{t} must materialize (reference skips some — SURVEY 2.6)"


def test_fact_partition_layout(pipeline):
    # facts are hive-partitioned by year/month (Gold Layer.py:153-156)
    parts = glob.glob(
        os.path.join(pipeline["wh"], "gold", "fact_admissions", "year=*", "month=*")
    )
    assert parts, "expected year=/month= partition directories"


def test_revenue_mart_matches_duckdb(spark, pipeline):
    mart = os.path.join(pipeline["wh"], "gold", "agg_revenue_month")
    fact = os.path.join(pipeline["wh"], "gold", "fact_billing")
    got = {
        (r["year"], r["month"]): (r["total_revenue"], r["n_line_items"])
        for r in spark.read.parquet(mart).collect()
    }
    con = duckdb.connect()
    want = {
        (y, m): (t, n)
        for y, m, t, n in con.execute(
            f"""
            SELECT TRY_CAST(year AS INT) AS year, TRY_CAST(month AS INT) AS month,
                   round(CAST(sum(CAST(amount AS DECIMAL(18,6))) AS DOUBLE), 2),
                   count(*)
            FROM read_parquet('{fact}/*/*/*.parquet', hive_partitioning=true)
            GROUP BY 1, 2
            """
        ).fetchall()
    }
    con.close()
    assert got == want


def test_changed_batch_creates_versions(spark, pipeline):
    # FIXTURES.md section 7(b): re-run with one tracked attribute
    # changed -> expired v1 + new current v2. Runs last: mutates raw.
    import csv

    path = os.path.join(pipeline["raw"], "patients_raw.csv")
    with open(path) as f:
        rows = list(csv.DictReader(f))
    changed_ids = {r["patient_id"] for r in rows[:5]}
    for r in rows:
        if r["patient_id"] in changed_ids:
            r["city"] = "Zurich"
    with open(path, "w", newline="") as f:
        w = csv.DictWriter(f, fieldnames=list(rows[0].keys()))
        w.writeheader()
        w.writerows(rows)

    store = medallion.SilverStore(spark, pipeline["wh"])
    before = store.read("patients").count()
    medallion.run_silver_entity(
        spark, pipeline["raw"], store, medallion.ENTITIES["patients"], "2026-03-15"
    )
    after = store.read("patients")
    assert after.count() == before + len(changed_ids)
    for pid in changed_ids:
        versions = after.filter(F.col("patient_id") == pid).collect()
        assert len(versions) == 2
        cur = next(v for v in versions if v["is_current"])
        old = next(v for v in versions if not v["is_current"])
        assert cur["city"] == "Zurich" and old["end_date"] is not None
    v = scd2.validate(after, medallion.ENTITIES["patients"].scd2)
    assert v["multi_current_keys"] == 0


def test_date_dim_covers_all_fact_dates(spark, pipeline):
    gold = os.path.join(pipeline["wh"], "gold")
    dd = spark.read.parquet(os.path.join(gold, "dim_date"))
    fa = spark.read.parquet(os.path.join(gold, "fact_admissions"))
    missing = (
        fa.filter(F.col("admission_date").isNotNull())
        .join(dd, fa.admission_date == dd.date_key, "left_anti")
        .count()
    )
    assert missing == 0


def test_money_mode_casts_currency_to_decimal(spark, tmp_path):
    # SURVEY 7.0: optional DECIMAL(12,2) money mode (doubles stay the
    # default for reference parity)
    raw, wh = str(tmp_path / "raw"), str(tmp_path / "wh")
    datagen.generate(raw, seed=11, n_patients=20, n_doctors=5,
                     n_admissions=30, n_vitals=30, n_procedures=30,
                     n_billing=30)
    out = medallion.run_silver(spark, raw, wh, "2026-02-01", money_mode=True)
    assert out["billing"]["rows"] > 0
    store = medallion.SilverStore(spark, wh)
    bill = store.read("billing")
    types = dict(bill.dtypes)
    assert types["amount"] == "decimal(12,2)"
    assert types["total"] == "decimal(12,2)"
    assert dict(store.read("procedures").dtypes)["cost"] == "decimal(12,2)"
    # non-money entities untouched
    assert dict(store.read("patients").dtypes)["age"] == "int"


# -- counts observed on the write, concurrent entity pipelines ----------

#: malformed lines appended to the raw feeds: CSV rows with extra
#: fields, NDJSON lines that are not JSON
MALFORMED = {
    "patients": ["P_BAD1,a,b,M,40,x@y.z,555,Oslo,extra", "P_BAD2,a,b,c,d,e,f,g,h,i"],
    "doctors": ["D_BAD,a,b,c,3,extra,extra"],
    "vitals": ['{"vital_id": "V_BAD", broken', "not json at all"],
    "billing": ['{"billing_id": '],
}


@contextlib.contextmanager
def job_group(spark, name):
    """Run the block in job group ``name``; yields a function that
    returns the ids of the group's jobs once the listener bus drained."""
    sc = spark.sparkContext
    sc.setJobGroup(name, name)

    def job_ids():
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return set(sc.statusTracker().getJobIdsForGroup(name))

    try:
        yield job_ids
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)


def ungrouped_jobs(spark):
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup(None))


@pytest.fixture(scope="module")
def dirty(spark, tmp_path_factory):
    raw = str(tmp_path_factory.mktemp("dirty_raw"))
    wh = str(tmp_path_factory.mktemp("dirty_wh"))
    datagen.generate(
        raw, seed=23, n_patients=80, n_doctors=12, n_admissions=120,
        n_vitals=120, n_procedures=120, n_billing=120,
    )
    for name, lines in MALFORMED.items():
        with open(os.path.join(raw, medallion.ENTITIES[name].file_name), "a") as fh:
            fh.write("\n".join(lines) + "\n")
    before = ungrouped_jobs(spark)
    with warnings.catch_warnings(record=True) as caught, job_group(
        spark, "dirty-load"
    ) as job_ids:
        warnings.simplefilter("always")
        silver = medallion.run_silver(spark, raw, wh, D1)
        gold = star.run_gold(spark, wh)
        jobs = job_ids()
    return {
        "raw": raw, "wh": wh, "silver": silver, "gold": gold, "jobs": jobs,
        "ungrouped": ungrouped_jobs(spark) - before,
        "warnings": [str(w.message) for w in caught],
    }


def test_silver_counts_match_the_written_state(spark, dirty):
    store = medallion.SilverStore(spark, dirty["wh"])
    assert list(dirty["silver"]) == list(medallion.ENTITIES)
    for name, spec in medallion.ENTITIES.items():
        state = store.read(name)
        # independent quarantine count: the cached full bronze scan
        bronze = medallion.read_bronze(spark, dirty["raw"], spec).cache()
        corrupt = bronze.filter(F.col("_corrupt_record").isNotNull()).count()
        bronze.unpersist()
        assert corrupt == len(MALFORMED.get(name, [])), name
        assert dirty["silver"][name] == {
            "rows": state.count(),
            "current": state.filter(F.col(scd2.CURRENT)).count(),
            "quarantined": corrupt,
        }, name


def test_gold_counts_match_the_written_tables(spark, dirty):
    gold = os.path.join(dirty["wh"], "gold")
    assert list(dirty["gold"]) == [
        "dim_patient", "dim_doctor", "dim_date", "fact_admissions",
        "fact_billing", "fact_vitals", "fact_procedures",
        "agg_revenue_month", "agg_admissions_reason_month",
    ]
    for name, n in dirty["gold"].items():
        assert n == spark.read.parquet(os.path.join(gold, name)).count(), name


def test_pipeline_jobs_carry_the_callers_job_group(spark, dirty):
    # the entity/table threads inherit the caller's job group, so a job
    # tracer never sees an unlabelled job, and the session is passed to
    # inheritable_thread_target (no "session is not provided" warning)
    assert dirty["jobs"], "the load fired no job in the caller's group"
    assert dirty["ungrouped"] == set()
    assert not [w for w in dirty["warnings"] if "not provided" in w]

    before = ungrouped_jobs(spark)
    with job_group(spark, "marts") as job_ids:
        star.refresh_marts(spark, dirty["wh"])
        assert job_ids()
    assert ungrouped_jobs(spark) - before == set()


def test_silver_rerun_job_budget(spark, dirty):
    # counts are observed on each entity's write, never re-read; the
    # state is read without a schema-inference job and merged with one
    # shuffle: a re-run fires two jobs per entity (the merge's shuffle
    # stage, the write), 12 in all
    before = ungrouped_jobs(spark)
    with job_group(spark, "silver-rerun") as job_ids:
        out = medallion.run_silver(spark, dirty["raw"], dirty["wh"], "2026-02-15")
        jobs = job_ids()
    assert 0 < len(jobs) <= 14, len(jobs)
    assert ungrouped_jobs(spark) - before == set()
    assert out == dirty["silver"], "replaying the same feed is a no-op"


def test_missing_raw_file_fails_run_silver(spark, dirty, tmp_path):
    raw = tmp_path / "raw"
    raw.mkdir()
    for spec in medallion.ENTITIES.values():
        if spec.name != "vitals":
            src = os.path.join(dirty["raw"], spec.file_name)
            (raw / spec.file_name).write_bytes(open(src, "rb").read())
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        medallion.run_silver(spark, str(raw), str(tmp_path / "wh"), D1)
