"""Bronze -> Silver medallion pipeline.

One declarative :class:`EntitySpec` per raw source replaces the
reference's six copy-pasted notebook blocks (``Silver Layer.py`` is
one ~110-line block per entity).  Each run is parameterized by
``processing_date`` (the reference stamps wall-clock ``current_date()``
at ``Silver Layer.py:74`` — untestable and non-replayable).

Fixes folded in per SURVEY 2.6: ``doctor_id`` kept on admissions and
``patient_id`` kept on billing (the reference drops both, which
permanently skips two Gold facts); billing amount errors become NULL
(not 0.0) so aggregates aren't silently deflated; vitals'
``patient_id`` is not scrubbed against a temperature marker.

Scale notes: every transform is a Column-expression chain (whole-stage
codegen, no Python row path).  The SCD2 state swap is
write-new/rename, so merge cost is |current| + |batch| regardless of
history size; at 100 TB you would point ``state_format="delta"`` at a
Delta table and the same specs drive ``MERGE`` instead.
"""

from __future__ import annotations

import functools
import os
import shutil
import uuid
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from hospital_data_engineering_pipeline_end_to_end_project_spark.functions import cleanse
from hospital_data_engineering_pipeline_end_to_end_project_spark.operators import scd2
from hospital_data_engineering_pipeline_end_to_end_project_spark.operators.parallelism import (
    run_concurrently,
)
from hospital_data_engineering_pipeline_end_to_end_project_spark.sources import delta_io, schemas
from hospital_data_engineering_pipeline_end_to_end_project_spark.sources.readers import (
    CORRUPT_COL,
    read_csv,
    read_ndjson,
    read_parquet,
)
from hospital_data_engineering_pipeline_end_to_end_project_spark.sources.writers import (
    write_observed,
)


@dataclass
class EntitySpec:
    name: str
    file_name: str
    fmt: str  # "csv" | "ndjson"
    schema: object
    keys: list[str]
    transform: Callable[[DataFrame], DataFrame]
    order_by: list[str] = field(default_factory=list)
    #: money-valued columns, castable to DECIMAL(12,2) in money mode
    money_cols: tuple[str, ...] = ()

    @property
    def scd2(self) -> scd2.Scd2Spec:
        return scd2.Scd2Spec(keys=self.keys, order_by=self.order_by)


# -- per-entity cleanse chains (parity citations inline) ---------------

def _patients(df: DataFrame) -> DataFrame:
    # Silver Layer.py:399-416: gender domain, age cast, phone scrub
    return df.select(
        "patient_id",
        "first_name",
        "last_name",
        cleanse.domain_filter("gender", ["M", "F", "O"]).alias("gender"),
        cleanse.clean_cast("age", "int").alias("age"),
        F.when(F.trim(F.col("email")) == "", None)
        .otherwise(F.trim(F.col("email")))
        .alias("email"),
        cleanse.regex_scrub_cast("phone", "string", r"[^0-9]").alias("phone"),
        "city",
    )


def _doctors(df: DataFrame) -> DataFrame:
    # Silver Layer.py:297-303: experience_years EXP_ERR-aware cast
    return df.select(
        "doctor_id",
        "first_name",
        "last_name",
        F.trim("speciality").alias("speciality"),
        cleanse.clean_cast("experience_years", "int").alias("experience_years"),
    )


def _admissions(df: DataFrame) -> DataFrame:
    # Silver Layer.py:26-69; keeps doctor_id (reference drops it)
    adm = cleanse.clean_cast("admission_date", "date")
    dis = cleanse.date_order_rule(adm, cleanse.clean_cast("discharge_date", "date"))
    return df.select(
        "admission_id",
        "patient_id",
        "doctor_id",
        adm.alias("admission_date"),
        dis.alias("discharge_date"),
        cleanse.normalize_label("reason").alias("reason"),
        cleanse.clean_cast("room_no", "int").alias("room_no"),
    )


def _vitals(df: DataFrame) -> DataFrame:
    # Silver Layer.py:590-610
    return df.select(
        "vital_id",
        "patient_id",
        cleanse.clean_cast("temperature", "double").alias("temperature"),
        cleanse.clean_cast("heart_rate", "int").alias("heart_rate"),
        cleanse.clean_cast("timestamp", "timestamp").alias("measured_at"),
    )


def _procedures(df: DataFrame) -> DataFrame:
    # Silver Layer.py:507-517
    return df.select(
        "procedure_id",
        "patient_id",
        F.trim("procedure_name").alias("procedure_name"),
        cleanse.clean_cast("cost", "double").alias("cost"),
        cleanse.clean_cast("performed_at", "timestamp").alias("performed_at"),
    )


def _billing(df: DataFrame) -> DataFrame:
    # Silver Layer.py:151-198: explode line_items, scrub-cast amount;
    # keeps patient_id (reference drops it); errors -> NULL, not 0.0
    return df.select(
        "billing_id",
        "patient_id",
        F.explode("line_items").alias("line_item"),
        "total",
        "billing_date",
    ).select(
        "billing_id",
        "patient_id",
        F.col("line_item.service").alias("service"),
        cleanse.regex_scrub_cast(F.col("line_item.amount"), "double").alias("amount"),
        cleanse.clean_cast("total", "double").alias("total"),
        cleanse.clean_cast("billing_date", "date").alias("billing_date"),
    )


ENTITIES: dict[str, EntitySpec] = {
    "patients": EntitySpec(
        "patients", "patients_raw.csv", "csv", schemas.PATIENTS_RAW,
        ["patient_id"], _patients,
    ),
    "doctors": EntitySpec(
        "doctors", "doctors_raw.csv", "csv", schemas.DOCTORS_RAW,
        ["doctor_id"], _doctors,
    ),
    "admissions": EntitySpec(
        "admissions", "admissions_raw.csv", "csv", schemas.ADMISSIONS_RAW,
        ["admission_id"], _admissions,
    ),
    "vitals": EntitySpec(
        "vitals", "vitals_raw.json", "ndjson", schemas.VITALS_RAW,
        ["vital_id"], _vitals,
    ),
    "procedures": EntitySpec(
        "procedures", "procedures_raw.json", "ndjson", schemas.PROCEDURES_RAW,
        ["procedure_id"], _procedures, money_cols=("cost",),
    ),
    # composite key: one SCD2 version stream per bill line
    # (Silver Layer.py:230-234)
    "billing": EntitySpec(
        "billing", "billing_raw.json", "ndjson", schemas.BILLING_RAW,
        ["billing_id", "service"], _billing, money_cols=("amount", "total"),
    ),
}


def _state_aggs() -> dict[str, Column]:
    """The state audit aggregates: all versions, current versions."""
    return {"rows": F.count(F.lit(1)), "current": F.count_if(F.col(scd2.CURRENT))}


class SilverStore:
    """Versioned SCD2 state store, one directory per entity.

    Two backends, selected by ``state_format``:

    - ``"parquet"`` (default, always available): ``apply_batch``
      computes the full new state DataFrame and swaps it in via
      write-new/rename (documented non-atomicity of the OSS-parquet
      path; merge cost is |current| + |batch| in compute but the
      write rewrites the whole state).
    - ``"delta"`` (requires ``delta-spark``; parity with the
      reference's at-rest layer, ``Silver Layer.py:84-120``):
      ``apply_batch`` runs one in-place Delta ``MERGE`` — atomic
      through the transaction log, and the write cost scales with the
      touched files, not |history|.  Raises ``ImportError`` with an
      actionable message when delta-spark isn't installed.
    """

    def __init__(self, spark: SparkSession, root: str, state_format: str = "parquet"):
        if state_format not in ("parquet", "delta"):
            raise ValueError(f"unknown state_format: {state_format!r}")
        if state_format == "delta":
            delta_io.require_delta()
        self.spark = spark
        self.root = root
        self.state_format = state_format

    def path(self, entity: str) -> str:
        return os.path.join(self.root, "silver", entity)

    def exists(self, entity: str) -> bool:
        if self.state_format == "delta":
            return delta_io.is_delta_table(self.spark, self.path(entity))
        return os.path.exists(os.path.join(self.path(entity), "_SUCCESS"))

    def read(self, entity: str) -> DataFrame:
        if self.state_format == "delta":
            return delta_io.read_delta(self.spark, self.path(entity))
        return read_parquet(self.spark, self.path(entity))

    #: epoch marker file inside the state directory — ``_``-prefixed
    #: so Spark's parquet reader ignores it like ``_SUCCESS``
    EPOCH_FILE = "_applied_batch"

    def _state_counts(self, entity: str) -> dict[str, int]:
        """``{"rows", "current"}`` of a stored state in one aggregate
        job (the delta backend's audit: a MERGE has no written
        DataFrame to observe)."""
        aggs = [c.alias(k) for k, c in _state_aggs().items()]
        return self.read(entity).agg(*aggs).first().asDict()

    def write(
        self, entity: str, df: DataFrame, applied_batch: int | None = None
    ) -> dict[str, int]:
        """Swap in a new state and return its ``{"rows", "current"}``
        counts.  On the parquet backend they are observed on the write
        job itself; the delta backend aggregates the committed table.

        With ``applied_batch`` the batch id is
        written INSIDE the new state directory before the rename, so
        state and epoch publish in the same atomic step (the streaming
        ledger's crash-window closure — see
        ``streaming/ingest.make_scd2_batch_merger``).  On the delta
        backend the epoch file lands beside the table after the
        commit (non-atomic; real deployments put the batch id in the
        transaction's ``txnAppId``/``txnVersion`` instead)."""
        target = self.path(entity)
        if self.state_format == "delta":
            delta_io.write_delta(df, target)
            if applied_batch is not None:
                with open(os.path.join(target, self.EPOCH_FILE), "w") as fh:
                    fh.write(str(applied_batch))
            return self._state_counts(entity)
        tmp = f"{target}.tmp-{uuid.uuid4().hex[:8]}"
        counts = write_observed(
            df, lambda d: d.write.mode("overwrite").parquet(tmp), **_state_aggs()
        )
        if applied_batch is not None:
            with open(os.path.join(tmp, self.EPOCH_FILE), "w") as fh:
                fh.write(str(applied_batch))
        if os.path.exists(target):
            shutil.rmtree(target)
        os.replace(tmp, target)
        return counts

    def last_applied(self, entity: str) -> int | None:
        """Batch id committed WITH the current state, or None if the
        state predates the epoch marker / doesn't exist."""
        p = os.path.join(self.path(entity), self.EPOCH_FILE)
        try:
            with open(p) as fh:
                return int(fh.read().strip())
        except (OSError, ValueError):
            return None

    def apply_batch(
        self,
        spec: EntitySpec,
        batch: DataFrame,
        processing_date: str,
    ) -> dict[str, int]:
        """SCD2-merge one cleansed batch into the entity's state;
        returns the new state's ``{"rows", "current"}`` counts."""
        if not self.exists(spec.name):
            return self.write(
                spec.name, scd2.initial_load(batch, spec.scd2, processing_date)
            )
        if self.state_format == "delta":
            delta_io.scd2_delta_merge(
                self.spark, self.path(spec.name), batch, spec.scd2, processing_date
            )
            return self._state_counts(spec.name)
        return self.write(
            spec.name,
            scd2.merge(self.read(spec.name), batch, spec.scd2, processing_date),
        )


def read_bronze(spark: SparkSession, raw_dir: str, spec: EntitySpec) -> DataFrame:
    path = os.path.join(raw_dir, spec.file_name)
    if spec.fmt == "csv":
        return read_csv(spark, path, spec.schema)
    return read_ndjson(spark, path, spec.schema)


def run_silver_entity(
    spark: SparkSession,
    raw_dir: str,
    store: SilverStore,
    spec: EntitySpec,
    processing_date: str,
    money_mode: bool = False,
) -> dict[str, int]:
    """Bronze -> cleanse -> SCD2 merge for one entity.

    ``money_mode=True`` casts the spec's declared money columns to
    DECIMAL(12,2) after the cleanse chain (SURVEY 7.0: exact,
    associative currency arithmetic instead of the reference's
    doubles; doubles remain the default for reference parity).

    Mirrors the reference's per-entity flow (SURVEY 3.2).  There is no
    separate dedupe step: the reference drops exact duplicate rows
    (``Silver Layer.py:175``), and the SCD2 load and merge already keep
    one latest-wins row per business key, which covers them.  Every
    returned count is observed (``DataFrame.observe``) on the one job
    that writes the new state: ``rows``/``current`` on the written
    frame, ``quarantined`` on the bronze scan above the
    ``_corrupt_record`` filter.  Nothing is cached and the output is
    not re-read (the reference recomputes full lineage for its audit
    count, ``Silver Layer.py:125``).  On the delta backend
    ``rows``/``current`` come from one aggregate over the merged table.
    """
    quarantine = Observation()
    bronze = read_bronze(spark, raw_dir, spec).observe(
        quarantine, F.count_if(F.col(CORRUPT_COL).isNotNull()).alias("quarantined")
    )
    clean_in = bronze.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)

    batch = spec.transform(clean_in)
    if money_mode:
        for c in spec.money_cols:
            batch = batch.withColumn(c, F.col(c).cast("decimal(12,2)"))
    batch = cleanse.require_keys(batch, spec.keys)

    counts = store.apply_batch(spec, batch, processing_date)
    return {**counts, **quarantine.get}


def run_silver(
    spark: SparkSession,
    raw_dir: str,
    warehouse: str,
    processing_date: str,
    state_format: str = "parquet",
    money_mode: bool = False,
) -> dict[str, dict[str, int]]:
    """Load every entity into Silver; the six entity pipelines are
    independent and run concurrently (:func:`run_concurrently`).
    Returns ``{entity: {"rows", "current", "quarantined"}}`` in
    ``ENTITIES`` order."""
    store = SilverStore(spark, warehouse, state_format=state_format)
    return run_concurrently(
        spark,
        {
            name: functools.partial(
                run_silver_entity,
                spark, raw_dir, store, spec, processing_date, money_mode=money_mode,
            )
            for name, spec in ENTITIES.items()
        },
    )
