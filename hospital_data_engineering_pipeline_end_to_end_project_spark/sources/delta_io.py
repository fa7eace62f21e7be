"""Delta Lake storage path (import-guarded).

The reference's entire at-rest layer is Delta: ``DeltaTable.forName(
...).merge(...)`` (``Silver Layer.py:84-118``), ``format("delta")
.saveAsTable`` (``Silver Layer.py:120``, ``Gold Layer.py:51``) and
``option("overwriteSchema", "true")`` rewrites (``Gold Layer.py:154``).
This module provides the equivalent path-based Delta backend for
:class:`~..plans.medallion.SilverStore` when ``delta-spark`` is
importable; the pure-Parquet rename-swap store remains the default
(and the only runnable backend in containers without delta-spark).

Everything here uses only the public delta-spark API
(``delta.tables.DeltaTable``; the two well-known session confs from
``delta.pip_utils.configure_spark_with_delta_pip``).

Why MERGE instead of recompute-and-overwrite: the Parquet backend
rewrites |current| + |history| every batch.  Delta's MERGE commits
only rewritten files through the transaction log — at 100 TB of
accumulated history the per-batch cost stays proportional to the
touched partitions, and the swap is atomic (the Parquet path's
documented rename window disappears).

The SCD2-over-MERGE shape is the classic *staged union* idiom (one
MERGE both expires the old version and inserts the new one — the
reference's single ``whenMatchedUpdate`` merge is "half-SCD2", it
expires but never re-inserts, SURVEY 2.6):

- stage 1: every batch row, carrying its business key for matching;
- stage 2: only batch rows that change an existing current row,
  carrying a ``__match = false`` flag so they can never match and
  always insert the new version.

Null business keys are handled with an explicit match flag + ``<=>``
rather than the usual NULL-mergekey trick, which would false-match
state rows whose key is genuinely NULL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hospital_data_engineering_pipeline_end_to_end_project_spark.operators import scd2

try:  # pragma: no cover - exercised only where delta-spark is installed
    from delta.tables import DeltaTable

    DELTA_AVAILABLE = True
except ImportError:  # pragma: no cover
    DeltaTable = None
    DELTA_AVAILABLE = False

#: Session confs required for the Delta path (public knowledge — the
#: same pair ``configure_spark_with_delta_pip`` injects).
DELTA_SESSION_CONFS = {
    "spark.sql.extensions": "io.delta.sql.DeltaSparkSessionExtension",
    "spark.sql.catalog.spark_catalog": (
        "org.apache.spark.sql.delta.catalog.DeltaCatalog"
    ),
}

_MATCH = "__match"


def merge_match_condition(
    spec: "scd2.Scd2Spec", partition_filter: str | None = None
) -> str:
    """The MERGE match condition for the staged-union SCD2 idiom —
    pure string construction, factored out so the condition shape
    (staged flag, current-row guard, optional partition predicate,
    null-safe key equality) is testable without delta-spark on the
    path (``tests/test_delta_store.py``)."""
    cond = f"staged.{_MATCH} AND s.{scd2.CURRENT}"
    if partition_filter is not None:
        cond += f" AND ({partition_filter})"
    for k in spec.keys:
        cond += f" AND s.{k} <=> staged.{k}"
    return cond


def merge_changed_condition(tracked: list[str]) -> str:
    """Null-safe any-attribute-changed predicate for the
    ``whenMatchedUpdate`` branch: the negation of the
    ``<=>`` conjunction ``operators/scd2.merge`` tests each state row
    against its key's winner with."""
    return " OR ".join(f"NOT (s.{c} <=> staged.{c})" for c in tracked) or "false"


def require_delta() -> None:
    if not DELTA_AVAILABLE:
        raise ImportError(
            "state_format='delta' requires the delta-spark package "
            "(pip install delta-spark) and a session configured with "
            "delta_io.DELTA_SESSION_CONFS; falling back is explicit — "
            "construct the store with state_format='parquet'."
        )


def is_delta_table(spark: SparkSession, path: str) -> bool:
    require_delta()
    return DeltaTable.isDeltaTable(spark, path)


def read_delta(spark: SparkSession, path: str) -> DataFrame:
    require_delta()
    return spark.read.format("delta").load(path)


def write_delta(df: DataFrame, path: str, overwrite_schema: bool = True) -> None:
    """Atomic overwrite through the Delta log (parity:
    ``Gold Layer.py:153-156`` with ``overwriteSchema`` — the
    reference's only schema-evolution escape hatch)."""
    require_delta()
    (
        df.write.format("delta")
        .mode("overwrite")
        .option("overwriteSchema", str(overwrite_schema).lower())
        .save(path)
    )


def scd2_delta_merge(
    spark: SparkSession,
    path: str,
    batch: DataFrame,
    spec: scd2.Scd2Spec,
    processing_date: str,
    partition_filter: str | None = None,
) -> None:
    """Full SCD2 via ONE Delta MERGE (staged-union idiom).

    Parity target: ``Silver Layer.py:84-118`` — with the reference's
    three merge defects fixed exactly as the DataFrame engine fixes
    them (``operators/scd2.py``): the new version IS inserted, change
    detection is null-safe, and the batch is deduped first so a key
    can never multiple-match.

    ``partition_filter`` — optional SQL predicate over the TARGET's
    partition columns, written against the target alias ``s`` (e.g.
    ``"s.region = 'EUROPE'"``), ANDed into the match condition (the
    documented Delta merge-pruning idiom: a literal partition
    predicate on the target side lets the engine skip untouched
    partition files entirely).  Same caller-owed contract as
    ``operators/scd2.py:merge``: every current row whose key appears
    in the batch must satisfy it.
    """
    require_delta()
    entity_cols = list(batch.columns)
    tracked = spec.tracked or [c for c in entity_cols if c not in spec.keys]

    staged_new = scd2.stamp(scd2.dedupe_batch(batch, spec), processing_date)

    tgt = DeltaTable.forPath(spark, path)
    # the staging probe reads the same bounded partition set (the
    # alias-s predicate re-targets the bare frame via alias "s")
    current = tgt.toDF().alias("s").filter(F.col(scd2.CURRENT))
    if partition_filter is not None:
        current = current.filter(F.expr(partition_filter))
    current = current.alias("old")

    changed = F.lit(False)
    for c in tracked:
        changed = changed | ~F.col(f"old.{c}").eqNullSafe(F.col(f"new.{c}"))
    key_eq = F.lit(True)
    for k in spec.keys:
        key_eq = key_eq & F.col(f"old.{k}").eqNullSafe(F.col(f"new.{k}"))

    # batch rows that will expire an existing current version; their
    # re-insert copy must never match (``__match = false``)
    to_reinsert = (
        staged_new.alias("new")
        .join(current, key_eq & changed, "left_semi")
        .withColumn(_MATCH, F.lit(False))
    )
    staged = staged_new.withColumn(_MATCH, F.lit(True)).unionByName(to_reinsert)

    match_cond = merge_match_condition(spec, partition_filter)
    changed_sql = merge_changed_condition(tracked)

    insert_values = {c: f"staged.{c}" for c in entity_cols + list(scd2.META_COLS)}
    (
        tgt.alias("s")
        .merge(staged.alias("staged"), match_cond)
        .whenMatchedUpdate(
            condition=changed_sql,
            set={
                scd2.END: f"CAST('{processing_date}' AS DATE)",
                scd2.CURRENT: "false",
            },
        )
        .whenNotMatchedInsert(values=insert_values)
        .execute()
    )
