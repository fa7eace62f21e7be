"""Adaptive pre-expansion parallelism, and concurrent pipelines.

Row-expanding operators (word shingling is a ~50x explode, per-token
hashing, per-pair scoring) do their heavy expression work in the stage
that CONTAINS the expansion — for a compact input that is the scan
stage itself.  A small parquet table arrives as ONE file split, so the
whole expansion serializes on one core while 31 sit idle: measured on
the sf0.1 documents table (5k docs -> 250k shingles), MinHash banding
spent ~2 s in a single-task stage.

:func:`fan_out` is the guard the expansion operators place in front of
their explode: repartition round-robin to the session's shuffle
parallelism ONLY when the current plan has fewer partitions.  On a
large input (100 TB = tens of thousands of file splits) the condition
is false and the call is a literal no-op — no extra Exchange ever
appears in the at-scale plan, preserving the scan-stage pushdowns.

Round-robin is safe for these callers because every downstream result
is partition-layout-invariant (keyed aggregations / equi-joins over the
exploded rows), and Spark's indeterminate-stage rollback re-runs the
full stage set on fetch-failure retry.

:func:`run_concurrently` is the job-level counterpart: independent
pipelines of small jobs (the six Silver entities, the Gold tables)
submitted from one thread each, labelled with the caller's job group.
"""

from __future__ import annotations

from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from typing import TypeVar

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession

T = TypeVar("T")


def run_concurrently(
    spark: SparkSession, tasks: dict[str, Callable[[], T]]
) -> dict[str, T]:
    """Run independent Spark pipelines at the same time, one Python
    thread each, and return their results in the order of ``tasks``.

    A pipeline of small writes spends most of its time on per-job work
    (planning, scheduling, commit) while each job runs only 1-2 tasks.
    Submitting the pipelines together overlaps one pipeline's per-job
    work with another's tasks.  The pool has one thread per task, so
    there is nothing to tune.

    Each thread target is wrapped with ``inheritable_thread_target``
    (pinned-thread mode, PySpark's default), so the caller's local
    properties — job group, description, scheduler pool — and session
    tags label every job a pipeline fires.  If a task raises, the
    exception of the first failing task in ``tasks`` order is re-raised
    after every task has finished."""
    inherit = inheritable_thread_target(spark)
    with ThreadPoolExecutor(max_workers=len(tasks)) as pool:
        futures = {name: pool.submit(inherit(fn)) for name, fn in tasks.items()}
        # leaving the block waits for every task, so no pipeline is
        # still writing when an exception propagates
    return {name: f.result() for name, f in futures.items()}


def fan_out(
    df: DataFrame,
    min_partitions: int | None = None,
    by: str | None = None,
) -> DataFrame:
    """Repartition ``df`` up to the session's shuffle parallelism (or
    ``min_partitions``) — a no-op whenever the plan already has at
    least that many partitions, so it never adds an Exchange at scale.
    Call it on the PROJECTED input (id + payload columns only) so the
    balancing shuffle ships the minimum bytes.

    When the expansion feeds a ``groupBy(key)`` (explode-aggregate
    operators), pass ``by=key``: hash partitioning on the key both
    balances the work AND pre-clusters the groups, so the partial
    aggregation dedups fully and Catalyst elides the post-explode
    exchange (hashpartitioning(key) already satisfies the aggregate's
    required distribution).  Round-robin (the default) would scatter
    each group over every partition — for a wide aggregate that
    multiplies partial-agg shuffle rows by the partition count.
    ``by`` must be well-distributed (a unique-ish id, never a hot
    key)."""
    target = min_partitions or int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    if df.rdd.getNumPartitions() >= target:
        return df
    if by is not None:
        return df.repartition(target, by)
    return df.repartition(target)
