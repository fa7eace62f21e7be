"""Index-materialization policy for self-joined operators.

The banded dedup / ANN operators all share one physical-plan hazard,
found in round 7: a self-join's two branches do NOT reuse their common
input subtree once AQE replaces the sort-merge join with a one-side
broadcast (the ReusedExchange rewrite keys on Exchange nodes that the
broadcast plan no longer contains), so every branch silently re-runs
the full index-build pipeline.  Materializing the index once —
"build the index once, probe many", the shape every LSH/IVF system
uses — removed 6-7x of redundant work at 10x data.

HOW to materialize is one session-wide policy, read from the frame's
session on every call, so one setting covers every operator::

    spark.conf.set("spark.graft.materialize", "persist")

``"eager"`` (default, key unset)
    ``localCheckpoint(eager=True)`` — the fastest path and the one all
    benchmarks/oracles run.  Costs: a Spark job fires at
    plan-CONSTRUCTION time (callers that never execute the plan still
    pay), and lineage is truncated with the blocks held in
    non-replicated executor storage — on a real cluster an executor
    loss FAILS the query instead of recomputing.  Right for
    interactive/benchmark work and short-lived jobs.

``"persist"``
    ``persist(StorageLevel.MEMORY_AND_DISK)`` + an eager ``count()``.
    Lineage is retained, so an executor loss recomputes the lost
    blocks instead of failing — the fault-tolerant choice for long
    multi-hour jobs on preemptible hardware.  Still pays the
    construction-time job.  An operator that supersedes one of its
    own persisted intermediates (a training step's vocabulary, a
    sample whose centroids are collected) frees it with
    :func:`release` once the successor is materialized; the caller
    owns ``unpersist()`` (or ``spark.catalog.clearCache()``) of what
    an operator returns if the session lives on.

``"lazy"``
    No materialization.  Construction is free; the caller either
    accepts branch recomputation or persists/checkpoints the result
    frame itself (e.g. to chain several operators over one shared
    index).

The policy is physical only: every value returns the same rows.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame

CONF_KEY = "spark.graft.materialize"

EAGER = "eager"
PERSIST = "persist"
LAZY = "lazy"

MODES = (EAGER, PERSIST, LAZY)


def materialize(df: DataFrame) -> DataFrame:
    """Materialize an operator-internal index per the session's policy."""
    mode = df.sparkSession.conf.get(CONF_KEY, EAGER)
    if mode == EAGER:
        return df.localCheckpoint()
    if mode == PERSIST:
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        df.count()
        return df
    if mode == LAZY:
        return df
    raise ValueError(
        f"unknown materialize mode {mode!r} in {CONF_KEY}: "
        f"expected one of {MODES}"
    )


def release(df: DataFrame) -> None:
    """Free a frame :func:`materialize` persisted, once nothing still
    reads its blocks: ``unpersist()`` under ``persist``, nothing under
    ``eager`` and ``lazy``.  A frame whose lineage runs through the
    released one stays correct; it recomputes instead of reading."""
    if df.sparkSession.conf.get(CONF_KEY, EAGER) == PERSIST:
        df.unpersist()
