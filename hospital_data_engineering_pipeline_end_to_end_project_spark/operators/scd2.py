"""SCD Type-2 merge engine.

The reference's centerpiece is a per-entity Delta ``MERGE`` repeated
six times (``Silver Layer.py:79-120,221-263,318-365,431-475,532-559,
626-653``) with known semantic defects (SURVEY.md 2.6): it expires a
changed row but never inserts the new version ("half-SCD2"), uses
null-unsafe ``!=`` change predicates, and can throw on duplicate
business keys in a batch.

This engine implements *full* SCD2 on vanilla Spark DataFrames:

- expire AND insert the new current version in one pass;
- null-safe change detection (``NOT (a <=> b)``);
- composite business keys (billing's ``billing_id + service``,
  ``Silver Layer.py:230-234``);
- deterministic latest-wins batch dedupe inside the merge, so
  duplicate keys in a batch cannot fan out;
- injected ``processing_date`` (the reference stamps wall-clock
  ``current_date()``, ``Silver Layer.py:74`` — untestable);
- idempotent re-runs: replaying an identical batch is a no-op.

Physical shape (designed for 100 TB state): one shuffle on the
business key.  The stamped batch and the current state rows are
unioned and run through one key-partitioned window (one Exchange, one
sort); the batch dedupe, the match and the change test all read that
sorted partition, and every row leaves through one select with a
per-row CASE — kept, expired, inserted or dropped.  No join, no
``explode``, no second pass over the batch.  History rows
(``is_current = false``) never enter the window: they are
filter-partition-pruned and unioned back untouched, so merge cost
scales with |current| + |batch|, not |history|.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

EFFECTIVE = "effective_date"
END = "end_date"
CURRENT = "is_current"
META_COLS = (EFFECTIVE, END, CURRENT)

# merge-internal columns: union side (0 batch, 1 state), rank in the
# key's window, prefix of the key's first-row values, "a state row
# equals the winner"
_SIDE, _RANK, _FIRST, _UNCHANGED = "__side", "__rank", "__first_", "__unchanged"


@dataclass
class Scd2Spec:
    """Declarative merge spec for one entity."""

    keys: list[str]
    #: attributes whose change triggers a new version; default = every
    #: non-key, non-metadata column
    tracked: list[str] | None = None
    #: deterministic within-batch ordering; highest wins the dedupe
    order_by: list[str] = field(default_factory=list)


def _stamp_cols(processing_date: str) -> dict[str, Column]:
    return {
        EFFECTIVE: F.lit(processing_date).cast("date"),
        END: F.lit(None).cast("date"),
        CURRENT: F.lit(True),
    }


def stamp(batch: DataFrame, processing_date: str) -> DataFrame:
    """Add SCD2 metadata columns (parity: ``Silver Layer.py:74-76``,
    with an injected date instead of ``current_date()``)."""
    return batch.withColumns(_stamp_cols(processing_date))


def _q(name: str) -> str:
    """A column name as a quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def _latest_wins(columns: list[str], spec: Scd2Spec) -> list[str]:
    """Latest-wins sort columns, each sorted desc nulls last:
    ``order_by`` first, then every remaining non-key column as a
    total tiebreak."""
    non_key = [c for c in columns if c not in spec.keys]
    return spec.order_by + [c for c in non_key if c not in spec.order_by]


def dedupe_batch(batch: DataFrame, spec: Scd2Spec) -> DataFrame:
    """Latest-wins dedupe by business key (:func:`_latest_wins`).

    The reference merges raw batches and can hit Delta's
    multiple-match error (SURVEY 7.3).  :func:`merge` makes the same
    choice inside its own window.
    """
    order_cols = _latest_wins(batch.columns, spec)
    if not order_cols:
        return batch.dropDuplicates(spec.keys)
    w = Window.partitionBy(*spec.keys).orderBy(
        *[F.col(c).desc_nulls_last() for c in order_cols]
    )
    return (
        batch.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def initial_load(batch: DataFrame, spec: Scd2Spec, processing_date: str) -> DataFrame:
    """First load: dedupe + stamp (parity: create path,
    ``Silver Layer.py:119-120``)."""
    return stamp(dedupe_batch(batch, spec), processing_date)


def merge(
    state: DataFrame,
    batch: DataFrame,
    spec: Scd2Spec,
    processing_date: str,
    partition_filter: Column | str | None = None,
) -> DataFrame:
    """Full SCD2 merge of a new batch into versioned state.

    Returns the complete new state (history + current).  ``state``
    must carry the metadata columns; ``batch`` must not.

    The stamped batch (side 0) and the in-scope current rows (side 1)
    are unioned and windowed by business key, batch rows first in
    latest-wins order, so the key's first row is the batch winner
    (the :func:`dedupe_batch` choice).  Every union row then emits at
    most one row:

    - the winner is inserted unless an in-scope current row of its
      key already carries its tracked values (new or changed key);
    - the other batch rows of the key are dropped (in-batch dupes);
    - a state row is expired when its key has a winner with other
      tracked values, and kept as it is otherwise.

    Each state row is emitted exactly once, also from a state that
    holds several current rows for one key: each of them that differs
    from the key's winner is expired.

    ``partition_filter`` — optional predicate (Column or SQL string)
    bounding which CURRENT rows the batch can possibly match; rows
    outside it bypass the window untouched, exactly like history rows.
    When ``state`` is read from a partitioned source and the predicate
    references partition columns, it reaches the scan as a
    PartitionFilter (asserted by ``tests/test_plan_contracts.py``) —
    so a batch touching a few partitions reads a few partitions, not
    the full current set (the SURVEY §7.3 scale risk; the Gold side's
    ``refresh_fact_partitions`` is the same idea for facts).
    CORRECTNESS CONTRACT, caller-owed: every current row whose
    business key appears in the batch must satisfy the predicate —
    a matching row outside it is invisible to change detection, so
    the merge would insert a duplicate current version.  Predicates
    evaluating NULL count as out-of-scope (the row bypasses, nothing
    is lost).
    """
    entity_cols = list(batch.columns)
    tracked = spec.tracked or [c for c in entity_cols if c not in spec.keys]
    entity_sql = [_q(c) for c in entity_cols]
    out_cols = entity_sql + [_q(c) for c in META_COLS]

    # expressions are SQL text, one JVM call each: the same trees built
    # with the Column API take a call per node, 1-3 ms apiece on the
    # driver, which made up most of a small merge's build time
    in_scope = F.expr(_q(CURRENT))
    bypass = F.expr(f"NOT {_q(CURRENT)}")
    if partition_filter is not None:
        pf = (
            F.expr(partition_filter)
            if isinstance(partition_filter, str)
            else partition_filter
        )
        # NULL-evaluating predicates must land in exactly one branch:
        # coalesce to false -> the row bypasses instead of vanishing
        pf = F.coalesce(pf, F.lit(False))
        in_scope = in_scope & pf
        bypass = bypass | ~pf
    history = state.filter(bypass).selectExpr(*out_cols)
    # the batch side carries a NULL effective date; the final select
    # sets it.  A date literal here would be inlined into the
    # generated classes of the batch's whole map side (Spark inlines
    # Date literals into the Java source), so every processing date
    # compiled them anew
    rows = batch.selectExpr(
        *entity_sql,
        f"CAST(NULL AS DATE) AS {EFFECTIVE}",
        f"CAST(NULL AS DATE) AS {END}",
        f"true AS {CURRENT}",
        f"0 AS {_SIDE}",
    ).unionByName(state.filter(in_scope).selectExpr(*out_cols, f"1 AS {_SIDE}"))

    # Window partitioning groups NULL keys together, so a NULL
    # business key is one logical entity (null-safe key matching)
    order = ", ".join(
        [_SIDE] + [f"{_q(c)} DESC NULLS LAST" for c in _latest_wins(entity_cols, spec)]
    )
    over = f"OVER (PARTITION BY {', '.join(map(_q, spec.keys))} ORDER BY {order}"
    # the key's first row, one column each: a struct built before the
    # window would be shuffled as a second copy of the tracked values
    first = {c: _q(_FIRST + c) for c in [_SIDE, *tracked]}
    # null-safe: NULL -> NULL is no change, NULL <-> value is one
    same_as_winner = " AND ".join(
        f"{_q(c)} <=> {first[c]}" for c in tracked
    ) or "true"
    expire = F.expr(f"{_SIDE} = 1 AND {first[_SIDE]} = 0 AND NOT ({same_as_winner})")

    rows = rows.withColumns(
        {
            _RANK: F.expr(f"row_number() {over})"),
            **{_FIRST + c: F.expr(f"first({_q(c)}) {over})") for c in first},
        }
    ).withColumn(
        _UNCHANGED,
        F.expr(
            f"max({_SIDE} = 1 AND {same_as_winner}) {over} "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)"
        ),
    )
    emitted = rows.filter(
        f"{_SIDE} = 1 OR ({_RANK} = 1 AND NOT {_UNCHANGED})"
    ).select(
        *map(F.expr, entity_sql),
        F.expr(
            f"CASE WHEN {_SIDE} = 0 THEN CAST('{processing_date}' AS DATE)"
            f" ELSE {_q(EFFECTIVE)} END AS {EFFECTIVE}"
        ),
        F.when(expire, F.lit(processing_date).cast("date"))
        .otherwise(F.expr(_q(END)))
        .alias(END),
        F.when(expire, F.lit(False)).otherwise(F.expr(_q(CURRENT))).alias(CURRENT),
    )
    return emitted.unionByName(history)


def pit_join(
    facts: DataFrame,
    state: DataFrame,
    keys: list[str],
    as_of_col: str,
) -> DataFrame:
    """Point-in-time join: each fact row picks the dimension version
    valid at its ``as_of_col`` date — the consumption pattern SCD2
    history exists for (the reference materializes only current-row
    dims, so historical facts silently join to today's attributes).

    Validity is ``effective_date <= as_of < end_date`` with an open
    end for current rows; on a version boundary day the NEW version
    wins (expiry is exclusive), matching the merge's same-day
    transition semantics.

    Physical shape: equi-join on the business key (one shuffle), the
    validity window as a residual predicate.  Per-key version counts
    are bounded by change frequency, so the pre-filter fan-out is
    |facts| x avg_versions — small — and AQE handles a hot key.
    """
    f = facts.alias("f")
    s = state.alias("s")
    cond = F.lit(True)
    for k in keys:
        cond = cond & (F.col(f"f.{k}") == F.col(f"s.{k}"))
    as_of = F.col(f"f.{as_of_col}")
    cond = (
        cond
        & (F.col(f"s.{EFFECTIVE}") <= as_of)
        & (F.col(f"s.{END}").isNull() | (as_of < F.col(f"s.{END}")))
    )
    state_cols = [
        F.col(f"s.{c}") for c in state.columns if c not in keys
    ]
    return f.join(s, cond).select("f.*", *state_cols)


def cdc_feed(state: DataFrame, keys: list[str], date: str) -> DataFrame:
    """Change-data-capture view of one merge day: what changed on
    ``date``, as (key, op, before_*, after_*) rows — the feed a
    downstream consumer (search index, cache, reverse ETL) subscribes
    to instead of diffing full snapshots.

    Derived purely from the SCD2 metadata: versions *effective* on
    ``date`` are the after-image, versions *expired* on ``date`` the
    before-image; a key with both is an ``update``, after-only is an
    ``insert``, before-only a ``delete`` (not produced by this
    engine's merge, but the feed supports consuming states that do).

    One shuffle (the key join) over only the rows stamped with that
    date — at 100 TB the effective/end date predicates prune to the
    day's delta, never the full history.
    """
    entity_cols = [c for c in state.columns if c not in keys and c not in META_COLS]
    after = state.filter(F.col(EFFECTIVE) == F.lit(date).cast("date")).alias("a")
    before = state.filter(F.col(END) == F.lit(date).cast("date")).alias("b")
    cond = F.lit(True)
    for k in keys:
        cond = cond & F.col(f"a.{k}").eqNullSafe(F.col(f"b.{k}"))
    joined = after.join(before, cond, "full_outer")
    has_after = F.col(f"a.{EFFECTIVE}").isNotNull()
    has_before = F.col(f"b.{END}").isNotNull()
    op = (
        F.when(has_after & has_before, F.lit("update"))
        .when(has_after, F.lit("insert"))
        .otherwise(F.lit("delete"))
    )
    out = [
        *[F.coalesce(F.col(f"a.{k}"), F.col(f"b.{k}")).alias(k) for k in keys],
        op.alias("op"),
    ]
    for c in entity_cols:
        out.append(F.col(f"b.{c}").alias(f"before_{c}"))
        out.append(F.col(f"a.{c}").alias(f"after_{c}"))
    return joined.select(*out)


def validate(state: DataFrame, spec: Scd2Spec) -> dict[str, int]:
    """SCD2 invariant check (SURVEY 5.5): at most one current row per
    key; ``end_date >= effective_date``; expired rows have an end
    date.  Returns violation counts (all zero when healthy).

    One job: a per-key aggregate counts each key's current rows and
    bad rows, and a global aggregate over it sums them."""
    per_key = state.groupBy(*spec.keys).agg(
        F.count_if(F.col(CURRENT)).alias("current"),
        F.count_if(F.col(END) < F.col(EFFECTIVE)).alias("bad_interval"),
        F.count_if(~F.col(CURRENT) & F.col(END).isNull()).alias("open_expired"),
    )
    totals = per_key.agg(
        F.count_if(F.col("current") > 1).alias("multi_current_keys"),
        F.sum("bad_interval").alias("end_before_effective"),
        F.sum("open_expired").alias("expired_without_end"),
    ).first()
    # sums over an empty state are NULL
    return {k: int(v or 0) for k, v in totals.asDict().items()}
