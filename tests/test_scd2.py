"""SCD2 state-machine tests (SURVEY 5.2): initial load, idempotent
replay, attribute change (expire + insert), new key, null transitions,
composite keys, within-batch duplicate keys."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from hospital_data_engineering_pipeline_end_to_end_project_spark.operators import scd2

D1, D2, D3 = "2026-01-01", "2026-02-01", "2026-03-01"


def _mkdf(spark, rows, cols=("pid", "city", "age")):
    if cols == ("pid", "city", "age"):
        return spark.createDataFrame(rows, "pid string, city string, age bigint")
    return spark.createDataFrame(rows, list(cols))


def _state_map(state):
    out = {}
    for r in state.collect():
        out.setdefault(r["pid"], []).append(r.asDict())
    return out


def test_initial_load_and_idempotent_replay(spark):
    spec = scd2.Scd2Spec(keys=["pid"])
    b1 = _mkdf(spark, [("p1", "Rome", 30), ("p2", "Oslo", 40)])
    s1 = scd2.initial_load(b1, spec, D1)
    assert s1.count() == 2
    assert s1.filter(F.col("is_current")).count() == 2

    s2 = scd2.merge(s1, b1, spec, D2)
    assert s2.count() == 2, "replaying an identical batch must be a no-op"
    assert s2.filter(F.col("effective_date") == D1).count() == 2
    assert scd2.validate(s2, spec) == {
        "multi_current_keys": 0,
        "end_before_effective": 0,
        "expired_without_end": 0,
    }


def test_change_expires_and_inserts_new_version(spark):
    spec = scd2.Scd2Spec(keys=["pid"])
    s1 = scd2.initial_load(_mkdf(spark, [("p1", "Rome", 30)]), spec, D1)
    s2 = scd2.merge(s1, _mkdf(spark, [("p1", "Rome", 31)]), spec, D2)

    rows = _state_map(s2)["p1"]
    assert len(rows) == 2, "full SCD2: expired old AND inserted new version"
    old = next(r for r in rows if not r["is_current"])
    new = next(r for r in rows if r["is_current"])
    assert old["age"] == 30 and old["end_date"] == dt.date(2026, 2, 1)
    assert new["age"] == 31 and new["effective_date"] == dt.date(2026, 2, 1)
    assert new["end_date"] is None


def test_new_key_and_absent_key(spark):
    spec = scd2.Scd2Spec(keys=["pid"])
    s1 = scd2.initial_load(_mkdf(spark, [("p1", "Rome", 30)]), spec, D1)
    s2 = scd2.merge(s1, _mkdf(spark, [("p9", "Kyiv", 20)]), spec, D2)
    m = _state_map(s2)
    assert m["p1"][0]["is_current"], "key absent from batch stays current"
    assert m["p9"][0]["effective_date"] == dt.date(2026, 2, 1)


def test_null_transition_detected(spark):
    # reference's != predicate misses null transitions (SURVEY 2.6)
    spec = scd2.Scd2Spec(keys=["pid"])
    s1 = scd2.initial_load(_mkdf(spark, [("p1", "Rome", 30)]), spec, D1)
    s2 = scd2.merge(s1, _mkdf(spark, [("p1", "Rome", None)]), spec, D2)
    assert len(_state_map(s2)["p1"]) == 2
    s3 = scd2.merge(s2, _mkdf(spark, [("p1", "Rome", None)]), spec, D3)
    assert len(_state_map(s3)["p1"]) == 2, "null -> null is not a change"


def test_composite_key(spark):
    # billing's composite billing_id + service (Silver Layer.py:230-234)
    spec = scd2.Scd2Spec(keys=["bid", "service"])
    cols = ("bid", "service", "amount")
    b1 = _mkdf(
        spark,
        [("b1", "ICU", 100.0), ("b1", "Surgery", 900.0)],
        cols,
    )
    s1 = scd2.initial_load(b1, spec, D1)
    b2 = _mkdf(
        spark,
        [("b1", "ICU", 150.0), ("b1", "Surgery", 900.0)],
        cols,
    )
    s2 = scd2.merge(s1, b2, spec, D2)
    assert s2.count() == 3, "only the changed service line gets versioned"
    icu = s2.filter((F.col("service") == "ICU") & F.col("is_current")).collect()[0]
    assert icu["amount"] == 150.0


def test_null_business_key_versions_correctly(spark):
    # presence-flag matching: a NULL key row is one logical entity
    # (eqNullSafe join), not perpetually re-inserted
    spec = scd2.Scd2Spec(keys=["pid"])
    s1 = scd2.initial_load(
        _mkdf(spark, [(None, "Rome", 30), ("p1", "Oslo", 40)]), spec, D1
    )
    assert s1.count() == 2
    s2 = scd2.merge(
        s1, _mkdf(spark, [(None, "Rome", 30), ("p1", "Oslo", 40)]), spec, D2
    )
    assert s2.count() == 2, "identical replay incl. null key is a no-op"
    s3 = scd2.merge(s2, _mkdf(spark, [(None, "Rome", 99)]), spec, D3)
    null_rows = [r for r in s3.collect() if r["pid"] is None]
    assert len(null_rows) == 2, "null-key change expires + inserts"
    assert sorted(r["is_current"] for r in null_rows) == [False, True]


def test_duplicate_keys_in_batch_deduped(spark):
    spec = scd2.Scd2Spec(keys=["pid"], order_by=["age"])
    b1 = _mkdf(spark, [("p1", "Rome", 30), ("p1", "Rome", 35)])
    s1 = scd2.initial_load(b1, spec, D1)
    assert s1.count() == 1
    assert s1.collect()[0]["age"] == 35, "latest-wins by order_by desc"


def test_pit_join_boundary_day_picks_new_version(spark):
    """On the transition day, expiry is exclusive and effectiveness is
    inclusive — the new version wins; dates strictly inside a window
    see that window's version."""
    state = spark.createDataFrame(
        [
            (1, "v1", "2026-01-01", "2026-02-01", False),
            (1, "v2", "2026-02-01", None, True),
        ],
        "k int, attr string, effective_date string, end_date string, is_current boolean",
    ).selectExpr(
        "k", "attr",
        "CAST(effective_date AS DATE) AS effective_date",
        "CAST(end_date AS DATE) AS end_date",
        "is_current",
    )
    facts = spark.createDataFrame(
        [(1, "2026-01-15"), (1, "2026-02-01"), (1, "2025-12-31")],
        "k int, d string",
    ).selectExpr("k", "CAST(d AS DATE) AS as_of")
    out = scd2.pit_join(facts, state, ["k"], "as_of")
    got = {str(r["as_of"]): r["attr"] for r in out.collect()}
    assert got == {"2026-01-15": "v1", "2026-02-01": "v2"}, (
        "boundary day -> v2; pre-history fact (2025-12-31) matches nothing"
    )


def test_cdc_feed_classifies_all_ops(spark):
    """insert (after only), update (both sides), delete (before only —
    consumable even though this engine's merge never emits one); rows
    from other dates stay out of the feed."""
    state = spark.createDataFrame(
        [
            # key 1: updated on D (v1 expired, v2 effective)
            (1, "old", "2026-01-01", "2026-02-01", False),
            (1, "new", "2026-02-01", None, True),
            # key 2: inserted on D
            (2, "born", "2026-02-01", None, True),
            # key 3: expired on D with no successor -> delete
            (3, "gone", "2026-01-01", "2026-02-01", False),
            # key 4: untouched on D
            (4, "idle", "2026-01-01", None, True),
        ],
        "k int, attr string, effective_date string, end_date string, is_current boolean",
    ).selectExpr(
        "k", "attr",
        "CAST(effective_date AS DATE) AS effective_date",
        "CAST(end_date AS DATE) AS end_date",
        "is_current",
    )
    feed = scd2.cdc_feed(state, ["k"], "2026-02-01")
    got = {r["k"]: (r["op"], r["before_attr"], r["after_attr"]) for r in feed.collect()}
    assert got == {
        1: ("update", "old", "new"),
        2: ("insert", None, "born"),
        3: ("delete", "gone", None),
    }


def test_partition_filter_merge_matches_unfiltered(spark):
    # when the contract holds (every current row keyed by the batch
    # satisfies the predicate), the partition-bounded merge must be
    # ROW-IDENTICAL to the unbounded one
    spec = scd2.Scd2Spec(keys=["pid"])
    init = spark.createDataFrame(
        [("p1", "EU", 30), ("p2", "AS", 40), ("p3", "EU", 50)],
        "pid string, region string, age bigint",
    )
    s1 = scd2.initial_load(init, spec, D1)
    batch = spark.createDataFrame(
        [("p1", "EU", 31)], "pid string, region string, age bigint"
    )
    plain = sorted(map(tuple, scd2.merge(s1, batch, spec, D2).collect()))
    pruned = sorted(
        map(
            tuple,
            scd2.merge(
                s1, batch, spec, D2,
                partition_filter=F.col("region") == "EU",
            ).collect(),
        )
    )
    assert pruned == plain
    # string predicates work too
    pruned_sql = sorted(
        map(
            tuple,
            scd2.merge(
                s1, batch, spec, D2, partition_filter="region = 'EU'"
            ).collect(),
        )
    )
    assert pruned_sql == plain


def test_partition_filter_null_predicate_rows_bypass(spark):
    # a current row where the predicate evaluates NULL must BYPASS the
    # join (count as out-of-scope) — never vanish from the state
    spec = scd2.Scd2Spec(keys=["pid"])
    init = spark.createDataFrame(
        [("p1", "EU", 30), ("p2", None, 40)],
        "pid string, region string, age bigint",
    )
    s1 = scd2.initial_load(init, spec, D1)
    batch = spark.createDataFrame(
        [("p1", "EU", 31)], "pid string, region string, age bigint"
    )
    out = scd2.merge(
        s1, batch, spec, D2, partition_filter=F.col("region") == "EU"
    )
    rows = _state_map(out)
    assert len(rows["p2"]) == 1 and rows["p2"][0]["is_current"], (
        "NULL-region row must survive untouched"
    )
    assert len(rows["p1"]) == 2
    assert scd2.validate(out, spec)["multi_current_keys"] == 0


def test_validate_counts_each_violation(spark):
    # one aggregate job, same dict: NULL keys group together, and a
    # key with three current rows counts once
    state = spark.createDataFrame(
        [
            (1, "a", "2026-01-01", None, True),
            (1, "b", "2026-01-02", None, True),
            (1, "c", "2026-01-03", None, True),
            (None, "x", "2026-01-01", None, True),
            (None, "y", "2026-01-01", None, True),
            (2, "d", "2026-02-01", "2026-01-01", False),  # ends before it starts
            (3, "e", "2026-01-01", None, False),  # expired, no end
            (3, "f", "2026-01-05", "2026-01-04", True),
            (4, "g", "2026-01-01", "2026-01-09", False),
        ],
        "k int, attr string, effective_date string, end_date string, is_current boolean",
    ).selectExpr(
        "k", "attr",
        "CAST(effective_date AS DATE) AS effective_date",
        "CAST(end_date AS DATE) AS end_date",
        "is_current",
    )
    assert scd2.validate(state, scd2.Scd2Spec(keys=["k"])) == {
        "multi_current_keys": 2,
        "end_before_effective": 2,
        "expired_without_end": 1,
    }
    empty = state.limit(0)
    assert scd2.validate(empty, scd2.Scd2Spec(keys=["k"])) == {
        "multi_current_keys": 0,
        "end_before_effective": 0,
        "expired_without_end": 0,
    }
