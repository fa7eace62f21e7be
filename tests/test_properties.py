"""Property-based tests (SURVEY 5.5) with hypothesis: cleaning never
invents values, dedupe is idempotent, SCD2 invariants hold under
arbitrary batch sequences."""

from __future__ import annotations

import datetime as dt
import functools

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from hospital_data_engineering_pipeline_end_to_end_project_spark.functions import cleanse
from hospital_data_engineering_pipeline_end_to_end_project_spark.operators import scd2

SLOW = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

dirty_value = st.one_of(
    st.none(),
    st.sampled_from(["ERR", "TEMP_ERR", "COST_ERR", "EXP_ERR", "BAD_AMOUNT", "", "-"]),
    st.integers(-1000, 1000).map(str),
    st.text(alphabet="abcxyz!@# .", max_size=8),
)


@SLOW
@given(st.lists(dirty_value, min_size=1, max_size=30))
def test_clean_cast_never_invents(spark, values):
    df = spark.createDataFrame([(v,) for v in values], "x string")
    out = df.select("x", cleanse.clean_cast("x", "int").alias("y")).collect()
    for r in out:
        if r["y"] is not None:
            # non-null output requires a parseable non-marker input
            assert r["x"] is not None
            assert r["x"].strip() not in cleanse.DEFAULT_MARKERS
            assert int(r["x"].strip()) == r["y"]


@SLOW
@given(
    st.lists(
        st.tuples(st.integers(0, 5).map(str), st.integers(0, 3)),
        min_size=1,
        max_size=40,
    )
)
def test_dropduplicates_idempotent(spark, rows):
    df = spark.createDataFrame(rows, "k string, v long")
    once = df.dropDuplicates()
    twice = once.dropDuplicates()
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))
    n_distinct = len(set(rows))
    assert once.count() == n_distinct


@SLOW
@given(
    st.lists(
        st.lists(
            st.tuples(st.integers(0, 4), st.integers(0, 3)),
            min_size=0,
            max_size=6,
        ),
        min_size=1,
        max_size=4,
    )
)
def test_scd2_invariants_under_random_batches(spark, batches):
    spec = scd2.Scd2Spec(keys=["k"], order_by=["v"])
    state = None
    seen_keys: set[int] = set()
    for i, batch_rows in enumerate(batches):
        if not batch_rows:
            continue
        batch = spark.createDataFrame(batch_rows, "k long, v long")
        pdate = f"2026-{i + 1:02d}-01"
        if state is None:
            state = scd2.initial_load(batch, spec, pdate)
        else:
            state = scd2.merge(state, batch, spec, pdate)
        seen_keys |= {k for k, _ in batch_rows}
    if state is None:
        return
    v = scd2.validate(state, spec)
    assert v == {
        "multi_current_keys": 0,
        "end_before_effective": 0,
        "expired_without_end": 0,
    }
    # exactly one current row per ever-seen key
    current_keys = {
        r["k"] for r in state.filter(F.col("is_current")).collect()
    }
    assert current_keys == seen_keys


# -- SCD2 merge vs a pure-Python model ---------------------------------

_MERGE_ROW = "k1 int, k2 string, v int, w string"
_STATE_ROW = _MERGE_ROW + ", effective_date date, end_date date, is_current boolean"
_STATE_COLS = ("k1", "k2", "v", "w", "effective_date", "end_date", "is_current")
_D0 = dt.date(2026, 1, 1)


def _nulls_last_desc(a, b):
    if a == b:
        return 0
    if a is None:
        return 1
    if b is None:
        return -1
    return -1 if a > b else 1


def _model_merge(state, batch, keys, tracked, order_by, date, in_filter):
    """Pure-Python SCD2 merge over dict rows: latest-wins winner per
    key; a state row is expired when the winner's tracked values
    differ from its own; the winner is inserted unless some in-scope
    current row already carries them."""
    non_key = [c for c in _STATE_COLS[:4] if c not in keys]
    order = order_by + [c for c in non_key if c not in order_by]

    def cmp(a, b):
        for c in order:
            r = _nulls_last_desc(a[c], b[c])
            if r:
                return r
        return 0

    def key(r):
        return tuple(r[k] for k in keys)

    def same(a, b):
        return all(a[c] == b[c] for c in tracked)

    def scoped(r):
        return r["is_current"] and in_filter(r)

    winners = {}
    for r in sorted(batch, key=functools.cmp_to_key(cmp)):
        winners.setdefault(key(r), r)
    out = [r for r in state if not scoped(r)]
    for r in state:
        if scoped(r):
            w = winners.get(key(r))
            out.append(
                r if w is None or same(r, w)
                else {**r, "end_date": date, "is_current": False}
            )
    for k, w in winners.items():
        if not any(scoped(r) and key(r) == k and same(r, w) for r in state):
            out.append(
                {**w, "effective_date": date, "end_date": None, "is_current": True}
            )
    return out


def _rows_multiset(rows):
    return sorted(repr(tuple(r[c] for c in _STATE_COLS)) for r in rows)


_merge_row = st.fixed_dictionaries(
    {
        "k1": st.sampled_from([None, 0, 1, 2]),
        "k2": st.sampled_from([None, "a", "b"]),
        "v": st.sampled_from([None, 0, 1, 2]),
        "w": st.sampled_from([None, "a", "b"]),
    }
)
_state_row = st.builds(
    lambda r, eff, span, current: {
        **r,
        "effective_date": _D0 + dt.timedelta(days=eff),
        "end_date": None if current else _D0 + dt.timedelta(days=eff + span),
        "is_current": current,
    },
    _merge_row,
    st.integers(0, 20),
    st.integers(0, 5),
    st.booleans(),
)
_merge_case = st.fixed_dictionaries(
    {
        "keys": st.sampled_from([["k1"], ["k1", "k2"]]),
        "tracked": st.sampled_from([None, ["v"]]),
        "order_by": st.sampled_from([[], ["v"]]),
        "filtered": st.booleans(),
        # several current rows per key happen often in this key space:
        # states that break the one-current-row invariant are covered
        "state": st.lists(_state_row, max_size=10),
        "batch": st.lists(_merge_row, max_size=8),
    }
)


def _check_merge_against_model(spark, case):
    keys, order_by = case["keys"], case["order_by"]
    tracked = case["tracked"] or [c for c in _STATE_COLS[:4] if c not in keys]
    spec = scd2.Scd2Spec(keys=keys, tracked=case["tracked"], order_by=order_by)
    pf, in_filter = None, lambda r: True
    if case["filtered"]:
        # NULL w evaluates the predicate NULL: such rows bypass
        pf, in_filter = F.col("w") == "a", lambda r: r["w"] == "a"
    # one slice each: a tiny frame over the default parallelism
    # costs a Python worker per empty task
    sc = spark.sparkContext
    state_df = spark.createDataFrame(
        sc.parallelize([tuple(r[c] for c in _STATE_COLS) for r in case["state"]], 1),
        _STATE_ROW,
    )
    batch_df = spark.createDataFrame(
        sc.parallelize([tuple(r[c] for c in _STATE_COLS[:4]) for r in case["batch"]], 1),
        _MERGE_ROW,
    )
    date1, date2 = dt.date(2026, 3, 1), dt.date(2026, 4, 1)

    merged = scd2.merge(state_df, batch_df, spec, str(date1), partition_filter=pf)
    # replay the same batch; both merges come back in one job
    replayed = scd2.merge(merged, batch_df, spec, str(date2), partition_filter=pf)
    both = merged.withColumn("__pass", F.lit(1)).unionByName(
        replayed.withColumn("__pass", F.lit(2))
    )
    got, got2 = [], []
    for r in both.collect():
        (got if r["__pass"] == 1 else got2).append(r.asDict())
    want = _model_merge(
        case["state"], case["batch"], keys, tracked, order_by, date1, in_filter
    )
    assert _rows_multiset(got) == _rows_multiset(want)
    want2 = _model_merge(got, case["batch"], keys, tracked, order_by, date2, in_filter)
    assert _rows_multiset(got2) == _rows_multiset(want2)
    if pf is None:
        # with every state row in scope a replay is a no-op
        assert _rows_multiset(got2) == _rows_multiset(got)


@SLOW
@given(_merge_case)
def test_scd2_merge_matches_python_model(spark, case):
    _check_merge_against_model(spark, case)


@pytest.mark.slow
@settings(
    max_examples=80,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(_merge_case)
def test_scd2_merge_matches_python_model_sweep(spark, case):
    _check_merge_against_model(spark, case)


# -- connected components vs union-find oracle -------------------------

edge = st.tuples(st.integers(0, 20), st.integers(0, 20)).filter(
    lambda e: e[0] != e[1]
)


def _union_find(edges):
    parent: dict[int, int] = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[ru] = rv
    # canonical representative = min node id in the component
    comps: dict[int, int] = {}
    for n in parent:
        r = find(n)
        comps[r] = min(comps.get(r, n), n)
    return {n: comps[find(n)] for n in parent}


@SLOW
@given(st.lists(edge, min_size=1, max_size=40))
def test_connected_components_matches_union_find(spark, edges):
    from hospital_data_engineering_pipeline_end_to_end_project_spark.operators.components import (
        connected_components,
    )

    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {
        r["node"]: r["component"] for r in connected_components(df).collect()
    }
    assert got == _union_find(edges)


@SLOW
@given(
    st.lists(st.integers(0, 30), min_size=1, max_size=40),
    st.sampled_from([4, 16, 256]),
)
def test_kmv_exact_branch_and_bounds(spark, values, k):
    """KMV invariants for arbitrary inputs: below k distinct values the
    sketch IS the exact count; above, the estimate is positive and the
    result is a pure function of the distinct value set (duplicates
    never move it)."""
    from hospital_data_engineering_pipeline_end_to_end_project_spark.functions.metrics import kmv_distinct

    df = spark.createDataFrame([(v,) for v in values], "x long").withColumn(
        "g", F.lit(1)
    )
    est = kmv_distinct(df, ["g"], "x", k=k).collect()[0]["approx_distinct"]
    exact = len(set(values))
    if exact < k:
        assert est == exact
    else:
        assert est > 0
    dup = spark.createDataFrame(
        [(v,) for v in values * 2], "x long"
    ).withColumn("g", F.lit(1))
    est_dup = kmv_distinct(dup, ["g"], "x", k=k).collect()[0]["approx_distinct"]
    assert est_dup == est


_WORDS = ("scan", "merge", "join", "sort", "agg", "key", "row", "col")


def _spark_round6(x: float) -> float:
    """Replicate Spark's round(double, 6): HALF_UP on the double's
    shortest decimal form.  python's built-in round is banker's, which
    diverges on exact-tie quotients (e.g. odd/128 ends ...5 at the 7th
    digit) — a latent property-test flake."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal("1e-6"), ROUND_HALF_UP))


def _py_simhash64(text: str) -> int:
    """Reference SimHash: bit i = (md5 hex nibble i//4 >> (i%4)) & 1,
    +1/-1 balance over tokens, bit set iff balance > 0 — the layout
    simhash_agg documents."""
    import hashlib

    bal = [0] * 64
    for tok in [t for t in text.split(" ") if t]:
        h = hashlib.md5(tok.encode()).hexdigest()
        for i in range(64):
            bit = (int(h[i // 4], 16) >> (i % 4)) & 1
            bal[i] += 1 if bit else -1
    return sum(1 << i for i in range(64) if bal[i] > 0)


@SLOW
@given(
    st.lists(
        st.lists(st.sampled_from(_WORDS), min_size=1, max_size=12),
        min_size=2,
        max_size=8,
    )
)
def test_simhash_banding_exact_for_arbitrary_corpora(spark, docs):
    """The pigeonhole guarantee must hold for ARBITRARY inputs, not a
    curated fixture: banded pairs == brute-force fingerprint pairs at
    hamming <= 3, including the heavy-collision case where many docs
    share a fingerprint."""
    from hospital_data_engineering_pipeline_end_to_end_project_spark.operators import dedupe

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    fp = {i: _py_simhash64(t) for i, t in rows}

    def ham(a, b):
        return bin((fp[a] ^ fp[b]) & ((1 << 64) - 1)).count("1")

    expected = {
        (a, b, ham(a, b))
        for a in fp
        for b in fp
        if a < b and ham(a, b) <= 3
    }
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in dedupe.simhash_near_dups(df, "doc_id", "text").collect()
    }
    assert got == expected


@SLOW
@given(
    st.lists(
        st.lists(st.sampled_from(_WORDS), min_size=1, max_size=10),
        min_size=1,
        max_size=6,
    )
)
def test_bm25_membership_and_rank_order(spark, docs):
    """BM25 invariants for arbitrary corpora: exactly the docs
    containing >= 1 query term are returned (capped at k), scores are
    positive, and rank is dense 1..n in (score desc, id asc) order."""
    from hospital_data_engineering_pipeline_end_to_end_project_spark.operators import dataprep

    terms = ("scan", "merge")
    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    tok = df.select(
        "doc_id",
        F.explode(F.filter(F.split("text", " "), lambda x: x != "")).alias("term"),
    )
    out = dataprep.bm25_topk(tok, "doc_id", "term", terms, k=100).collect()
    expect_ids = {i for i, t in rows if set(t.split()) & set(terms)}
    assert {r["doc_id"] for r in out} == expect_ids
    assert all(r["bm25"] > 0 for r in out)
    ordered = sorted(out, key=lambda r: (-r["bm25"], r["doc_id"]))
    assert [r["rank"] for r in ordered] == list(range(1, len(out) + 1))


_QF_WORDS = ("the", "a", "of", "alpha", "beta", "x.", "y,", "z!", "rep")


@SLOW
@given(
    st.lists(
        st.lists(st.sampled_from(_QF_WORDS), min_size=1, max_size=30),
        min_size=1,
        max_size=6,
    )
)
def test_quality_filter_replays_exactly_in_python(spark, docs):
    """The verdict cascade is pure count/count IEEE arithmetic, so a
    python replay must agree EXACTLY — reason, keep, and every
    rounded ratio — for arbitrary corpora (including all-punct and
    stopword-free extremes)."""
    import re as _re
    from collections import Counter

    from hospital_data_engineering_pipeline_end_to_end_project_spark.operators import dataprep

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r
        for r in dataprep.quality_filter(
            df, "doc_id", "text", min_tokens=5, max_punct=0.2,
            min_stopword=0.02, max_top_shingle=0.4, shingle_n=2,
        ).collect()
    }
    stop = {"the", "a", "of", "and", "to", "in", "is", "for"}
    for i, text in rows:
        toks = [t for t in text.split(" ") if t]
        n = len(toks)
        punct = (len(text) - len(_re.sub(r"[\.,;:!\?]", "", text))) / len(text)
        sw = sum(1 for t in toks if t in stop) / n
        if len(toks) >= 2:
            sh = Counter(
                " ".join(toks[j : j + 2]) for j in range(len(toks) - 1)
            )
            top = max(sh.values()) / sum(sh.values())
        else:
            top = 0.0
        if n < 5:
            reason = "too_short"
        elif punct > 0.2:
            reason = "high_punct"
        elif sw < 0.02:
            reason = "low_stopword"
        elif top > 0.4:
            reason = "repetitive"
        else:
            reason = None
        r = got[i]
        assert r["reason"] == reason, (i, text, r["reason"], reason)
        assert r["keep"] == (reason is None)
        assert r["n_tokens"] == n
        assert r["punct_ratio"] == round(punct, 6) or abs(
            r["punct_ratio"] - punct
        ) < 5e-7
        assert abs(r["stopword_ratio"] - sw) < 5e-7
        assert abs(r["top_shingle_ratio"] - top) < 5e-7


@SLOW
@given(
    st.lists(
        st.lists(st.sampled_from(_WORDS), min_size=1, max_size=12),
        min_size=1,
        max_size=6,
    )
)
def test_bm25_scores_replay_exactly_in_python(spark, docs):
    """BM25 is one fixed-order IEEE expression per (doc, term) plus a
    fixed-order sum — a python replay with the same operation order
    must match BIT-FOR-BIT (the property the DuckDB oracle relies
    on)."""
    from hospital_data_engineering_pipeline_end_to_end_project_spark.operators import dataprep

    terms = ("scan", "merge")
    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    tok = df.select(
        "doc_id",
        F.explode(F.filter(F.split("text", " "), lambda x: x != "")).alias("term"),
    )
    got = {
        r["doc_id"]: r["bm25"]
        for r in dataprep.bm25_topk(tok, "doc_id", "term", terms, k=100).collect()
    }

    toks = {i: [t for t in txt.split(" ") if t] for i, txt in rows}
    n_docs = len(rows)
    total_tokens = sum(len(t) for t in toks.values())
    avgdl = float(total_tokens) / n_docs
    dfreq = {
        t: sum(1 for ts in toks.values() if t in ts) for t in terms
    }
    expect = {}
    for i, ts in toks.items():
        dl = len(ts)
        total = 0.0
        hit = False
        for t in terms:
            tf = ts.count(t)
            if tf == 0:
                part = 0.0
            else:
                hit = True
                idf = (n_docs - dfreq[t] + 0.5) / (dfreq[t] + 0.5)
                part = idf * ((tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * (dl / avgdl))))
            total = total + part
        if hit:
            expect[i] = total
    assert got == expect


passage_doc = st.lists(
    st.sampled_from(["aa", "bb", "cc", "dd", "ee"]), min_size=0, max_size=14
).map(" ".join)


@SLOW
@given(st.lists(passage_doc, min_size=1, max_size=6))
def test_passage_coverage_matches_python_reference(spark, docs):
    """q104's interval-union coverage replayed by a brute-force
    Python reference over arbitrary small-alphabet corpora (small
    alphabet forces gram collisions, so the duplicated-gram and
    overlap-union branches are genuinely exercised)."""
    from hospital_data_engineering_pipeline_end_to_end_project_spark.operators import dataprep

    k = 3
    rows = [(i, t) for i, t in enumerate(docs)]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_dup_tokens"])
        for r in dataprep.duplicated_passage_stats(
            d, "doc_id", "text", gram_k=k
        ).collect()
    }

    toks = {i: [w for w in t.split(" ") if w] for i, t in rows}
    from collections import Counter

    all_grams = Counter()
    per_doc = {}
    for i, ts in toks.items():
        gs = [
            (p, " ".join(ts[p : p + k])) for p in range(len(ts) - k + 1)
        ]
        per_doc[i] = gs
        all_grams.update(g for _, g in gs)
    expect = {}
    for i, ts in toks.items():
        if len(ts) < k:
            continue
        ivs = sorted(
            p for p, g in per_doc[i] if all_grams[g] >= 2
        )
        covered, prev_end = 0, -1
        for p in ivs:
            covered += max(0, p + k - max(prev_end, p))
            prev_end = max(prev_end, p + k)
        expect[i] = (len(ts), covered)
    assert got == expect


@SLOW
@given(st.lists(passage_doc, min_size=2, max_size=6))
def test_containment_bounds_and_consistency(spark, docs):
    """Containment is bounded by [jaccard, 1], emitted for exactly
    the intersecting pairs jaccard emits, and its orientation puts
    the smaller (or equal, lower-id) shingle set first."""
    from hospital_data_engineering_pipeline_end_to_end_project_spark.operators import dedupe

    rows = [(i, "k", t) for i, t in enumerate(docs)]
    d = spark.createDataFrame(rows, "doc_id long, src string, text string")
    jac = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedupe.jaccard_within_key(d, "doc_id", "text", "src").collect()
    }
    con = {
        tuple(sorted((r["id_contained"], r["id_container"]))): r
        for r in dedupe.containment_pairs(
            d, "doc_id", "text", "src", threshold=0.0
        ).collect()
    }
    assert set(jac) == set(con)
    sets = {
        i: {
            " ".join(t.split()[p : p + 3])
            for p in range(len([w for w in t.split(" ") if w]) - 2)
        }
        for i, _, t in rows
    }
    for pair, j in jac.items():
        c = con[pair]["containment"]
        assert j - 1e-9 <= c <= 1.0 + 1e-9
        a, b = con[pair]["id_contained"], con[pair]["id_container"]
        assert (len(sets[a]), a) <= (len(sets[b]), b)


# --- round-9 hot-window sweep: two-level forms == one-level windows ---
#
# The de-hot-keyed rewrites (exact_dup_groups, keep_first_exact,
# group_cap, salted_grouped_topk) all claim VALUE IDENTITY to the
# one-level window forms their oracles replay.  These properties pin
# that identity on arbitrary duplicate-heavy inputs — including the
# adversarial shape the rewrites exist for (one key owning most rows).

dup_heavy_texts = st.lists(
    st.sampled_from(["hot hot hot", "alpha beta", "gamma", "delta eps", ""]),
    min_size=1,
    max_size=40,
)


@SLOW
@given(dup_heavy_texts)
def test_exact_dup_groups_matches_window_form(spark, texts):
    from pyspark.sql.window import Window

    from hospital_data_engineering_pipeline_end_to_end_project_spark.operators import dedupe

    d = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = sorted(
        map(tuple, dedupe.exact_dup_groups(d, "doc_id", "text").collect())
    )
    h = F.md5(dedupe.normalize_text("text")).alias("text_hash")
    naive = sorted(
        map(
            tuple,
            d.select("doc_id", h)
            .withColumn(
                "n_copies",
                F.count(F.lit(1)).over(Window.partitionBy("text_hash")),
            )
            .collect(),
        )
    )
    assert got == naive


@SLOW
@given(dup_heavy_texts)
def test_keep_first_exact_matches_window_form(spark, texts):
    from pyspark.sql.window import Window

    from hospital_data_engineering_pipeline_end_to_end_project_spark.operators import dedupe

    d = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = sorted(
        map(tuple, dedupe.keep_first_exact(d, "doc_id", "text").collect())
    )
    w = Window.partitionBy(F.md5(dedupe.normalize_text("text"))).orderBy(
        "doc_id"
    )
    naive = sorted(
        map(
            tuple,
            d.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
            .collect(),
        )
    )
    assert got == naive


@SLOW
@given(
    st.lists(
        st.tuples(st.sampled_from(["hot", "hot", "hot", "a", "b"]),
                  st.integers(-50, 10_000)),
        min_size=1,
        max_size=60,
        unique_by=lambda t: t[1],
    ),
    st.integers(1, 7),
)
def test_group_cap_matches_one_level_window(spark, rows, cap):
    from pyspark.sql.window import Window

    from hospital_data_engineering_pipeline_end_to_end_project_spark.operators import dataprep

    d = spark.createDataFrame(rows, "src string, doc_id long")
    got = sorted(
        map(
            tuple,
            dataprep.group_cap(d, ["src"], "doc_id", cap).collect(),
        )
    )
    w = Window.partitionBy("src").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    naive = sorted(
        map(
            tuple,
            d.withColumn("sample_rank", F.row_number().over(w))
            .filter(F.col("sample_rank") <= cap)
            .collect(),
        )
    )
    assert got == naive


@SLOW
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["g1", "g1", "g1", "g2"]),
            st.integers(0, 100_000),
            st.sampled_from([0.0, 1.0, 1.0, 2.5, -3.25]),
        ),
        min_size=1,
        max_size=60,
        unique_by=lambda t: t[1],
    ),
    st.integers(1, 6),
)
def test_salted_grouped_topk_matches_window_on_arbitrary_ties(spark, rows, k):
    """Heavy ties + negative scores + a hot group: the subset
    identity must hold for every (k, salt) split of the data."""
    from pyspark.sql.window import Window

    from hospital_data_engineering_pipeline_end_to_end_project_spark.operators import skew

    d = spark.createDataFrame(rows, "grp string, id long, v double")
    got = sorted(
        map(
            tuple,
            skew.salted_grouped_topk(d, ["grp"], "v", "id", k=k).collect(),
        )
    )
    w = Window.partitionBy("grp").orderBy(F.desc("v"), F.asc("id"))
    naive = sorted(
        map(
            tuple,
            d.select("grp", "id", "v")
            .withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= k)
            .collect(),
        )
    )
    assert got == naive


@SLOW
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["g1", "g1", "g1", "g2"]),
            st.integers(0, 100_000),
            st.sampled_from([0.0, 1.0, 1.0, 2.5, -3.25]),
        ),
        min_size=1,
        max_size=60,
        unique_by=lambda t: t[1],
    ),
    st.integers(1, 6),
)
def test_salted_grouped_topk_ascending_matches_window(spark, rows, k):
    """The ``descending=False`` branch (PQ-ADC / Hamming / triangle
    degree cap rank on a distance) against its one-level window form —
    same heavy-tie stress as the descending property above."""
    from pyspark.sql.window import Window

    from hospital_data_engineering_pipeline_end_to_end_project_spark.operators import skew

    d = spark.createDataFrame(rows, "grp string, id long, v double")
    got = sorted(
        map(
            tuple,
            skew.salted_grouped_topk(
                d, ["grp"], "v", "id", k=k, descending=False
            ).collect(),
        )
    )
    w = Window.partitionBy("grp").orderBy(F.asc("v"), F.asc("id"))
    naive = sorted(
        map(
            tuple,
            d.select("grp", "id", "v")
            .withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= k)
            .collect(),
        )
    )
    assert got == naive


@SLOW
@given(
    st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)),
        min_size=1,
        max_size=50,
    ),
    st.one_of(st.none(), st.just(50)),
)
def test_triangle_counts_match_bruteforce(spark, raw_edges, cap):
    """Random small graphs (self-loops, duplicate and reversed edges
    included) vs an itertools brute force over all node triples.
    ``cap=50`` exceeds any possible degree here, so the capped path
    must stay byte-identical to the exact one."""
    import itertools

    from hospital_data_engineering_pipeline_end_to_end_project_spark.operators import components

    edges = {tuple(sorted(e)) for e in raw_edges if e[0] != e[1]}
    nodes = sorted({n for e in edges for n in e})
    expected: dict[int, int] = {}
    for tri in itertools.combinations(nodes, 3):
        a, b, c = tri
        if ((a, b) in edges and (b, c) in edges and (a, c) in edges):
            for n in tri:
                expected[n] = expected.get(n, 0) + 1

    d = spark.createDataFrame(
        [(a, b) for a, b in raw_edges], "id_a long, id_b long"
    )
    got = {
        r["node"]: r["n_triangles"]
        for r in components.triangle_counts(d, max_degree=cap).collect()
    }
    assert got == expected


@SLOW
@given(
    st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 6)),
        min_size=1,
        max_size=40,
    ),
    st.sampled_from([2, 3, 8]),
    st.sampled_from([1, 2]),
)
def test_copurchase_lift_matches_python_replay(spark, rows, cap, min_support):
    """Random (basket, item) streams with duplicates vs a literal
    python replay of the documented semantics: distinct first, per-
    basket cap by (md5, item), integer counts, one rounded division."""
    import hashlib
    import itertools

    from hospital_data_engineering_pipeline_end_to_end_project_spark.operators import cooccur

    distinct = sorted(set(rows))
    by_basket: dict[int, list[int]] = {}
    for b, i in distinct:
        by_basket.setdefault(b, []).append(i)
    capped: dict[int, list[int]] = {
        b: sorted(items, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))[:cap]
        for b, items in by_basket.items()
    }
    n_baskets = len(capped)
    c_item: dict[int, int] = {}
    c_ab: dict[tuple[int, int], int] = {}
    for items in capped.values():
        for i in items:
            c_item[i] = c_item.get(i, 0) + 1
        for a, b in itertools.combinations(sorted(items), 2):
            c_ab[(a, b)] = c_ab.get((a, b), 0) + 1
    expected = {
        (a, b, n, c_item[a], c_item[b],
         _spark_round6(n * n_baskets / (c_item[a] * c_item[b])))
        for (a, b), n in c_ab.items()
        if n >= min_support
    }

    df = spark.createDataFrame(rows, "basket long, item long")
    got = {
        tuple(r)
        for r in cooccur.copurchase_lift(
            df, "basket", "item", cap=cap, min_support=min_support
        ).collect()
    }
    assert got == expected


@SLOW
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["g1", "g2"]),
            st.integers(0, 2),       # key
            st.integers(0, 50),      # ts (duplicates allowed)
            st.integers(0, 5),       # value
        ),
        min_size=2,
        max_size=40,
    )
)
def test_time_weighted_avg_matches_python_replay(spark, raw):
    """Random irregular series (duplicate timestamps, zero-duration
    segments, single-observation keys) vs a literal python replay:
    per key sort by (ts, id), duration to the next row, segment
    attributed to its starting row's group, exact integer weighted
    sum, one final division (None when total duration is 0)."""
    from hospital_data_engineering_pipeline_end_to_end_project_spark.operators import temporal

    rows = [(g, k, ts, i, v) for i, (g, k, ts, v) in enumerate(raw)]
    by_key: dict[int, list] = {}
    for g, k, ts, i, v in rows:
        by_key.setdefault(k, []).append((ts, i, g, v))
    agg: dict[str, list[int]] = {}
    for obs in by_key.values():
        obs.sort()
        for (ts, _, g, v), (nts, _, _, _) in zip(obs, obs[1:]):
            a = agg.setdefault(g, [0, 0, 0])
            a[0] += 1
            a[1] += nts - ts
            a[2] += v * (nts - ts)
    expected = {
        g: (n, dur, _spark_round6(ws / dur) if dur else None)
        for g, (n, dur, ws) in agg.items()
    }

    df = spark.createDataFrame(
        rows, "g string, k long, ts long, id long, v long"
    )
    got = {
        r["g"]: (r["n_segments"], r["total_dur"], r["twap"])
        for r in temporal.time_weighted_avg(
            df, "k", "ts", "id", "v", "g"
        ).collect()
    }
    assert got == expected


@SLOW
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["s1", "s2", "s3"]),
            st.lists(st.sampled_from(_WORDS), min_size=0, max_size=8),
        ),
        min_size=1,
        max_size=15,
    )
)
def test_source_divergence_matches_python_replay(spark, docs):
    """Random multi-source corpora (empty docs, single-source corpora,
    disjoint vocabularies) vs a literal 1/2 * sum |p_s - p| computed
    in exact integer arithmetic — pinning the cross-multiplication
    form to the textbook TVD definition.  The final rounding
    replicates Spark's round(double, 6) exactly (HALF_UP on the
    double's shortest decimal form) so an exact-tie input cannot
    flake against python's banker's rounding."""
    from hospital_data_engineering_pipeline_end_to_end_project_spark.operators import dataprep

    rows = [(i, g, " ".join(toks)) for i, (g, toks) in enumerate(docs)]
    c_st: dict[tuple[str, str], int] = {}
    for _, g, text in rows:
        for t in [t for t in text.split(" ") if t]:
            c_st[(g, t)] = c_st.get((g, t), 0) + 1
    corpus: dict[str, int] = {}
    for (_, t), c in c_st.items():
        corpus[t] = corpus.get(t, 0) + c
    big_t = sum(corpus.values())
    expected = {}
    for g in {g for g, _ in c_st}:
        ts = sum(c for (gg, _), c in c_st.items() if gg == g)
        # integer numerator of sum_t |p_s - p| over common denominator
        # ts * big_t; TVD divides by 2 — same shape the operator uses
        num = sum(
            abs(c_st.get((g, t), 0) * big_t - ct * ts)
            for t, ct in corpus.items()
        )
        expected[g] = (ts, _spark_round6(float(num) / (2.0 * ts * big_t)))

    df = spark.createDataFrame(rows, "doc_id long, src string, text string")
    got = {
        r["src"]: (r["n_tokens"], r["tvd"])
        for r in dataprep.source_divergence(df, "src", "text").collect()
    }
    assert got == expected


@SLOW
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["a", "b"]),
            st.integers(0, 500),
            st.integers(0, 20),
        ),
        min_size=1,
        max_size=30,
        unique_by=lambda t: t[1],
    ),
    st.integers(0, 60),
)
def test_token_budget_mix_matches_python_replay(spark, rows, budget):
    """Random corpora and budgets (0, boundary-exact, zero-token docs)
    vs the greedy-prefix definition replayed literally: per group,
    docs in (md5(str(id)), id) order, kept while the cumulative token
    count through the doc stays <= budget."""
    import hashlib

    from hospital_data_engineering_pipeline_end_to_end_project_spark.operators import dataprep

    by_group: dict[str, list] = {}
    for g, i, tok in rows:
        by_group.setdefault(g, []).append((hashlib.md5(str(i).encode()).hexdigest(), i, tok))
    expected = set()
    for g, docs in by_group.items():
        cum = 0
        for _, i, tok in sorted(docs):
            cum += tok
            if cum > budget:
                break
            expected.add((g, i, tok))

    df = spark.createDataFrame(rows, "src string, doc_id long, n_tokens long")
    got = {
        tuple(r)
        for r in dataprep.token_budget_mix(
            df, "src", "doc_id", "n_tokens", budget=budget
        ).collect()
    }
    assert got == expected


@SLOW
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["en", "fr", "de", None]),
            st.integers(0, 800),
        ),
        min_size=1,
        max_size=40,
        unique_by=lambda t: t[1],
    )
)
def test_temperature_resample_matches_python_replay(spark, rows):
    """Random group layouts (including a NULL group) vs the documented
    verdict function replayed literally: keep = sqrt(n_min/n_g),
    md5-hex bucket < lpad(hex(floor(keep * 16^4))), keep >= 1 short-
    circuits, no row filtered."""
    import hashlib
    import math

    from hospital_data_engineering_pipeline_end_to_end_project_spark.operators import dataprep

    n_g: dict = {}
    for g, _ in rows:
        n_g[g] = n_g.get(g, 0) + 1
    n_min = min(n_g.values())
    expected = {}
    for g, i in rows:
        keep = math.sqrt(n_min / n_g[g])
        if keep >= 1.0:
            kept = True
        else:
            bucket = hashlib.md5(str(i).encode()).hexdigest()[:4]
            bound = format(int(math.floor(keep * 16**4)), "04x")
            kept = bucket < bound
        expected[(g, i)] = (_spark_round6(keep), kept)

    df = spark.createDataFrame(rows, "lang string, doc_id long")
    got = {
        (r["lang"], r["doc_id"]): (r["keep_prob"], r["is_kept"])
        for r in dataprep.temperature_resample(df, "lang", "doc_id").collect()
    }
    assert got == expected


@SLOW
@given(
    st.lists(
        st.lists(st.sampled_from(["a", "b", "c", "d"]), min_size=0, max_size=8),
        min_size=1,
        max_size=12,
    )
)
def test_bigram_fluency_matches_python_replay(spark, docs):
    """Random tiny corpora vs the definition replayed literally:
    corpus bigram/prefix counts, per-doc position-ordered float fold
    of count ratios, mean, round6."""
    from hospital_data_engineering_pipeline_end_to_end_project_spark.operators import dataprep

    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    bg_count: dict = {}
    prev_count: dict = {}
    per_doc: dict[int, list] = {}
    for i, ws in enumerate(docs):
        bgs = list(zip(ws, ws[1:]))
        per_doc[i] = bgs
        for p, c in bgs:
            bg_count[(p, c)] = bg_count.get((p, c), 0) + 1
            prev_count[p] = prev_count.get(p, 0) + 1
    expected = {}
    for i, bgs in per_doc.items():
        if not bgs:
            continue
        acc = 0.0
        for p, c in bgs:  # position order, sequential fold
            acc = acc + float(bg_count[(p, c)]) / float(prev_count[p])
        expected[i] = (len(bgs), _spark_round6(acc / float(len(bgs))))

    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {
        r["doc_id"]: (r["n_bigrams"], r["fluency"])
        for r in dataprep.bigram_fluency(df, "doc_id", "text").collect()
    }
    assert got == expected


@SLOW
@given(
    st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)),
        min_size=1,
        max_size=25,
    ),
    st.integers(0, 3),
)
def test_label_propagation_matches_python_replay(spark, edges, rounds):
    """Random small graphs vs the synchronous min-label recurrence
    replayed literally (self-loops dropped, labels init to own id)."""
    from hospital_data_engineering_pipeline_end_to_end_project_spark.operators import components

    und = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    if not und:
        return
    adj: dict[int, set[int]] = {}
    for u, v in und:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    labels = {n: n for n in adj}
    for _ in range(rounds):
        labels = {
            n: min([labels[n]] + [labels[m] for m in adj[n]])
            for n in adj
        }

    df = spark.createDataFrame(list(edges), "id_a int, id_b int")
    got = {
        r["node"]: r["label"]
        for r in components.label_propagation_min(df, rounds=rounds).collect()
    }
    assert got == labels


@SLOW
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["u1", "u2"]),
            st.integers(0, 500),
            st.floats(0, 20, allow_nan=False, allow_infinity=False),
        ),
        min_size=1,
        max_size=30,
        unique_by=lambda t: t[1],
    ),
    st.integers(0, 5000),
)
def test_cusum_drift_matches_sequential_recurrence(spark, rows, k_scaled):
    """The prefix-min identity must equal Page's sequential recurrence
    S_i = max(0, S_{i-1} + (v_i - k)) replayed literally on the
    quantized integers."""
    import math

    from hospital_data_engineering_pipeline_end_to_end_project_spark.operators import temporal

    expected = {}
    by_group: dict[str, list] = {}
    for g, i, x in rows:
        by_group.setdefault(g, []).append((i, x))
    for g, seq in by_group.items():
        s = peak = 0
        for _, x in sorted(seq):
            v = int(math.floor(x * 1000 + 0.5))
            s = max(0, s + (v - k_scaled))
            peak = max(peak, s)
        expected[g] = (len(seq), peak)

    df = spark.createDataFrame(rows, "g string, i long, v double")
    got = {
        r["g"]: (r["n_events"], r["peak_cusum"])
        for r in temporal.cusum_drift(
            df, "g", "i", "v", k_scaled=k_scaled
        ).collect()
    }
    assert got == expected


@SLOW
@given(
    st.lists(
        st.lists(st.sampled_from(["a", "b", "c", "d", "e"]), min_size=0, max_size=10),
        min_size=1,
        max_size=14,
    )
)
def test_prefix_jaccard_join_matches_brute_force(spark, docs):
    """Prefix-filter completeness + integer-threshold exactness:
    random tiny corpora vs a literal all-pairs replay over distinct
    2-shingle sets at t = 1/2 (the filter must lose NOTHING and add
    nothing)."""
    from hospital_data_engineering_pipeline_end_to_end_project_spark.operators import dedupe

    t_num, t_den = 1, 2
    sets = {
        i: {" ".join(ws[j : j + 2]) for j in range(len(ws) - 1)}
        for i, ws in enumerate(docs)
    }
    expected = {}
    for a in sets:
        for b in sets:
            if a >= b or not sets[a] or not sets[b]:
                continue
            inter = len(sets[a] & sets[b])
            na, nb = len(sets[a]), len(sets[b])
            if (t_den + t_num) * inter >= t_num * (na + nb):
                u = na + nb - inter
                expected[(a, b)] = (inter, u, _spark_round6(inter / u))

    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {
        (r["doc_a"], r["doc_b"]): (r["inter_size"], r["union_size"], r["jaccard"])
        for r in dedupe.prefix_jaccard_join(
            df, "doc_id", "text", shingle_n=2, t_num=t_num, t_den=t_den
        ).collect()
    }
    assert got == expected


@SLOW
@given(
    st.lists(
        st.tuples(st.sampled_from(["g1", "g2"]), st.integers(0, 6)),
        min_size=1,
        max_size=25,
    )
)
def test_percentile_calibrate_matches_python_replay(spark, rows):
    """Value-domain cume_dist vs the definition: pct of a row = count
    of group rows with value <= its value, over group size, round6 —
    ties share a pct by construction."""
    from hospital_data_engineering_pipeline_end_to_end_project_spark.operators import dataprep

    expected = {}
    for i, (g, v) in enumerate(rows):
        le = sum(1 for (g2, v2) in rows if g2 == g and v2 <= v)
        n = sum(1 for (g2, _) in rows if g2 == g)
        expected[i] = _spark_round6(le / n)

    df = spark.createDataFrame(
        [(i, g, v) for i, (g, v) in enumerate(rows)],
        "row_id int, grp string, val int",
    )
    got = {
        r["row_id"]: r["pct"]
        for r in dataprep.percentile_calibrate(df, "grp", "val").collect()
    }
    assert got == expected


@SLOW
@given(
    st.lists(
        st.lists(st.sampled_from(["a", "b", "c"]), min_size=0, max_size=12),
        min_size=1,
        max_size=10,
    )
)
def test_token_gini_matches_python_replay(spark, docs):
    """Gini impurity replayed literally: integer counts, sum of
    squares, one final division each for gini and distinct_ratio."""
    from collections import Counter

    from hospital_data_engineering_pipeline_end_to_end_project_spark.operators import dataprep

    expected = {}
    for i, ws in enumerate(docs):
        if not ws:
            continue
        c = Counter(ws)
        n, d = len(ws), len(c)
        ssq = sum(v * v for v in c.values())
        expected[i] = (
            n,
            d,
            _spark_round6(d / n),
            _spark_round6((n * n - ssq) / (n * n)),
        )

    df = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in enumerate(docs)],
        "doc_id int, text string",
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_distinct"], r["distinct_ratio"], r["gini"])
        for r in dataprep.token_gini(df, "doc_id", "text").collect()
    }
    assert got == expected


@SLOW
@given(
    st.lists(
        st.tuples(st.sampled_from(["u1", "u2"]), st.integers(-5, 5)),
        min_size=1,
        max_size=20,
    ),
    st.integers(1, 4),
)
def test_cusum_segment_fold_matches_page_recurrence(spark, rows, n_batches):
    """Segment summaries folded in batch order vs Page's literal
    sequential recurrence S_i = max(0, S_{i-1} + (v_i - k)) over the
    concatenation — the associativity claim behind the streaming CUSUM
    monitor (scale=1, so quantization is the identity on ints)."""
    from hospital_data_engineering_pipeline_end_to_end_project_spark.operators import temporal

    k = 1
    expected: dict[str, tuple[int, int]] = {}
    state: dict[str, tuple[int, int]] = {}  # group -> (s_cur, peak)
    for g, v in rows:
        s_cur, peak = state.get(g, (0, 0))
        s_cur = max(0, s_cur + (v - k))
        state[g] = (s_cur, max(peak, s_cur))
    for g, (_, peak) in state.items():
        expected[g] = (sum(1 for g2, _ in rows if g2 == g), peak)

    df = spark.createDataFrame(
        [(i, g, float(v)) for i, (g, v) in enumerate(rows)],
        "seq long, grp string, value double",
    )
    # split the sequence into contiguous batches by seq ranges
    size = (len(rows) + n_batches - 1) // n_batches
    parts = []
    for b in range(n_batches):
        seg = df.filter((df.seq >= b * size) & (df.seq < (b + 1) * size))
        parts.append(
            temporal.cusum_segment_summary(
                seg, "grp", "seq", "value", k_scaled=k, scale=1
            ).withColumn("batch_id", F.lit(b).cast("long"))
        )
    allp = parts[0]
    for p in parts[1:]:
        allp = allp.unionByName(p)
    got = {
        r["grp"]: (r["n_events"], r["peak_cusum"])
        for r in temporal.cusum_fold_summaries(allp, "grp", "batch_id").collect()
    }
    assert got == expected


def _py_winnow(ws: list[str], k: int, w: int):
    """Literal winnowing replay: 60-bit md5 k-gram hashes, rightmost
    min per window, distinct selected hash values."""
    import hashlib

    hs = [
        int(hashlib.md5(" ".join(ws[i : i + k]).encode()).hexdigest()[:15], 16)
        for i in range(len(ws) - k + 1)
    ]
    if len(hs) < w:
        return None
    fps = []
    for j in range(len(hs) - w + 1):
        sl = hs[j : j + w]
        m = min(sl)
        p = j + (len(sl) - 1 - sl[::-1].index(m))
        fps.append(hs[p])
    seen, out = set(), []
    for v in fps:
        if v not in seen:
            seen.add(v)
            out.append(v)
    return len(hs), out


@SLOW
@given(
    st.lists(
        st.lists(st.sampled_from(["a", "b", "c"]), min_size=0, max_size=16),
        min_size=1,
        max_size=10,
    )
)
def test_winnowing_matches_python_replay(spark, docs):
    """Selection rule + sharing counts vs the literal algorithm (tiny
    alphabet so equal-hash ties and shared fingerprints actually
    occur)."""
    from hospital_data_engineering_pipeline_end_to_end_project_spark.operators import dedupe

    k, w = 2, 3
    per = {}
    for i, ws in enumerate(docs):
        r = _py_winnow(ws, k, w)
        if r is not None:
            per[i] = r
    from collections import Counter

    df_count = Counter(v for _, fps in per.values() for v in fps)
    expected = {
        i: (nh, len(fps), sum(1 for v in fps if df_count[v] >= 2))
        for i, (nh, fps) in per.items()
    }

    frame = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in enumerate(docs)],
        "doc_id int, text string",
    )
    got = {
        r["doc_id"]: (r["n_kgrams"], r["n_fingerprints"], r["n_shared"])
        for r in dedupe.winnowing_fingerprints(
            frame, "doc_id", "text", k=k, w=w
        ).collect()
    }
    assert got == expected


@SLOW
@given(
    st.lists(st.sampled_from(["x", "y", "z", "p", "q"]), min_size=7, max_size=12),
    st.lists(st.sampled_from(["m", "n"]), min_size=0, max_size=5),
    st.lists(st.sampled_from(["r", "s"]), min_size=0, max_size=5),
)
def test_winnowing_guarantee_shared_span(spark, span, pre, post):
    """The MOSS guarantee: two docs sharing a token run of length >=
    w + k - 1 MUST each count at least one shared fingerprint."""
    from hospital_data_engineering_pipeline_end_to_end_project_spark.operators import dedupe

    k, w = 4, 4  # guarantee length 7 <= len(span)
    d0 = " ".join(pre + span)
    d1 = " ".join(span + post)
    frame = spark.createDataFrame(
        [(0, d0), (1, d1)], "doc_id int, text string"
    )
    got = {
        r["doc_id"]: r["n_shared"]
        for r in dedupe.winnowing_fingerprints(
            frame, "doc_id", "text", k=k, w=w
        ).collect()
    }
    assert got[0] >= 1 and got[1] >= 1


def _py_repeated_spans(ta, tb, k, min_span):
    """Literal replay of repeated_span_pairs for two docs: match
    positional k-grams on string equality, group matches by diagonal,
    take maximal consecutive runs, keep spans >= min_span.  Returns
    {(start_a, start_b, span_tokens)} with 1-based offsets."""
    ka = [" ".join(ta[i : i + k]) for i in range(len(ta) - k + 1)]
    kb = [" ".join(tb[i : i + k]) for i in range(len(tb) - k + 1)]
    matched = {
        (i + 1, j + 1)
        for i, ga in enumerate(ka)
        for j, gb in enumerate(kb)
        if ga == gb
    }
    out = set()
    for pa, pb in matched:
        if (pa - 1, pb - 1) in matched:
            continue  # not a run start
        length = 1
        while (pa + length, pb + length) in matched:
            length += 1
        span = length + k - 1
        if span >= min_span:
            out.add((pa, pb, span))
    return out


@SLOW
@given(
    st.lists(st.sampled_from(["x", "y", "z"]), min_size=8, max_size=28),
    st.lists(st.sampled_from(["x", "y", "z"]), min_size=8, max_size=28),
)
def test_repeated_spans_match_python_replay(spark, ta, tb):
    """The diagonal-island extraction against a literal per-pair
    replay, on a 3-token alphabet where within-doc repeated k-grams
    (multiple diagonals, overlapping runs) arise constantly.  With
    min_span = w + k - 1 the winnowing candidate stage is lossless,
    so the replay needs no stage-1 model at all."""
    from hospital_data_engineering_pipeline_end_to_end_project_spark.operators import dedupe

    k, w = 4, 4
    frame = spark.createDataFrame(
        [(0, " ".join(ta)), (1, " ".join(tb))], "doc_id int, text string"
    )
    got = {
        (r["start_a"], r["start_b"], r["span_tokens"])
        for r in dedupe.repeated_span_pairs(
            frame, "doc_id", "text", k=k, w=w
        ).collect()
    }
    assert got == _py_repeated_spans(ta, tb, k, min_span=w + k - 1)
