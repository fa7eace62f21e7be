"""Invariants for the training-data-prep operator family (q50-q54).

Exact cross-engine parity is covered by the gate-scale suite (these
queries all have DuckDB oracles); this file pins the semantic
invariants that parity alone wouldn't catch if both engines drifted
together.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hospital_data_engineering_pipeline_end_to_end_project_spark.operators import dataprep
from hospital_data_engineering_pipeline_end_to_end_project_spark.plans import data_prep as DP
from hospital_data_engineering_pipeline_end_to_end_project_spark.sources.readers import load_table

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF, "documents").cache()


def test_hash_split_fractions_and_stability(spark, docs):
    out = dataprep.hash_split(docs.select("doc_id"), "doc_id").cache()
    n = out.count()
    frac = {
        r["split"]: r["c"] / n
        for r in out.groupBy("split").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    assert 0.7 < frac["train"] < 0.9
    assert 0.05 < frac["val"] < 0.16
    assert 0.05 < frac["test"] < 0.16
    # pure function of the id: recomputation reproduces every assignment
    again = dataprep.hash_split(docs.select("doc_id"), "doc_id")
    assert out.join(again, ["doc_id", "bucket", "split"]).count() == n
    # a salt re-rolls membership (new split universe, same fractions)
    salted = dataprep.hash_split(docs.select("doc_id"), "doc_id", salt="v2")
    moved = (
        out.select("doc_id", "split")
        .join(salted.select("doc_id", F.col("split").alias("s2")), "doc_id")
        .filter(F.col("split") != F.col("s2"))
        .count()
    )
    assert moved > 0
    out.unpersist()


def test_hash_split_is_shuffle_free(docs):
    plan = dataprep.hash_split(docs.select("doc_id"), "doc_id")._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, "split assignment must be a narrow projection"


def test_group_cap_bounds_and_determinism(spark, docs):
    capped = dataprep.group_cap(
        docs.select("doc_id", "source"), ["source"], "doc_id", 7
    ).cache()
    per_group = capped.groupBy("source").agg(F.count(F.lit(1)).alias("c"))
    assert per_group.filter(F.col("c") > 7).count() == 0
    again = dataprep.group_cap(
        docs.select("doc_id", "source"), ["source"], "doc_id", 7
    )
    assert capped.join(again, ["doc_id", "source", "sample_rank"]).count() == capped.count()
    capped.unpersist()


def test_pack_sequences_window_arithmetic(spark, docs):
    from hospital_data_engineering_pipeline_end_to_end_project_spark.functions import text as TX

    sized = docs.select(
        "doc_id", "source", F.expr(TX.token_count("text")).cast("long").alias("n_tokens")
    )
    packed = dataprep.pack_sequences(
        sized, "doc_id", "n_tokens", 512, group_cols=["source"]
    ).cache()
    # a doc's pack is the window containing its start offset
    bad = packed.filter(
        (F.col("start_offset") < F.col("pack_id") * 512)
        | (F.col("start_offset") >= (F.col("pack_id") + 1) * 512)
    ).count()
    assert bad == 0
    # offsets within a group are the exclusive prefix sums: contiguous,
    # so consecutive docs tile the token stream with no gaps/overlaps
    total = packed.groupBy("source").agg(
        F.sum("n_tokens").alias("toks"),
        (F.max(F.col("start_offset") + F.col("n_tokens"))).alias("hi"),
    )
    assert total.filter(F.col("toks") != F.col("hi")).count() == 0
    packed.unpersist()


def test_chunk_documents_cover_exactly(spark, docs):
    from hospital_data_engineering_pipeline_end_to_end_project_spark.functions import text as TX

    sized = docs.select("doc_id", F.expr(TX.token_count("text")).cast("long").alias("n_tokens"))
    chunks = dataprep.chunk_documents(sized, "doc_id", "n_tokens", 50).cache()
    cover = chunks.groupBy("doc_id", "n_tokens").agg(
        F.sum(F.col("tok_end") - F.col("tok_start")).alias("covered"),
        F.max("tok_end").alias("hi"),
        F.min("tok_start").alias("lo"),
    )
    assert cover.filter(F.col("covered") != F.col("n_tokens")).count() == 0
    assert cover.filter((F.col("lo") != 0) | (F.col("hi") != F.col("n_tokens"))).count() == 0
    chunks.unpersist()


def test_tfidf_rare_term_beats_common(spark):
    rows = [
        (1, "zebra"), (1, "the"), (1, "the"),
        (2, "the"), (2, "cat"),
        (3, "the"), (3, "dog"),
    ]
    tok = spark.createDataFrame(rows, "doc_id int, term string")
    top1 = dataprep.tfidf_top_terms(tok, "doc_id", "term", k=1)
    got = {r["doc_id"]: r["term"] for r in top1.collect()}
    # 'the' appears in every doc (df=3); the doc-unique terms win even
    # against tf=2 for 'the' in doc 1: 1*4/2 = 2.0 > 2*4/4 = 2.0? tie →
    # ordering: equal score breaks on term asc => 'the' < 'zebra'
    assert got[2] == "cat" and got[3] == "dog"
    assert got[1] == "the", "tie at score 2.0 breaks lexicographically"


def test_contamination_planted_and_broadcast(spark):
    bench_text = "alpha beta gamma delta epsilon zeta"
    rows = [
        (0, bench_text),                                      # benchmark doc
        (1, "intro words then alpha beta gamma delta epsilon tail"),  # copies a 5-gram
        (2, "totally unrelated text with no overlap at all here"),
        (3, "alpha beta gamma but too short overlap"),        # only 3-gram shared
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    from hospital_data_engineering_pipeline_end_to_end_project_spark.operators.dataprep import contamination

    out = contamination(d, "doc_id", "text", F.col("doc_id") == 0, shingle_n=5)
    got = {r["doc_id"]: r["n_contaminated_shingles"] for r in out.collect()}
    assert got == {1: 1}, (
        "doc 1 shares exactly 'alpha beta gamma delta epsilon'; 2 & 3 clean"
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan, (
        "benchmark shingle probe must broadcast, never shuffle the corpus"
    )


def test_repetition_stats_flag_degenerate_doc(spark):
    from hospital_data_engineering_pipeline_end_to_end_project_spark.functions import text as TX

    rows = [(1, "spam ham spam ham spam ham spam ham spam ham"),
            (2, "one two three four five six seven eight nine ten")]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    per = (
        d.select("doc_id", F.explode(F.expr(TX.shingles("text", 3))).alias("s"))
        .groupBy("doc_id", "s").agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id").agg(
            (F.max("c").cast("double") / F.sum("c")).alias("top_ratio"))
    )
    got = {r["doc_id"]: r["top_ratio"] for r in per.collect()}
    assert got[1] > 0.4, "degenerate 2-word loop: one shingle dominates"
    assert got[2] < 0.2, "all-unique text: flat shingle distribution"


def test_pii_scrub_planted(spark):
    from hospital_data_engineering_pipeline_end_to_end_project_spark.plans.data_prep import (
        EMAIL_RE,
        LONGNUM_RE,
    )

    rows = [(1, "contact ada.stone@example.com or card 1234567890123 now")]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    out = d.select(
        F.size(F.regexp_extract_all(F.col("text"), F.lit(EMAIL_RE), 0)).alias("e"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(LONGNUM_RE), 0)).alias("n"),
        F.regexp_replace(
            F.regexp_replace(F.col("text"), EMAIL_RE, "<EMAIL>"),
            LONGNUM_RE,
            "<NUM>",
        ).alias("clean"),
    ).collect()[0]
    assert out["e"] == 1 and out["n"] == 1
    assert out["clean"] == "contact <EMAIL> or card <NUM> now"


def test_q50_weights_cover_default():
    names = [n for n, _ in dataprep.split_thresholds(DP.SPLIT_WEIGHTS)]
    assert names == ["train", "val", "test"]


def test_split_thresholds_full_cumulative_clamps():
    # a cumulative fraction reaching 1.0 mid-list must become the
    # catch-all (None), never the 5-char hex '10000' that compares
    # below 4-char buckets; the empty remainder is dropped
    th = dataprep.split_thresholds({"a": 0.5, "b": 0.5, "c": 0.0})
    assert th == [("a", "8000"), ("b", None)]
    for _, bound in dataprep.split_thresholds({"x": 1.0, "y": 0.0}):
        assert bound is None or len(bound) == dataprep.SPLIT_PREFIX_LEN


def test_hash_split_degenerate_weights(spark):
    d = spark.range(200).withColumnRenamed("id", "doc_id")
    out = dataprep.hash_split(d, "doc_id", {"a": 0.5, "b": 0.5, "c": 0.0})
    counts = {r["split"]: r["n"] for r in
              out.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert counts.get("c", 0) == 0
    assert counts.get("a", 0) + counts.get("b", 0) == 200
    assert 60 <= counts.get("a", 0) <= 140, "a must keep ~half, not 1/16"


def _bm25_tok(spark, rows):
    d = spark.createDataFrame(rows, "doc_id long, text string")
    return d.select(
        "doc_id", F.explode(F.filter(F.split("text", " "), lambda x: x != "")).alias("term")
    )


def test_bm25_ranks_tf_and_length(spark):
    # doc 1: query term twice in a short doc; doc 2: once in a short
    # doc; doc 3: once buried in a long doc; doc 4: no query terms
    tok = _bm25_tok(spark, [
        (1, "scan scan join"),
        (2, "scan join group"),
        (3, "scan " + "filler " * 40),
        (4, "join group sort"),
    ])
    out = {r["doc_id"]: (r["bm25"], r["rank"]) for r in
           dataprep.bm25_topk(tok, "doc_id", "term", ("scan",), k=10).collect()}
    assert 4 not in out, "docs without any query term never score"
    assert out[1][0] > out[2][0] > out[3][0], (
        "higher tf outranks lower; short doc outranks long at equal tf"
    )
    assert out[1][1] == 1


def test_bm25_multi_term_sum_and_topk(spark):
    tok = _bm25_tok(spark, [
        (1, "scan merge join"),
        (2, "scan join join"),
        (3, "merge join join"),
    ])
    out = dataprep.bm25_topk(
        tok, "doc_id", "term", ("scan", "merge"), k=2
    ).collect()
    assert [r["doc_id"] for r in out][0] == 1, "both-term doc wins"
    assert len(out) == 2, "k caps the result"
    assert [r["rank"] for r in out] == [1, 2]


def test_bm25_rejects_empty_query(spark):
    tok = _bm25_tok(spark, [(1, "a b")])
    with pytest.raises(ValueError):
        dataprep.bm25_topk(tok, "doc_id", "term", ())


def test_bm25_log_idf_matches_lucene_formula(spark):
    # log_idf=True is STANDARD BM25 (Lucene ln(1 + odds) idf) — compare
    # against an independent python computation with a tolerance, since
    # libm ln is not bit-reproducible across engines.
    import math

    rows = [
        (1, "scan scan merge join"),
        (2, "scan join join group"),
        (3, "merge " + "filler " * 20),
        (4, "scan merge merge sort"),
    ]
    k1, b = 1.2, 0.75
    corpus = {i: t.split() for i, t in rows}
    n = len(corpus)
    avgdl = sum(len(t) for t in corpus.values()) / n
    terms = ("scan", "merge")
    df = {t: sum(1 for toks in corpus.values() if t in toks) for t in terms}

    def score(doc):
        toks = corpus[doc]
        s = 0.0
        for t in terms:
            tf = toks.count(t)
            if not tf:
                continue
            idf = math.log(1.0 + (n - df[t] + 0.5) / (df[t] + 0.5))
            s += idf * tf * (k1 + 1) / (
                tf + k1 * (1 - b + b * len(toks) / avgdl)
            )
        return s

    out = {
        r["doc_id"]: r["bm25"]
        for r in dataprep.bm25_topk(
            _bm25_tok(spark, rows), "doc_id", "term", terms, k=10,
            k1=k1, b=b, log_idf=True,
        ).collect()
    }
    assert set(out) == {1, 2, 3, 4}, "every doc holds a query term"
    for doc, got in out.items():
        assert got == pytest.approx(score(doc), rel=1e-12)


def test_bm25_zero_length_docs_excluded_from_stats(spark):
    # a caller-supplied doc_lengths frame keeping empty docs (dl=0)
    # must produce the SAME scores as one that drops them — zero-token
    # docs never count toward n_docs / total_tokens
    rows = [(1, "scan join"), (2, "scan scan scan join")]
    tok = _bm25_tok(spark, rows)
    dl_clean = spark.createDataFrame(
        [(1, 2), (2, 4)], "doc_id long, dl long")
    dl_dirty = spark.createDataFrame(
        [(1, 2), (2, 4), (99, 0)], "doc_id long, dl long")
    get = lambda dl: {
        r["doc_id"]: r["bm25"]
        for r in dataprep.bm25_topk(
            tok, "doc_id", "term", ("scan",), doc_lengths=dl
        ).collect()
    }
    assert get(dl_dirty) == get(dl_clean)


def test_quality_filter_every_rule_fires(spark):
    stop_pad = "the a of and to in is for"  # 8 stopwords
    good = ("alpha " + stop_pad + " beta gamma delta epsilon zeta "
            "eta theta iota kappa lam mu nu")  # >= 20 tokens, stopwords
    docs = spark.createDataFrame(
        [
            (1, good),
            (2, "tiny doc"),  # too_short
            (3, ("w. x, y; z! " * 6) + stop_pad),  # high punct, 32 tokens
            (4, "alpha beta gamma " * 8),  # no stopwords -> low_stopword
            (5, stop_pad + " " + ("rep rep rep rep rep " * 10)),  # repetitive
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in dataprep.quality_filter(
        docs, "doc_id", "text", min_tokens=20, max_punct=0.2,
        min_stopword=0.02, max_top_shingle=0.10, shingle_n=5,
    ).collect()}
    assert out[1]["keep"] and out[1]["reason"] is None
    assert out[2]["reason"] == "too_short"
    assert out[3]["reason"] == "high_punct"
    assert out[4]["reason"] == "low_stopword"
    assert out[5]["reason"] == "repetitive"
    assert not any(out[i]["keep"] for i in (2, 3, 4, 5))


def test_quality_filter_first_failure_wins(spark):
    # a doc that is BOTH too short and stopword-free reports the
    # first rule in order, keeping per-rule drop counts disjoint
    docs = spark.createDataFrame(
        [(1, "alpha beta")], "doc_id long, text string"
    )
    row = dataprep.quality_filter(docs, "doc_id", "text").collect()[0]
    assert row["reason"] == "too_short"


def test_temperature_resample_invariants(spark):
    # the smallest group keeps everything; larger groups keep
    # ~sqrt(n_min/n_g); verdicts are a pure function of the id
    rows = [(i, "rare" if i < 40 else "common") for i in range(1040)]
    d = spark.createDataFrame(rows, "doc_id long, lang string")
    out = dataprep.temperature_resample(d, "lang", "doc_id").collect()
    assert len(out) == 1040, "rows are flagged, never dropped"
    by = {}
    for r in out:
        by.setdefault(r["lang"], []).append(r)
    assert all(r["is_kept"] for r in by["rare"]), "smallest group keeps 100%"
    assert all(r["keep_prob"] == 1.0 for r in by["rare"])
    import math

    expect = math.sqrt(40 / 1000)
    got_p = by["common"][0]["keep_prob"]
    assert got_p == pytest.approx(expect, abs=1e-6)
    kept = sum(r["is_kept"] for r in by["common"])
    assert 0.5 * expect * 1000 <= kept <= 1.5 * expect * 1000, (
        "md5 buckets must land near the keep probability"
    )
    # determinism: replay gives identical verdicts
    again = {
        r["doc_id"]: r["is_kept"]
        for r in dataprep.temperature_resample(d, "lang", "doc_id").collect()
    }
    assert all(again[r["doc_id"]] == r["is_kept"] for r in out)


def test_temperature_resample_null_group_survives(spark):
    # a NULL group is a group: its rows must appear in the output
    # (null-safe join), and its count participates in n_min
    rows = [(i, "big") for i in range(100)] + [(200, None), (201, None)]
    d = spark.createDataFrame(rows, "doc_id long, lang string")
    out = dataprep.temperature_resample(d, "lang", "doc_id").collect()
    assert len(out) == 102
    nulls = [r for r in out if r["lang"] is None]
    assert len(nulls) == 2 and all(r["is_kept"] for r in nulls), (
        "the NULL group is smallest -> keep_prob 1.0"
    )
    import math

    big = next(r for r in out if r["lang"] == "big")
    assert big["keep_prob"] == pytest.approx(math.sqrt(2 / 100), abs=1e-6)


def test_boilerplate_stats_flags_hot_ngrams(spark):
    # 30 docs share one boilerplate sentence; 2 docs are unique prose
    boiler = "all rights reserved by the site"
    rows = [(i, f"{boiler} extra{i} words{i} here{i}") for i in range(30)]
    rows += [(100, "completely original text alpha beta"),
             (101, "another unique document gamma delta")]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in dataprep.boilerplate_stats(
        d, "doc_id", "text", shingle_n=3, hot_df=20).collect()}
    assert out[0]["n_hot"] == 4, "the 4 shingles inside the shared sentence"
    assert out[0]["boilerplate_ratio"] == pytest.approx(4 / 7, abs=1e-6)
    assert out[100]["n_hot"] == 0 and out[100]["boilerplate_ratio"] == 0.0


def test_source_divergence_zero_for_identical_distributions(spark):
    rows = [(i, "a", "x y z") for i in range(10)]
    rows += [(100 + i, "b", "x y z") for i in range(20)]
    d = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {r["source"]: r["tvd"] for r in
           dataprep.source_divergence(d, "source", "text").collect()}
    assert out == {"a": 0.0, "b": 0.0}, (
        "same token distribution at different sizes => zero drift"
    )


def test_source_divergence_detects_disjoint_vocab(spark):
    rows = [(1, "a", "x x x x"), (2, "b", "y y y y")]
    d = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {r["source"]: r["tvd"] for r in
           dataprep.source_divergence(d, "source", "text").collect()}
    # each source: its token is 100% local vs 50% global, plus the
    # other token 0% vs 50% -> TVD = 0.5
    assert out["a"] == pytest.approx(0.5) and out["b"] == pytest.approx(0.5)


def test_duplicated_passage_coverage_interval_union(spark):
    """q104 semantics on a planted case: overlapping duplicated grams
    must union (never double-count), clean docs score 0, a fully
    duplicated doc scores 1, and docs shorter than the gram are
    absent."""
    from hospital_data_engineering_pipeline_end_to_end_project_spark.operators import dataprep

    rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "intro text then the quick brown fox jumps over the lazy dog here"),
        (3, "completely unrelated text about shuffles and joins on clusters"),
        (4, "the quick brown fox jumps"),
        (5, "tiny doc"),  # < gram_k tokens: absent
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in dataprep.duplicated_passage_stats(
            d, "doc_id", "text", gram_k=5
        ).collect()
    }
    assert set(out) == {1, 2, 3, 4}
    # doc 1: grams at 0..4 duplicated -> covers tokens 0..8 = 9 of 12
    assert out[1]["n_dup_tokens"] == 9
    assert out[1]["dup_ratio"] == 0.75
    # doc 2 shares the same 9-token passage at offset 3
    assert out[2]["n_dup_tokens"] == 9
    assert out[3]["n_dup_tokens"] == 0 and out[3]["dup_ratio"] == 0.0
    assert out[4]["dup_ratio"] == 1.0

    # abutting intervals: doc pair sharing two disjoint passages
    rows2 = [
        (10, "alpha beta gamma delta eps one two three four five filler x"),
        (11, "alpha beta gamma delta eps other words here one two three four five"),
    ]
    d2 = spark.createDataFrame(rows2, "doc_id long, text string")
    out2 = {
        r["doc_id"]: r
        for r in dataprep.duplicated_passage_stats(
            d2, "doc_id", "text", gram_k=5
        ).collect()
    }
    assert out2[10]["n_dup_tokens"] == 10  # two 5-token passages
    assert out2[11]["n_dup_tokens"] == 10


def test_duplicated_passage_no_gram_window(spark):
    """q104's corpus gram frequency must come from groupBy (map-side
    combine), never a window partitioned by the gram — the same
    hot-key rule as q95; only the bounded per-DOC window may appear."""
    from hospital_data_engineering_pipeline_end_to_end_project_spark.operators import dataprep

    d = spark.createDataFrame(
        [(1, "a b c d e f g"), (2, "a b c d e f z")], "doc_id long, text string"
    )
    out = dataprep.duplicated_passage_stats(d, "doc_id", "text", gram_k=5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    import re

    # every Window node must partition by the doc id, none by the gram
    for spec in re.findall(r"windowspecdefinition\(([^,]+),", plan):
        assert "doc_id" in spec, f"gram-partitioned window in plan:\n{plan}"


def test_contamination_scrub_masks_exact_spans(spark):
    """q107: only the tokens covered by benchmark 5-grams are removed;
    clean docs pass through re-joined; under-length docs untouched;
    benchmark rows never appear in the output."""
    from pyspark.sql import functions as F

    from hospital_data_engineering_pipeline_end_to_end_project_spark.operators import dataprep

    bench = "the famous benchmark question appears here verbatim"
    rows = [
        (1, f"leading words then {bench} and the doc continues with original prose"),
        (2, "totally original document nothing shared with any benchmark at all"),
        (3, "short doc"),
        (100, bench),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in dataprep.contamination_scrub(
            d, "doc_id", "text", F.col("doc_id") >= 100, gram_k=5
        ).collect()
    }
    assert set(out) == {1, 2, 3}
    assert out[1]["n_masked"] == 7  # exactly the 7-token passage
    assert out[1]["clean_text"] == (
        "leading words then and the doc continues with original prose"
    )
    assert out[2]["n_masked"] == 0
    assert out[2]["clean_text"].startswith("totally original")
    assert out[3]["clean_text"] == "short doc"


# ---------------------------------------------------------------------------
# token_budget_mix (q124)
# ---------------------------------------------------------------------------


def test_token_budget_mix_equals_one_level_window(spark):
    """The two-phase quota cut must equal the naive single-window
    greedy prefix — the identity the oracle relies on."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from hospital_data_engineering_pipeline_end_to_end_project_spark.functions import text
    from hospital_data_engineering_pipeline_end_to_end_project_spark.operators import dataprep

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "source", "doc_id", F.size(F.expr(text.tokens("text"))).alias("n_tokens")
    )
    got = sorted(
        map(
            tuple,
            dataprep.token_budget_mix(
                d, "source", "doc_id", "n_tokens", budget=5000
            ).collect(),
        )
    )
    w = (
        Window.partitionBy("source")
        .orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    naive = sorted(
        map(
            tuple,
            d.withColumn("cum", F.sum(F.col("n_tokens").cast("long")).over(w))
            .filter(F.col("cum") <= 5000)
            .select("source", "doc_id", F.col("n_tokens").cast("long"))
            .collect(),
        )
    )
    assert got == naive and len(got) > 0


def test_token_budget_mix_greedy_prefix_semantics(spark):
    """A boundary-crossing doc is dropped AND blocks later docs —
    the defined greedy-prefix cut, not a knapsack backfill."""
    from hospital_data_engineering_pipeline_end_to_end_project_spark.operators import dataprep

    rows = [("s", i, 40) for i in range(10)]  # 400 tokens total
    df = spark.createDataFrame(rows, "source string, doc_id int, n_tokens int")
    kept = dataprep.token_budget_mix(
        df, "source", "doc_id", "n_tokens", budget=100
    ).collect()
    # exactly floor(100/40) = 2 docs fit
    assert len(kept) == 2
    assert all(r["n_tokens"] == 40 for r in kept)


def test_token_budget_mix_exact_boundary_keeps_zero_token_docs(spark):
    """When a bucket's EXCLUSIVE prefix exactly equals the budget,
    zero-token docs at its head still satisfy the one-level definition
    (cum <= budget) and must be kept — the r09-advisory regression.
    ids chosen by md5 bucket: 6 -> bucket 22 (tokens = budget), 19 ->
    bucket 31 head (0 tokens), 24 -> bucket 31 (positive tokens)."""
    from hospital_data_engineering_pipeline_end_to_end_project_spark.operators import dataprep

    rows = [("s", 6, 10), ("s", 19, 0), ("s", 24, 5)]
    df = spark.createDataFrame(rows, "source string, doc_id int, n_tokens int")
    kept = sorted(
        r["doc_id"]
        for r in dataprep.token_budget_mix(
            df, "source", "doc_id", "n_tokens", budget=10
        ).collect()
    )
    assert kept == [6, 19]


def test_pack_sequences_two_level_equals_one_level(spark):
    """The bucketed prefix sum must equal the naive single-window
    cumsum — the identity the q52 oracle relies on (including
    negative and sparse order keys, where the bucket floor must stay
    monotonic)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from hospital_data_engineering_pipeline_end_to_end_project_spark.operators import dataprep

    rows = [
        ("s", k, (abs(k) % 37) + 1)
        for k in [-9000, -5000, -1, 0, 1, 7, 4095, 4096, 4097, 100000, 999999]
    ]
    df = spark.createDataFrame(rows, "src string, doc int, toks int")
    got = sorted(
        map(
            tuple,
            dataprep.pack_sequences(
                df, "doc", "toks", budget=50, group_cols=["src"]
            ).collect(),
        )
    )
    w = (
        Window.partitionBy("src")
        .orderBy("doc")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    t = F.col("toks").cast("long")
    naive = sorted(
        map(
            tuple,
            df.withColumn("start_offset", F.sum(t).over(w) - t)
            .withColumn("pack_id", F.expr("start_offset DIV 50"))
            .collect(),
        )
    )
    assert got == naive


def test_leakage_free_split_cluster_coherence(spark):
    # clusters {1,2,3} (label 1) and {10, 11} (label 10); 20/21 have
    # no near-dup anywhere so they are absent from the label table
    docs = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 10, 11, 20, 21)], "doc_id long"
    )
    labels = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)], "node long, label long"
    )
    out = dataprep.leakage_free_split(docs, labels, "doc_id").cache()
    rows = {r["doc_id"]: r for r in out.collect()}
    # every cluster member lands in exactly one split: the label's
    assert len({rows[i]["split"] for i in (1, 2, 3)}) == 1
    assert len({rows[i]["split"] for i in (10, 11)}) == 1
    # and hashes the label as the unit, not its own id
    assert all(rows[i]["unit"] == 1 for i in (1, 2, 3))
    assert all(rows[i]["unit"] == 10 for i in (10, 11))
    # unlabeled docs fall back to the per-doc split (q50 semantics)
    solo = dataprep.hash_split(
        docs.filter(F.col("doc_id") >= 20), "doc_id"
    ).collect()
    for r in solo:
        assert rows[r["doc_id"]]["split"] == r["split"]
        assert rows[r["doc_id"]]["bucket"] == r["bucket"]
    out.unpersist()


def test_leakage_free_split_no_cross_split_edges(spark, docs):
    # end-to-end invariant on real data: NO near-dup edge crosses a
    # split boundary (the exact leakage a per-doc split permits)
    from hospital_data_engineering_pipeline_end_to_end_project_spark.operators import (
        components,
        dedupe,
    )

    bands = dedupe.minhash_bands(
        docs, "doc_id", "text", num_hashes=8, bands=4, shingle_n=5
    )
    pairs = dedupe.near_dup_candidates(bands, "doc_id").cache()
    labels = components.label_propagation_min(pairs, rounds=3)
    out = dataprep.leakage_free_split(docs.select("doc_id"), labels, "doc_id")
    s = out.select("doc_id", "split")
    crossing = (
        pairs.join(s.withColumnRenamed("doc_id", "id_a").withColumnRenamed("split", "sa"), "id_a")
        .join(s.withColumnRenamed("doc_id", "id_b").withColumnRenamed("split", "sb"), "id_b")
        .filter(F.col("sa") != F.col("sb"))
        .count()
    )
    assert crossing == 0
    # the per-doc split DOES leak on the same graph (the hole exists)
    naive = dataprep.hash_split(docs.select("doc_id"), "doc_id").select("doc_id", "split")
    leaked = (
        pairs.join(naive.withColumnRenamed("doc_id", "id_a").withColumnRenamed("split", "sa"), "id_a")
        .join(naive.withColumnRenamed("doc_id", "id_b").withColumnRenamed("split", "sb"), "id_b")
        .filter(F.col("sa") != F.col("sb"))
        .count()
    )
    assert leaked > 0, "fixture has no cross-split near-dup edges to guard against"
    pairs.unpersist()


def test_leakage_free_split_merge_moves_one_side_coherently(spark):
    # two clusters with different splits, then a bridge merges them:
    # the union takes the min-label's split wholesale (one side must
    # move — a leakage-free split can't straddle a cluster)
    from hospital_data_engineering_pipeline_end_to_end_project_spark.operators import components

    docs = spark.createDataFrame([(i,) for i in range(1, 9)], "doc_id long")
    day1 = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 3), (4, 3)], "node long, label long"
    )
    before = {
        r["doc_id"]: r["split"]
        for r in dataprep.leakage_free_split(docs, day1, "doc_id").collect()
    }
    # doc 5 arrives bridging clusters 1 and 3
    bridge = spark.createDataFrame(
        [(5, 2), (5, 4)], "id_a long, id_b long"
    )
    day2 = components.incremental_labels(day1, bridge)
    after = {
        r["doc_id"]: r["split"]
        for r in dataprep.leakage_free_split(docs, day2, "doc_id").collect()
    }
    merged = {after[i] for i in (1, 2, 3, 4, 5)}
    assert len(merged) == 1, "merged cluster must land in ONE split"
    # and it is the min-label (=1) cluster's pre-merge split
    assert merged == {before[1]}
    # untouched docs never move
    for i in (6, 7, 8):
        assert after[i] == before[i]


def test_leakage_free_split_stable_under_pure_growth(spark):
    # growing the corpus with docs that bridge nothing (the scaled-
    # fixture construction: new ids, per-copy salted texts => 5-gram
    # shingle sets disjoint from the base corpus) must not move ANY
    # existing doc's split: labels are min ids, new ids are larger,
    # and no merge path exists.  The complementary claim to the merge
    # test above (merges move one side; growth moves nothing).
    from hospital_data_engineering_pipeline_end_to_end_project_spark.operators import (
        components,
        dedupe,
    )

    base = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    salted = base.select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        F.regexp_replace("text", r"(\S+\s+\S+\s+\S+\s+\S+\s+)\S+", r"$1w1x").alias("text"),
    )
    grown = base.union(salted)

    def split_of(docs):
        bands = dedupe.minhash_bands(docs, "doc_id", "text")
        labels = components.label_propagation_min(
            dedupe.near_dup_candidates(bands, "doc_id"), rounds=3
        )
        return dataprep.leakage_free_split(
            docs.select("doc_id"), labels, "doc_id"
        ).select("doc_id", "split")

    before = {r["doc_id"]: r["split"] for r in split_of(base).collect()}
    after = {
        r["doc_id"]: r["split"]
        for r in split_of(grown).filter(F.col("doc_id") < 10_000_000).collect()
    }
    assert after == before
