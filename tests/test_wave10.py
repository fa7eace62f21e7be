"""Unit tests for the round-10 wave operators (q126-q131) — oracle
parity is covered by test_oracle_parity / test_gate_scale_parity;
these pin the operator-level invariants the oracles can't express."""

from __future__ import annotations

from pyspark.sql import functions as F

from hospital_data_engineering_pipeline_end_to_end_project_spark.functions import text
from hospital_data_engineering_pipeline_end_to_end_project_spark.operators import components, dataprep, similarity

from tests.conftest import SF_SMOKE


# ---------------------------------------------------------------------------
# hamming rerank
# ---------------------------------------------------------------------------


def test_hamming_rerank_full_shortlist_equals_exact(spark):
    """With shortlist = |corpus| - 1 the Hamming stage prunes nothing,
    so the rerank must return exactly cosine_topk's result."""
    e = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    n = e.count()
    q = e.filter(F.col("vec_id") < 3)
    rr = similarity.hamming_rerank_topk(
        q, e, dim=64, shortlist=n - 1, k=4
    )
    ex = similarity.cosine_topk(q, e, k=4)
    got = sorted(map(tuple, rr.select("query_id", "neighbor_id", "cos_sim").collect()))
    want = sorted(map(tuple, ex.select("query_id", "neighbor_id", "cos_sim").collect()))
    assert got == want and len(got) == 12


def test_hamming_rerank_scores_only_shortlist(spark):
    """Every reranked neighbor must come from the Hamming shortlist —
    the tiering contract (exact scoring touches ~shortlist/|corpus|
    of the pairs, nothing else)."""
    e = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 3)
    short = similarity.binary_hamming_topk(q, e, dim=64, k=10)
    rr = similarity.hamming_rerank_topk(q, e, dim=64, shortlist=10, k=5)
    allowed = {
        (r["query_id"], r["neighbor_id"]) for r in short.collect()
    }
    got = {(r["query_id"], r["neighbor_id"]) for r in rr.collect()}
    assert got <= allowed and len(got) == 15


# ---------------------------------------------------------------------------
# ann recall eval
# ---------------------------------------------------------------------------


def test_ann_recall_hand_computed(spark):
    approx = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (1, 12, 3),
         (2, 20, 1), (2, 21, 2), (2, 22, 3)],
        "query_id int, neighbor_id int, rank int",
    )
    exact = spark.createDataFrame(
        [(1, 10, 1), (1, 12, 2), (1, 99, 3),
         (2, 77, 1), (2, 78, 2), (2, 79, 3)],
        "query_id int, neighbor_id int, rank int",
    )
    got = {
        r["query_id"]: (r["n_hits"], r["recall"])
        for r in similarity.ann_recall_at_k(approx, exact, k=3).collect()
    }
    assert got == {1: (2, round(2 / 3, 6)), 2: (0, 0.0)}


def test_ann_recall_self_is_one(spark):
    e = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 4)
    ex = similarity.cosine_topk(q, e, k=5)
    out = similarity.ann_recall_at_k(ex, ex, k=5).collect()
    assert len(out) == 4 and all(r["recall"] == 1.0 for r in out)


# ---------------------------------------------------------------------------
# bigram fluency
# ---------------------------------------------------------------------------


def test_bigram_fluency_hand_computed(spark):
    # corpus bigrams: (a b) x2 from docs 1,2; (b c) x1; (b a) x1
    # prefix counts: a->2, b->2
    # doc1 "a b c": p(b|a)=2/2=1.0, p(c|b)=1/2=0.5 -> mean 0.75
    # doc2 "a b a": p(b|a)=1.0, p(a|b)=0.5 -> mean 0.75
    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b a")], "doc_id int, text string"
    )
    got = {
        r["doc_id"]: (r["n_bigrams"], r["fluency"])
        for r in dataprep.bigram_fluency(df, "doc_id", "text").collect()
    }
    assert got == {1: (2, 0.75), 2: (2, 0.75)}


def test_bigram_fluency_skips_short_docs(spark):
    df = spark.createDataFrame(
        [(1, "solo"), (2, ""), (3, "a a")], "doc_id int, text string"
    )
    got = dataprep.bigram_fluency(df, "doc_id", "text").collect()
    # only doc 3 has a bigram; p(a|a) = 1/1
    assert [(r["doc_id"], r["fluency"]) for r in got] == [(3, 1.0)]


# ---------------------------------------------------------------------------
# label propagation
# ---------------------------------------------------------------------------


def test_label_propagation_path_graph_rounds(spark):
    # path 1-2-3-4-5: after 1 round node 3 sees min(2,3,4)=2; after 3
    # rounds every node within 3 hops of node 1 carries label 1
    edges = [(1, 2), (2, 3), (3, 4), (4, 5)]
    df = spark.createDataFrame(edges, "id_a int, id_b int")
    one = {
        r["node"]: r["label"]
        for r in components.label_propagation_min(df, rounds=1).collect()
    }
    assert one == {1: 1, 2: 1, 3: 2, 4: 3, 5: 4}
    three = {
        r["node"]: r["label"]
        for r in components.label_propagation_min(df, rounds=3).collect()
    }
    assert three == {1: 1, 2: 1, 3: 1, 4: 1, 5: 2}


def test_label_propagation_converged_equals_components(spark):
    # two triangles + an isolate pair: enough rounds -> per-component
    # min id, i.e. connected components
    edges = [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (20, 21)]
    df = spark.createDataFrame(edges, "id_a int, id_b int")
    got = {
        r["node"]: r["label"]
        for r in components.label_propagation_min(df, rounds=4).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


# ---------------------------------------------------------------------------
# deterministic reservoir
# ---------------------------------------------------------------------------


def test_reservoir_sizes_and_determinism(spark):
    d = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    out1 = dataprep.deterministic_reservoir(d, "lang", "doc_id", k=7)
    sizes = {
        r["lang"]: r["n"]
        for r in out1.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    per_group = {
        r["lang"]: r["n"]
        for r in d.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    assert sizes == {g: min(7, n) for g, n in per_group.items()}
    # same draw on a re-run (content-independent md5 order)
    out2 = dataprep.deterministic_reservoir(d, "lang", "doc_id", k=7)
    assert sorted(map(tuple, out1.collect())) == sorted(map(tuple, out2.collect()))


# ---------------------------------------------------------------------------
# canonical_url
# ---------------------------------------------------------------------------


def test_canonical_url_cases(spark):
    rows = [
        (1, "HTTPS://WWW.Example.COM:443/Docs/Page/?utm_source=x&b=2&a=1#frag"),
        (2, "https://example.com/Docs/Page?a=1&b=2"),
        (3, "HTTP://example.com:80"),
        (4, "http://example.com/"),
        (5, "https://other.org/path/?fbclid=abc"),
        (6, "https://example.com:8443/x"),  # NON-default port survives
    ]
    df = spark.createDataFrame(rows, "id int, url string")
    got = {
        r["id"]: r["c"]
        for r in df.select("id", F.expr(text.canonical_url("url")).alias("c")).collect()
    }
    assert got[1] == got[2] == "https://example.com/Docs/Page?a=1&b=2"
    assert got[3] == got[4] == "http://example.com/"
    assert got[5] == "https://other.org/path"
    assert got[6] == "https://example.com:8443/x"
