"""Higher-order expressions are built as SQL text.

The engine writes every ``transform`` / ``filter`` / ``aggregate`` /
``zip_with`` / ``array_sort`` as SQL text handed to Spark in one call
(``functions/sqltext.py``): a Python-lambda ``F.transform`` costs ~24
Py4J round trips, its SQL text 3.  These tests keep it that way (an
AST guard and round-trip ceilings on three hot builders) and pin the
converted helpers' outputs on degenerate inputs to the values the
Python-lambda versions returned: NULL, empty and blank text, documents
shorter than or exactly as long as the shingle/window width, empty,
all-zero and NULL-element vectors.
"""

from __future__ import annotations

import ast
import pathlib

import pytest
from pyspark.errors import ArithmeticException
from pyspark.sql import functions as F

import hospital_data_engineering_pipeline_end_to_end_project_spark as pkg
from hospital_data_engineering_pipeline_end_to_end_project_spark.functions import text as TX
from hospital_data_engineering_pipeline_end_to_end_project_spark.functions import vectors as V
from hospital_data_engineering_pipeline_end_to_end_project_spark.operators import dedupe, similarity
from tests.conftest import py4j_round_trips

HIGHER_ORDER = {
    "transform", "filter", "aggregate", "zip_with", "exists", "forall", "reduce",
    "map_filter", "map_zip_with", "transform_keys", "transform_values", "array_sort",
}


def test_no_column_api_higher_order_call_in_the_package():
    root = pathlib.Path(pkg.__file__).parent
    found = []
    for path in sorted(root.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            called = (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and isinstance(node.func.value, ast.Name)
                and node.func.value.id == "F"
                and node.func.attr in HIGHER_ORDER
            )
            imported = (
                isinstance(node, ast.ImportFrom)
                and node.module == "pyspark.sql.functions"
                and any(a.name in HIGHER_ORDER for a in node.names)
            )
            if called or imported:
                found.append(f"{path.relative_to(root)}:{node.lineno}")
    assert not found


#: Py4J round trips of each build with the Python-lambda helpers, counted
#: with ``py4j_round_trips`` on the frames below; the SQL-text builds
#: must stay within a tenth of them
LAMBDA_ROUND_TRIPS = {"cdc_chunks": 344, "minhash_signature": 929, "int8_quantize": 185}


@pytest.mark.parametrize("name", sorted(LAMBDA_ROUND_TRIPS))
def test_build_round_trips_are_a_tenth_of_the_lambda_form(spark, name):
    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    emb = spark.createDataFrame([(1, [1.0, 2.0])], "vec_id long, embedding array<float>")
    build = {
        "cdc_chunks": lambda: dedupe.cdc_chunks(docs, "doc_id", "text"),
        "minhash_signature": lambda: docs.select(F.expr(TX.minhash_signature("text"))),
        "int8_quantize": lambda: similarity.int8_quantize(emb, "vec_id", "embedding"),
    }[name]
    counts = []
    for _ in range(3):
        with py4j_round_trips() as n:
            build()
        counts.append(n[0])
    # the fewest of three builds: the first look-ups of JVM classes add
    # reflection commands that later builds answer from Py4J's caches
    assert min(counts) <= LAMBDA_ROUND_TRIPS[name] // 10, counts


RAISES = object()
TEXTS = [None, '', ' ', '  ', 'a', 'a b', 'a  b ', 'the cat', 'a b c d', 'a b c d e']
QF = TX.quality_features("text")
TEXT_CASES = [
    ('tokens', TX.tokens('text'), [None, [], [], [], ['a'], ['a', 'b'], ['a', 'b'], ['the', 'cat'], ['a', 'b', 'c', 'd'], ['a', 'b', 'c', 'd', 'e']]),
    ('token_count', TX.token_count('text'), [None, 0, 0, 0, 1, 2, 2, 2, 4, 5]),
    ('shingles3', TX.shingles('text', 3), [[], [], [], [], [], [], [], [], ['a b c', 'b c d'], ['a b c', 'b c d', 'c d e']]),
    ('shingles5', TX.shingles('text', 5), [[], [], [], [], [], [], [], [], [], ['a b c d e']]),
    ('fingerprint', TX.fingerprint('text'), [None, 'd41d8cd98f00b204e9800998ecf8427e', 'd41d8cd98f00b204e9800998ecf8427e', 'd41d8cd98f00b204e9800998ecf8427e', '0cc175b9c0f1b6a831c399e269772661', '0cc9cd4dd26c5137b675a0d819cb9ab0', '0cc9cd4dd26c5137b675a0d819cb9ab0', 'e2030892686c184415adcc5f16a7fe12', '713f592bd537f7725d491a03e837d64a', '2438b89b82c22b3d063b2ee165c033c0']),
    ('minhash', TX.minhash_signature('text', 4, 3), [[None, None, None, None], [None, None, None, None], [None, None, None, None], [None, None, None, None], [None, None, None, None], [None, None, None, None], [None, None, None, None], [None, None, None, None], ['03fc8268566882c63dd8103c8160886e', '683496becb7e585efd0a671a4eb1c455', '39f71e8d55b0e13de4e670d7baf0b532', 'be00a8c8e8c38fd720e6c81dbd9f7c14'], ['03fc8268566882c63dd8103c8160886e', '5b2a1c2bb009d746e17413c21963b073', '39f71e8d55b0e13de4e670d7baf0b532', '3abc9680c6d92c3749f692faceacdafd']]),
    ('lang_guess', TX.lang_guess('text'), ['und', 'und', 'und', 'und', 'en', 'en', 'en', 'en', 'en', 'en']),
    ('lang_hits', TX.lang_hits('text', 'en'), [None, 0, 0, 0, 1, 1, 1, 1, 1, 1]),
    ('avg_token_len', QF['avg_token_len'], [None, RAISES, RAISES, RAISES, 1.0, 1.0, 2.0, 3.0, 1.0, 1.0]),
    ('punct_ratio', QF['punct_ratio'], [None, RAISES, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]),
    ('stopword_ratio', QF['stopword_ratio'], [None, RAISES, RAISES, RAISES, 1.0, 0.5, 0.5, 0.5, 0.25, 0.2]),
]


@pytest.mark.parametrize("name, expr, want", TEXT_CASES, ids=[c[0] for c in TEXT_CASES])
def test_text_helper_on_degenerate_text(spark, name, expr, want):
    df = spark.createDataFrame(list(enumerate(TEXTS)), "id int, text string")
    ok = [i for i, w in enumerate(want) if w is not RAISES]
    got = df.filter(F.col("id").isin(ok)).orderBy("id").select(F.expr(expr)).collect()
    assert [r[0] for r in got] == [want[i] for i in ok]
    for i in sorted(set(range(len(want))) - set(ok)):
        with pytest.raises(ArithmeticException, match="DIVIDE_BY_ZERO"):
            df.filter(F.col("id") == i).select(F.expr(expr)).collect()


def test_canonical_url_on_degenerate_urls(spark):
    urls = [
        None, "", "HTTPS://WWW.Site.com:443/a/?utm_x=1&b=2#frag", "https://site.com/a?b=2",
        "http://x.org:80/", "ftp://a.b/c/?z=1&a=2&fbclid=3&&", "noscheme/path?q",
    ]
    df = spark.createDataFrame(list(enumerate(urls)), "id int, url string")
    got = [r[0] for r in df.orderBy("id").select(F.expr(TX.canonical_url("url"))).collect()]
    assert got == [None, ':///', 'https://site.com/a?b=2', 'https://site.com/a?b=2', 'http://x.org/', 'ftp://a.b/c?a=2&z=1', '://noscheme/path?q']


VECTORS = [None, [], [0.0, 0.0], [1.0, None, 2.0], [3.0, 4.0], [-1.5, 2.25, 0.1]]
A, B = V.as_double("a"), V.as_double("b")
VECTOR_CASES = [
    (A, [None, [], [0.0, 0.0], [1.0, None, 2.0], [3.0, 4.0], [-1.5, 2.25, 0.10000000149011612]]),
    (V.dot(A, B), [None, 0.0, 0.0, None, 25.0, 7.322500000298024]),
    (V.norm(A), [None, 0.0, 0.0, None, 5.0, 2.7060118256020287]),
    (V.cosine(A, B), [None, None, None, None, 1.0, 0.9999999999999999]),
]


@pytest.mark.parametrize("expr, want", VECTOR_CASES, ids=["as_double", "dot", "norm", "cosine"])
def test_vector_helper_on_degenerate_vectors(spark, expr, want):
    df = spark.createDataFrame(
        [(i, v, v) for i, v in enumerate(VECTORS)], "id int, a array<float>, b array<float>"
    )
    assert [r[0] for r in df.orderBy("id").select(F.expr(expr)).collect()] == want


DOCS = [None, '', ' ', 'a', 'a b c', 'a b c d', 'a b c d e', 'a b c d e f g', 'x  y   z w v u']
EMBEDDINGS = [None, [], [0.0, 0.0, 0.0], [1.0, None, 2.0], [3.0, -4.0, 0.5], [-0.0, 0.0, 1e-30]]
OPERATOR_CASES = {
    'cdc_chunks': [(3, 0, 'a', '0cc175b9c0f1b6a831c399e269772661', 1), (4, 0, 'a b', '0cc9cd4dd26c5137b675a0d819cb9ab0', 2), (4, 1, 'c', '4a8a08f09d37b73795649038408b5f33', 1), (5, 0, 'a b', '0cc9cd4dd26c5137b675a0d819cb9ab0', 2), (5, 1, 'c', '4a8a08f09d37b73795649038408b5f33', 1), (5, 2, 'd', '8277e0910d750195b448797616e091ad', 1), (6, 0, 'a b', '0cc9cd4dd26c5137b675a0d819cb9ab0', 2), (6, 1, 'c', '4a8a08f09d37b73795649038408b5f33', 1), (6, 2, 'd e', '450162cfa29e3a67ab8b112dd52ae0cf', 2), (7, 0, 'a b', '0cc9cd4dd26c5137b675a0d819cb9ab0', 2), (7, 1, 'c', '4a8a08f09d37b73795649038408b5f33', 1), (7, 2, 'd e f g', '2dd050a1d22d837d93498d2dde7a6c50', 4), (8, 0, 'x y', 'c8d1ae9296335b1cfc3d0d1b47b664a7', 2), (8, 1, 'z w v', '2197915acf8d8590a3b3a38291670d10', 3), (8, 2, 'u', '7b774effe4a349c6dd82ad4f4f21d34c', 1)],
    'winnow': [(5, 3, 1, 1), (6, 4, 2, 2), (7, 6, 2, 2), (8, 5, 2, 0)],
    'positional': [(4, 1, 31251835280889960), (5, 1, 31251835280889960), (5, 2, 1055666374991771615), (6, 1, 31251835280889960), (6, 2, 1055666374991771615), (6, 3, 807504690253920617), (7, 1, 31251835280889960), (7, 2, 1055666374991771615), (7, 3, 807504690253920617), (7, 4, 776571347988452162), (7, 5, 1060424156601190568), (8, 1, 723234506915196236), (8, 2, 204318808478800630), (8, 3, 151285196496885849), (8, 4, 118392717514274585)],
    'simhash16': [(0, 0), (1, 0), (2, 0), (3, 7360), (4, 48288), (5, 15392), (6, 15912), (7, 15912), (8, 17309)],
    'int8': [(3, 0.015748031496062992, None, [64, None, 127]), (4, 0.031496062992125984, 5.024937810560445, [95, -127, 16]), (5, 7.874015773000605e-33, 1.0000000031710769e-30, [0, 0, 127])],
    'ivf_assign': [(0, None), (1, None), (2, 0), (3, None), (4, 0), (5, 0)],
}


def _operator(name, docs, emb):
    return {
        "cdc_chunks": lambda: dedupe.cdc_chunks(docs, "doc_id", "text", w=2, boundary_mod=2),
        "winnow": lambda: dedupe.winnowing_fingerprints(docs, "doc_id", "text", k=2, w=3),
        "positional": lambda: dedupe.positional_gram_hashes(docs, "doc_id", "text", 3),
        "simhash16": lambda: docs.select("doc_id", dedupe.simhash16("text")),
        # all-zero vectors are dropped; NULL elements give a NULL norm
        "int8": lambda: similarity.int8_quantize(emb, "vec_id", "embedding"),
        "ivf_assign": lambda: similarity.assign_ivf_cluster(
            emb, [[0.0, 0.0, 0.0], [1.0, 1.0, 1.0]], "embedding"
        ).select("vec_id", "cluster"),
    }[name]()


@pytest.mark.parametrize("name", sorted(OPERATOR_CASES))
def test_operator_on_degenerate_input(spark, name):
    docs = spark.createDataFrame(list(enumerate(DOCS)), "doc_id long, text string")
    emb = spark.createDataFrame(list(enumerate(EMBEDDINGS)), "vec_id long, embedding array<float>")
    got = sorted(tuple(r) for r in _operator(name, docs, emb).collect())
    assert got == [tuple(r) for r in OPERATOR_CASES[name]]
