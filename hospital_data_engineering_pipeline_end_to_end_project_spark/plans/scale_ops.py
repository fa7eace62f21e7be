"""Scale-technique query catalog (q118-q123, round 9 third wave).

Six operators a 100 TB pipeline reaches for when the first-line tools
(flat scans, exact joins, full groupBys) stop fitting — each one a
bounded-state or bounded-volume reformulation of an unbounded
computation, and each still bit-exact against its DuckDB oracle:

- q118 binary sign quantization + Hamming top-k — the 1-bit ANN
  scorer (XOR+popcount over packed words; pure integer, so exactness
  is free)
- q119 Johnson-Lindenstrauss sign projection — 64->16 dims at scan
  speed, the cheap front of an ANN pipeline
- q120 broadcast-Bloom prefiltered semi join — kill probe rows at
  scan speed before they shuffle; exact join semantics preserved
- q121 market-basket co-purchase lift — per-basket capped pair
  mining with integer-exact association scores
- q122 count-min heavy hitters — frequency estimation in
  depth x width counters regardless of corpus size, audited against
  exact counts
- q123 fixed-point PageRank — iterative graph centrality made
  oracle-replayable by integer fixed-point arithmetic

Exactness arguments live on the operators
(``operators/similarity.py``, ``operators/bloom.py``,
``operators/cooccur.py``, ``operators/components.py``,
``functions/metrics.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hospital_data_engineering_pipeline_end_to_end_project_spark.functions import metrics, text
from hospital_data_engineering_pipeline_end_to_end_project_spark.operators import bloom, components, cooccur, similarity
from hospital_data_engineering_pipeline_end_to_end_project_spark.operators.parallelism import fan_out
from hospital_data_engineering_pipeline_end_to_end_project_spark.plans.data_prep import TOKS_SQL
from hospital_data_engineering_pipeline_end_to_end_project_spark.plans.llm_ops import Q25_SQL
from hospital_data_engineering_pipeline_end_to_end_project_spark.plans.relational import _sql_dsum, dsum
from hospital_data_engineering_pipeline_end_to_end_project_spark.sources.readers import load_table

# ---------------------------------------------------------------------------
# q118 — binary sign quantization + Hamming top-k
#
# Everything is integer (pack = sum of distinct powers of two,
# distance = popcount of XOR), so Spark/DuckDB parity needs no
# rounding argument at all.  32-bit words on purpose: a 64-bit pack
# would hit the BIGINT sign bit, where Spark wraps and DuckDB raises.
# ---------------------------------------------------------------------------

_Q118_NQ = 8
_Q118_K = 10
_Q118_DIM = 64


def q118_binary_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return similarity.binary_hamming_topk(
        e.filter(F.col("vec_id") < _Q118_NQ), e, dim=_Q118_DIM, k=_Q118_K
    )


_PACK_SQL = """
SELECT vec_id,
  [ list_sum([CASE WHEN embedding[32*w + i + 1] > 0
              THEN (1::BIGINT << i) ELSE 0::BIGINT END
              FOR i IN range(32)])
    FOR w IN range(2) ] AS code
FROM embeddings
"""

Q118_SQL = f"""
WITH packed AS ({_PACK_SQL}),
q AS (SELECT vec_id AS query_id, code AS qc FROM packed WHERE vec_id < {_Q118_NQ}),
scored AS (
  SELECT q.query_id, p.vec_id AS neighbor_id,
    CAST(bit_count(xor(qc[1], code[1])) + bit_count(xor(qc[2], code[2])) AS BIGINT) AS hamming
  FROM q JOIN packed p ON p.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, hamming, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY hamming ASC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= {_Q118_K}
"""


# ---------------------------------------------------------------------------
# q119 — Johnson-Lindenstrauss sign projection (64 -> 16)
#
# The +-1 matrix is a pure function of (seed, k, j) — md5 parity —
# so the SAME literal matrix appears in the Spark plan (one parsed
# _dmatrix expression) and in this static SQL string, with no SF
# coupling.  Components are the sequential zip-fold dot (= DuckDB
# list_dot_product) times one exact power-of-two scale 1/sqrt(16);
# the norm ratio folds the UNROUNDED components in the same order on
# both engines.
# ---------------------------------------------------------------------------

_Q119_OUT_DIM = 16
_Q119_DIM = 64
_JL_SIGNS = similarity.jl_sign_matrix(_Q119_DIM, _Q119_OUT_DIM)
_JL_INV = repr(1.0 / float(_Q119_OUT_DIM) ** 0.5)


def q119_jl_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return similarity.jl_project(
        e, dim=_Q119_DIM, out_dim=_Q119_OUT_DIM
    )


def _jl_matrix_sql() -> str:
    rows = ", ".join(
        "[" + ", ".join(repr(x) for x in row) + "]" for row in _JL_SIGNS
    )
    return "[" + rows + "]"


Q119_SQL = f"""
WITH base AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
),
proj AS (
  SELECT vec_id,
    sqrt(list_dot_product(v, v)) AS vn,
    [list_dot_product(v, m) * {_JL_INV} FOR m IN {_jl_matrix_sql()}] AS p
  FROM base
)
SELECT vec_id,
  {", ".join(f"round(p[{k + 1}], 6) AS p{k + 1}" for k in range(_Q119_OUT_DIM))},
  round(sqrt(list_dot_product(p, p)) / nullif(vn, 0.0), 6) AS norm_ratio
FROM proj
"""


# ---------------------------------------------------------------------------
# q120 — broadcast-Bloom prefiltered semi join
#
# The Bloom filter is a pure prefilter (no false negatives; false
# positives die in the exact semi join), so the result is
# hash-family-independent and the oracle is the PLAIN semi join —
# the strongest possible check that the fast path changed nothing.
# ---------------------------------------------------------------------------

_Q120_SEGMENT = "BUILDING"
_Q120_M_BITS = 65536


def q120_bloom_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == _Q120_SEGMENT
    )
    j = bloom.bloom_semi_join(
        o, c.select("c_custkey"), "o_custkey", "c_custkey",
        m_bits=_Q120_M_BITS, n_hashes=3,
    )
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        dsum("o_totalprice", "total_price"),
    )


Q120_SQL = f"""
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       {_sql_dsum('o_totalprice', 'total_price')}
FROM orders
WHERE o_custkey IN (SELECT c_custkey FROM customer
                    WHERE c_mktsegment = '{_Q120_SEGMENT}')
GROUP BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# q121 — market-basket co-purchase lift (suppliers co-occurring in an
# order)
#
# All support counts are integers over the per-basket CAPPED item
# sets (deterministic lowest-md5 cap, replayed in SQL); lift is one
# double division of two exact int64 products, rounded — the only
# float op in the query.
# ---------------------------------------------------------------------------

_Q121_CAP = 8
_Q121_MINSUP = 2


def q121_copurchase_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    return cooccur.copurchase_lift(
        l.select("l_orderkey", "l_suppkey"),
        "l_orderkey",
        "l_suppkey",
        cap=_Q121_CAP,
        min_support=_Q121_MINSUP,
    )


Q121_SQL = f"""
WITH items AS (
  SELECT DISTINCT l_orderkey AS basket, l_suppkey AS item FROM lineitem
),
capped AS (
  SELECT basket, item FROM (
    SELECT basket, item,
           row_number() OVER (PARTITION BY basket
                              ORDER BY md5(CAST(item AS VARCHAR)) ASC, item ASC) AS rn
    FROM items
  ) WHERE rn <= {_Q121_CAP}
),
ic AS (SELECT item, count(*) AS c FROM capped GROUP BY item),
nb AS (SELECT count(DISTINCT basket) AS n FROM capped),
p AS (
  SELECT a.item AS item_a, b.item AS item_b, count(*) AS c_ab
  FROM capped a JOIN capped b ON a.basket = b.basket AND a.item < b.item
  GROUP BY a.item, b.item
  HAVING count(*) >= {_Q121_MINSUP}
)
SELECT item_a, item_b,
       CAST(c_ab AS BIGINT) AS c_ab,
       CAST(ca.c AS BIGINT) AS c_a,
       CAST(cb.c AS BIGINT) AS c_b,
       round(CAST(c_ab * n AS DOUBLE) / CAST(ca.c * cb.c AS DOUBLE), 6) AS lift
FROM p JOIN ic ca ON p.item_a = ca.item
       JOIN ic cb ON p.item_b = cb.item, nb
"""


# ---------------------------------------------------------------------------
# q122 — count-min heavy hitters over the token stream, audited
# against exact counts
#
# The sketch state is depth x width = 1024 int64 counters no matter
# the corpus size; every arithmetic step is integer (md5-prefix
# buckets, counts, min, integer-div threshold), so the audit —
# estimate vs exact per heavy token — replays bit-for-bit.
# ---------------------------------------------------------------------------

_Q122_DEPTH = 4
_Q122_WIDTH = 256
_Q122_DIVISOR = 64


def q122_countmin_heavy(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    # single-parquet-file explode serializes without a fan-out of the
    # PROJECTED input (the q111 lesson)
    toks = fan_out(d.select("text")).select(
        F.explode(F.expr(text.tokens("text"))).alias("tok")
    )
    counts = metrics.countmin_counts(
        toks, "tok", depth=_Q122_DEPTH, width=_Q122_WIDTH
    )
    est = metrics.countmin_estimate(
        counts, toks.distinct(), "tok", depth=_Q122_DEPTH, width=_Q122_WIDTH
    )
    exact = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("__exact"))
    total = toks.agg(F.count(F.lit(1)).alias("__n_total"))
    return (
        est.join(exact, "tok")
        .join(F.broadcast(total), F.lit(True))
        .filter(F.expr(f"cm_est >= __n_total div {_Q122_DIVISOR}"))
        .select(
            "tok",
            F.col("cm_est").cast("long").alias("cm_est"),
            F.col("__exact").cast("long").alias("exact_n"),
            (F.col("cm_est") - F.col("__exact")).cast("long").alias("overcount"),
        )
    )


_Q122_BUCKET = (
    "CAST(('0x' || substring(md5('cm' || CAST(r AS VARCHAR) || ':' || tok), 1, 8)) AS BIGINT)"
    f" % {_Q122_WIDTH}"
)

Q122_SQL = f"""
WITH toks AS (SELECT unnest({TOKS_SQL}) AS tok FROM documents),
rb AS (
  SELECT r, {_Q122_BUCKET} AS bucket
  FROM toks, range({_Q122_DEPTH}) t(r)
),
counts AS (SELECT r, bucket, count(*) AS cnt FROM rb GROUP BY r, bucket),
cand AS (SELECT DISTINCT tok FROM toks),
cb AS (
  SELECT tok, r, {_Q122_BUCKET} AS bucket
  FROM cand, range({_Q122_DEPTH}) t(r)
),
est AS (
  SELECT tok, min(coalesce(cnt, 0)) AS cm_est
  FROM cb LEFT JOIN counts USING (r, bucket) GROUP BY tok
),
exact AS (SELECT tok, count(*) AS n FROM toks GROUP BY tok),
tot AS (SELECT count(*) AS n_total FROM toks)
SELECT e.tok,
       CAST(e.cm_est AS BIGINT) AS cm_est,
       CAST(x.n AS BIGINT) AS exact_n,
       CAST(e.cm_est - x.n AS BIGINT) AS overcount
FROM est e JOIN exact x ON e.tok = x.tok, tot
WHERE e.cm_est >= n_total // {_Q122_DIVISOR}
"""


# ---------------------------------------------------------------------------
# q123 — fixed-point PageRank on the banded near-dup graph
#
# Same edges as q99; the oracle unrolls the 3 integer fixed-point
# steps as CTEs.  DuckDB's sum(BIGINT) widens to HUGEINT — the
# 17*s // 20 step stays exact there and the final CAST narrows back.
# ---------------------------------------------------------------------------

_Q123_SCALE = 10**12
_Q123_ITER = 3


def q123_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hospital_data_engineering_pipeline_end_to_end_project_spark.operators import dedupe

    d = load_table(spark, sf_dir, "documents")
    bands = dedupe.minhash_bands(
        d, "doc_id", "text", num_hashes=8, bands=4, shingle_n=5
    )
    pairs = dedupe.near_dup_candidates(bands, "doc_id")
    return components.pagerank_fixed(
        pairs, iterations=_Q123_ITER, scale=_Q123_SCALE
    )


def _q123_step(prev: str, out: str) -> str:
    return f"""
{out} AS (
  SELECT s.v AS node,
         (3 * {_Q123_SCALE}::BIGINT) // (20 * n.n)
         + (17 * sum(r.pr // d.deg)) // 20 AS pr
  FROM sym s JOIN deg d ON s.u = d.u
             JOIN {prev} r ON s.u = r.node, n
  GROUP BY s.v, n.n
)"""


Q123_SQL = f"""
WITH bands AS MATERIALIZED ({Q25_SQL}),
e0 AS (
  SELECT DISTINCT least(a.doc_id, b.doc_id) AS u,
                  greatest(a.doc_id, b.doc_id) AS v
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id
),
sym AS (SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0),
deg AS (SELECT u, count(*) AS deg FROM sym GROUP BY u),
n AS (SELECT count(*) AS n FROM deg),
r0 AS (SELECT u AS node, {_Q123_SCALE}::BIGINT // n.n AS pr FROM deg, n),
{",".join(_q123_step(f"it{i - 1}" if i > 1 else "r0", f"it{i}") for i in range(1, _Q123_ITER + 1))}
SELECT node, CAST(pr AS BIGINT) AS pr FROM it{_Q123_ITER}
"""


# ---------------------------------------------------------------------------
# q125 — salted two-level grouped top-k (hot-group window defense)
#
# The Spark side never sorts a whole group in one task (top-k per
# (group, salt-bucket), bounded re-rank); the oracle replays the
# ONE-LEVEL window — identical by the subset identity under the
# total (order, id) order.  See operators/skew.py:salted_grouped_topk.
# ---------------------------------------------------------------------------

_Q125_K = 5


def q125_salted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hospital_data_engineering_pipeline_end_to_end_project_spark.operators import skew

    o = load_table(spark, sf_dir, "orders")
    return skew.salted_grouped_topk(
        o,
        ["o_orderpriority"],
        "o_totalprice",
        "o_orderkey",
        k=_Q125_K,
    )


Q125_SQL = f"""
SELECT o_orderpriority, o_orderkey, o_totalprice, rank FROM (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank
  FROM orders
) WHERE rank <= {_Q125_K}
"""


QUERIES = {
    "q118_binary_hamming_topk": q118_binary_hamming_topk,
    "q119_jl_projection": q119_jl_projection,
    "q120_bloom_semi_join": q120_bloom_semi_join,
    "q121_copurchase_lift": q121_copurchase_lift,
    "q122_countmin_heavy": q122_countmin_heavy,
    "q123_pagerank": q123_pagerank,
    "q125_salted_topk": q125_salted_topk,
}

ORACLES = {
    "q118_binary_hamming_topk": Q118_SQL,
    "q119_jl_projection": Q119_SQL,
    "q120_bloom_semi_join": Q120_SQL,
    "q121_copurchase_lift": Q121_SQL,
    "q122_countmin_heavy": Q122_SQL,
    "q123_pagerank": Q123_SQL,
    "q125_salted_topk": Q125_SQL,
}
