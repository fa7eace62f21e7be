"""Round-14 query wave (q168-q171, the DQ anomaly gate q172, the
audio feature-store serve q173, and the incremental audio probe
q174; the round's wave 2 — the eight remaining TPC-H shapes
q175-q182 — lives in ``wave14b.py``).

q168-q171 complete the decorrelated-subquery grammar the relational
tail has been building (q100/q101 round 8, q160-q167 round 13) — the
four remaining classic TPC-H shapes, each rewritten as aggregates and
joins with NO per-row subquery, and each following the measured plan
rule "never let two facts meet in a shuffle before every selective
broadcast prune has run":

- q168 (Q13 custdist): left-outer count — orders pre-aggregated to a
  per-customer count BEFORE the outer join, so the join moves two
  customer-sized frames, never raw orders.
- q169 (Q17 small-quantity revenue): correlated AVG — per-part mean
  quantity decorrelated into one grouped sum/count over the
  part-pruned fact, threshold tested by integer cross-multiplication
  (``5 * q * cnt < sum_q``), revenue in exact integer cents.
- q170 (Q20 nested semi): the two-level IN — per (supplier, part)
  window/total quantities in ONE conditional aggregate over the
  doubly-pruned fact, excess-stock test ``2 * window > total`` in
  integers, survivors semi-joined back to suppliers.
- q171 (Q22 anti + scalar avg): the positive-balance average is a
  one-row broadcast cross join (the accepted BNLJ idiom), the
  balance comparison is exact cents-vs-(sum, count) cross
  multiplication, and "dormant" (no orders since a cutoff — the
  synthetic history covers every customer, so the literal
  never-ordered set is empty) is a left-anti join against the
  distinct custkeys of the date-pruned fact.

The shipped schema has no partsupp / no c_phone / no o_comment, so
the reference predicates adapt (documented per query) while the
SHAPES — the part the optimizer grammar cares about — are faithful.
Money stays exact: prices/balances are 2-decimal and quantities
integral on every SF (verified r13), so cents / integer counts make
every oracle comparison arithmetic identity, never a float round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hospital_data_engineering_pipeline_end_to_end_project_spark.operators.materialize import materialize
from hospital_data_engineering_pipeline_end_to_end_project_spark.sources.readers import load_table

QUERIES: dict = {}
ORACLES: dict = {}


# ---------------------------------------------------------------------------
# q168 — TPC-H Q13 shape: customer distribution by order count
# ---------------------------------------------------------------------------

#: Q13's o_comment NOT LIKE filter adapted to the shipped schema: the
#: excluded-order predicate is on priority instead
Q168_EXCLUDED_PRIORITY = "1-URGENT"


def q168_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: how many customers placed 0, 1, 2, ... orders
    (excluding one priority class) — the left-outer COUNT that makes
    naive engines join raw orders to customers.  Decorrelated: orders
    collapse to a per-customer count FIRST (map-side-combinable, fact
    -> |customers| rows), the left join then moves two customer-sized
    frames, and zero-order customers surface via coalesce(count, 0).
    Integer end-to-end."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")

    per_cust = (
        orders.filter(F.col("o_orderpriority") != Q168_EXCLUDED_PRIORITY)
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).cast("long").alias("__c"))
    )
    return (
        customer.select("c_custkey")
        .join(per_cust, customer.c_custkey == per_cust.o_custkey, "left")
        .select(F.coalesce(F.col("__c"), F.lit(0).cast("long")).alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).cast("long").alias("custdist"))
    )


Q168_SQL = f"""
SELECT c_count, count(*)::BIGINT AS custdist
FROM (
  SELECT coalesce(c, 0)::BIGINT AS c_count
  FROM customer LEFT JOIN (
    SELECT o_custkey, count(*)::BIGINT AS c
    FROM orders WHERE o_orderpriority <> '{Q168_EXCLUDED_PRIORITY}'
    GROUP BY o_custkey
  ) ON c_custkey = o_custkey
)
GROUP BY c_count
"""

QUERIES["q168_custdist"] = q168_custdist
ORACLES["q168_custdist"] = Q168_SQL


# ---------------------------------------------------------------------------
# q169 — TPC-H Q17 shape: small-quantity-order revenue
# ---------------------------------------------------------------------------

Q169_PART_TYPE = "PROMO"


def q169_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue locked in line items whose quantity is
    below 20% of the part's average order quantity (the correlated-AVG
    subquery), reported per brand over one part type.

    Decorrelation + plan discipline: the fact is pruned FIRST by the
    broadcast part filter; the per-part (sum, count) aggregate and the
    join-back both read that pruned frame, which is materialized once
    (a frame consumed twice must be, or AQE's broadcast rewrite drops
    the ReusedExchange and the prune runs twice).  The 0.2 * avg
    threshold is tested as ``5 * qty * cnt < sum_qty`` — pure int64
    (quantities integral, counts bounded), no division — and revenue
    is summed in exact integer cents.  The per-part stats frame is
    |parts|-bounded; AQE broadcasts it when it fits (no forced hint —
    the q167 lesson)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")

    parts = part.filter(F.col("p_type") == Q169_PART_TYPE).select(
        "p_partkey", "p_brand"
    )
    q_i = F.round(F.col("l_quantity")).cast("long")
    ep_c = F.round(F.col("l_extendedprice") * 100).cast("long")
    lif = materialize(
        li.join(F.broadcast(parts), li.l_partkey == parts.p_partkey).select(
            "p_partkey", "p_brand", q_i.alias("__q"), ep_c.alias("__ep")
        )
    )
    stats = (
        lif.groupBy(F.col("p_partkey").alias("__pk"))
        .agg(
            F.sum("__q").cast("long").alias("__sum_q"),
            F.count(F.lit(1)).cast("long").alias("__cnt"),
        )
    )
    return (
        lif.join(stats, lif.p_partkey == stats.__pk)
        .filter(F.lit(5) * F.col("__q") * F.col("__cnt") < F.col("__sum_q"))
        .groupBy("p_brand")
        .agg(
            F.sum("__ep").cast("long").alias("revenue_cents"),
            F.count(F.lit(1)).cast("long").alias("n_small"),
        )
    )


Q169_SQL = f"""
WITH lif AS (
  SELECT p_partkey, p_brand,
         cast(round(l_quantity) AS BIGINT) AS q,
         cast(round(l_extendedprice * 100) AS BIGINT) AS ep
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_type = '{Q169_PART_TYPE}'
),
stats AS (
  SELECT p_partkey AS pk, sum(q)::BIGINT AS sum_q, count(*)::BIGINT AS cnt
  FROM lif GROUP BY p_partkey
)
SELECT p_brand, sum(ep)::BIGINT AS revenue_cents, count(*)::BIGINT AS n_small
FROM lif JOIN stats ON p_partkey = pk
WHERE 5 * q * cnt < sum_q
GROUP BY p_brand
"""

QUERIES["q169_small_quantity_revenue"] = q169_small_quantity_revenue
ORACLES["q169_small_quantity_revenue"] = Q169_SQL


# ---------------------------------------------------------------------------
# q170 — TPC-H Q20 shape: suppliers with excess window share
# ---------------------------------------------------------------------------

Q170_PART_PREFIX = "small"
Q170_YEAR = 1996
Q170_MAX_NATION = 5  # nations 0..4 — Q20's single-nation filter, widened


def q170_excess_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: the nested semi — suppliers (from a nation
    set) holding a (supplier, part) lane on name-matched parts whose
    {Q170_YEAR} shipped quantity exceeds HALF the lane's all-time
    shipped quantity (the shipped schema has no partsupp, so Q20's
    ``availqty > 0.5 * sum(qty)`` becomes a window-vs-total share on
    the same nested-aggregate skeleton).

    Plan: the fact is pruned by BOTH broadcast dimensions (nation-set
    suppliers, name-prefix parts) before any aggregation; the window
    and total quantities ride ONE conditional groupBy (no second scan
    for the correlated total); the excess test is integer
    ``2 * win > tot``; the surviving supplier keys collapse to a
    distinct set that semi-joins supplier — three broadcasts, one
    fact aggregate, zero fact-fact shuffles."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supplier = load_table(spark, sf_dir, "supplier")

    supp = supplier.filter(F.col("s_nationkey") < Q170_MAX_NATION).select(
        "s_suppkey", "s_name", "s_nationkey"
    )
    parts = part.filter(F.col("p_name").like(f"{Q170_PART_PREFIX}%")).select(
        "p_partkey"
    )
    q_i = F.round(F.col("l_quantity")).cast("long")
    in_win = F.year(F.col("l_shipdate")) == Q170_YEAR
    lanes = (
        li.join(F.broadcast(parts), li.l_partkey == parts.p_partkey, "left_semi")
        .join(
            F.broadcast(supp.select("s_suppkey")),
            li.l_suppkey == F.col("s_suppkey"),
            "left_semi",
        )
        .groupBy("l_suppkey", "l_partkey")
        .agg(
            F.sum(F.when(in_win, q_i).otherwise(F.lit(0).cast("long")))
            .cast("long")
            .alias("__win"),
            F.sum(q_i).cast("long").alias("__tot"),
        )
        .filter(F.lit(2) * F.col("__win") > F.col("__tot"))
    )
    keys = lanes.select("l_suppkey").distinct()
    return (
        supp.join(keys, supp.s_suppkey == keys.l_suppkey, "left_semi")
        .select(
            "s_suppkey",
            "s_name",
            F.col("s_nationkey").cast("long").alias("s_nationkey"),
        )
    )


Q170_SQL = f"""
WITH lanes AS (
  SELECT l_suppkey,
         sum(CASE WHEN year(l_shipdate) = {Q170_YEAR}
                  THEN cast(round(l_quantity) AS BIGINT) ELSE 0 END) AS win,
         sum(cast(round(l_quantity) AS BIGINT)) AS tot
  FROM lineitem
  WHERE l_partkey IN (SELECT p_partkey FROM part
                      WHERE p_name LIKE '{Q170_PART_PREFIX}%')
    AND l_suppkey IN (SELECT s_suppkey FROM supplier
                      WHERE s_nationkey < {Q170_MAX_NATION})
  GROUP BY l_suppkey, l_partkey
)
SELECT s_suppkey, s_name, s_nationkey::BIGINT AS s_nationkey
FROM supplier
WHERE s_suppkey IN (SELECT l_suppkey FROM lanes WHERE 2 * win > tot)
"""

QUERIES["q170_excess_shippers"] = q170_excess_shippers
ORACLES["q170_excess_shippers"] = Q170_SQL


# ---------------------------------------------------------------------------
# q171 — TPC-H Q22 shape: dormant high-balance customers
# ---------------------------------------------------------------------------

#: Q22's phone-country-code set adapted to nation keys
Q171_NATIONS = (1, 3, 5, 7, 9)

#: the synthetic order history covers every customer, so Q22's
#: literal "never ordered" is empty at every SF — dormant means no
#: order SINCE this cutoff (the anti-join shape is identical, with a
#: pushed-down date filter pruning the fact before its distinct)
Q171_SINCE = "2000-01-01"


def q171_dormant_balances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: customers from a nation set whose balance
    beats the positive-balance AVERAGE of that set and who placed no
    order since the cutoff — the anti-join + scalar-subquery pair.

    The scalar average is decorrelated into a one-row (sum_cents, n)
    aggregate broadcast as a cross join (the accepted BNLJ idiom);
    the comparison ``balance > avg`` is exact integer cross
    multiplication ``cents * n > sum_cents`` — no division, no float.
    "Dormant" is a left-anti join against the DISTINCT custkeys of
    date-filtered orders: the filter pushes to the parquet scan, the
    distinct collapses the surviving fact on the same hash key the
    anti join shuffles on (the extra exchange is reused, not added).
    Output per nation: count + total balance in cents."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")

    cents = F.round(F.col("c_acctbal") * 100).cast("long")
    cust = customer.filter(
        F.col("c_nationkey").isin(*Q171_NATIONS)
    ).select("c_custkey", "c_nationkey", cents.alias("__bal"))
    avg1 = cust.filter(F.col("__bal") > 0).agg(
        F.sum("__bal").cast("long").alias("__sum"),
        F.count(F.lit(1)).cast("long").alias("__n"),
    )
    rich = cust.join(F.broadcast(avg1)).filter(
        F.col("__bal") * F.col("__n") > F.col("__sum")
    )
    dormant = rich.join(
        orders.filter(F.col("o_orderdate") >= F.lit(Q171_SINCE).cast("timestamp"))
        .select("o_custkey")
        .distinct(),
        rich.c_custkey == F.col("o_custkey"),
        "left_anti",
    )
    return dormant.groupBy(
        F.col("c_nationkey").cast("long").alias("c_nationkey")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("numcust"),
        F.sum("__bal").cast("long").alias("totacctbal_cents"),
    )


Q171_SQL = f"""
WITH cust AS (
  SELECT c_custkey, c_nationkey,
         cast(round(c_acctbal * 100) AS BIGINT) AS bal
  FROM customer WHERE c_nationkey IN {Q171_NATIONS}
),
avg1 AS (
  SELECT sum(bal)::BIGINT AS s, count(*)::BIGINT AS n
  FROM cust WHERE bal > 0
)
SELECT c_nationkey::BIGINT AS c_nationkey,
       count(*)::BIGINT AS numcust,
       sum(bal)::BIGINT AS totacctbal_cents
FROM cust, avg1
WHERE bal * n > s
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_orderdate >= TIMESTAMP '{Q171_SINCE}')
GROUP BY c_nationkey
"""

QUERIES["q171_dormant_balances"] = q171_dormant_balances
ORACLES["q171_dormant_balances"] = Q171_SQL


# ---------------------------------------------------------------------------
# q172 — DQ anomaly gate over the per-batch constraint history
#
# The Deequ anomaly-check tier the r13 verdict asked for: q163 stores
# a per-batch constraint series in the monitor store; this query runs
# a NEW series with a PLANTED completeness drift in one batch and
# gates it with the integer median/MAD verdict
# (operators/profiling.py:dq_anomaly_gate) — the regression is a hard
# flag in the series while staying invisible to a whole-table
# fraction.  The oracle replays each batch's aggregates (the q163
# pattern, drift included) and the same discrete median/MAD selection
# via window functions — every value BIGINT, every comparison integer.
# ---------------------------------------------------------------------------

from hospital_data_engineering_pipeline_end_to_end_project_spark.operators import profiling  # noqa: E402
from hospital_data_engineering_pipeline_end_to_end_project_spark.scratch import fresh_store  # noqa: E402
from hospital_data_engineering_pipeline_end_to_end_project_spark.streaming import monitor, shardstore  # noqa: E402

_Q172_BATCHES = 6
_Q172_DRIFT_BATCH = 4
_Q172_K = 3
_Q172_MIN_DEV = 1000


def _q172_batch(o: DataFrame, b: int) -> DataFrame:
    d = o.filter(F.col("o_orderkey") % _Q172_BATCHES == b)
    if b == _Q172_DRIFT_BATCH:
        # the planted drift: tonight's load lost ~30% of its custkeys
        d = d.withColumn(
            "o_custkey",
            F.when(F.col("o_orderkey") % 10 < 3, F.lit(None).cast("long"))
            .otherwise(F.col("o_custkey")),
        )
    return d


def _q172_report(batch_df: DataFrame) -> DataFrame:
    return profiling.profile_report(
        batch_df,
        "orders",
        complete_cols=["o_custkey"],
        unique_cols=["o_orderkey"],
        compliance=[("o_totalprice", "positive", F.col("o_totalprice") > 0)],
    )


def q172_dq_anomaly_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anomaly verdicts over a 6-batch constraint history with one
    planted completeness regression: per-batch reports through the
    monitor store (streaming/monitor.py), then the integer median/MAD
    gate — exactly one metric-batch row should flag."""
    o = load_table(spark, sf_dir, "orders")
    root = fresh_store("q172", sf_dir)
    writer = monitor.make_dq_batch_writer(root, _q172_report)
    shardstore.build_shards_concurrently(
        writer,
        [(b, _q172_batch(o, b)) for b in range(_Q172_BATCHES)],
    )
    hist = monitor.read_dq_history(spark, root)
    return profiling.dq_anomaly_gate(hist, k=_Q172_K, min_dev=_Q172_MIN_DEV)


def _q172_batch_sql(b: int) -> str:
    ck = (
        f"(CASE WHEN o_orderkey % 10 < 3 THEN NULL ELSE o_custkey END)"
        if b == _Q172_DRIFT_BATCH
        else "o_custkey"
    )
    return f"""
SELECT * FROM (
  WITH t AS (
    SELECT count(*) AS n, count({ck}) AS nn,
           count(DISTINCT o_orderkey) AS nd,
           sum(CASE WHEN o_totalprice > 0 THEN 1 ELSE 0 END) AS c0
    FROM orders WHERE o_orderkey % {_Q172_BATCHES} = {b}
  )
  SELECT 'orders' AS tbl, '*' AS col, 'row_count' AS chk,
         n::BIGINT AS value, {b}::BIGINT AS batch_id FROM t
  UNION ALL SELECT 'orders', 'o_custkey', 'completeness', ((nn * 1000000) // n)::BIGINT, {b} FROM t
  UNION ALL SELECT 'orders', 'o_orderkey', 'uniqueness', ((nd * 1000000) // n)::BIGINT, {b} FROM t
  UNION ALL SELECT 'orders', 'o_totalprice', 'positive', ((c0 * 1000000) // n)::BIGINT, {b} FROM t
)"""


Q172_SQL = (
    "WITH hist AS ("
    + "\nUNION ALL\n".join(_q172_batch_sql(b) for b in range(_Q172_BATCHES))
    + f"""
),
st AS (
  SELECT *, row_number() OVER (PARTITION BY tbl, col, chk
                               ORDER BY value, batch_id) AS rn,
         count(*) OVER (PARTITION BY tbl, col, chk) AS n
  FROM hist
),
med AS (SELECT tbl, col, chk, value AS med FROM st WHERE rn = (n - 1) // 2 + 1),
dv AS (
  SELECT h.*, m.med, abs(h.value - m.med) AS dev
  FROM hist h JOIN med m USING (tbl, col, chk)
),
sd AS (
  SELECT *, row_number() OVER (PARTITION BY tbl, col, chk
                               ORDER BY dev, batch_id) AS rn,
         count(*) OVER (PARTITION BY tbl, col, chk) AS n
  FROM dv
),
mad AS (SELECT tbl, col, chk, dev AS mad FROM sd WHERE rn = (n - 1) // 2 + 1)
SELECT d.tbl, d.col, d.chk, d.batch_id, d.value, d.med, m2.mad::BIGINT AS mad,
       d.dev > greatest({_Q172_K} * m2.mad, {_Q172_MIN_DEV}) AS is_anomaly
FROM dv d JOIN mad m2 USING (tbl, col, chk)
"""
)

QUERIES["q172_dq_anomaly_gate"] = q172_dq_anomaly_gate
ORACLES["q172_dq_anomaly_gate"] = Q172_SQL


# ---------------------------------------------------------------------------
# q173 — shared audio segments served FROM the energy-gram feature
# store (the EIGHTH index-served lifecycle)
#
# q147's one remaining 100x constant was re-decoding every WAV per
# run; here the corpus arrives as three concurrent batches through
# streaming/audio_index.py (decode once, store (media_id, pos, h)
# posting shards), the shards compact, and the match stage — cap,
# gram join, diagonal runs — is served from the STORE with zero
# decodes.  Row-identical to q147's recomputing form by construction,
# so the oracle is q147's verbatim.
# ---------------------------------------------------------------------------

from hospital_data_engineering_pipeline_end_to_end_project_spark.plans.wave12 import (  # noqa: E402
    _MEDIA_MAX_DF,
    _Q147_K,
    _Q147_MIN,
    Q147_SQL,
)
from hospital_data_engineering_pipeline_end_to_end_project_spark.streaming import audio_index  # noqa: E402

_Q173_BATCHES = 3


def q173_audio_segments_from_index(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """q147's shared-segment match served from the persistent audio
    feature store: per-batch decode+fingerprint shards, compaction,
    then the diagonal-run match stage over stored postings only."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    root = fresh_store("q173", sf_dir)
    writer = audio_index.make_audio_doc_batch_writer(root, k=_Q147_K)
    shardstore.backfill_by_mod(writer, d, "doc_id", _Q173_BATCHES)
    audio_index.compact_audio_shards(spark, root)
    return audio_index.segments_from_index(
        spark, root, k=_Q147_K, min_frames=_Q147_MIN, max_df=_MEDIA_MAX_DF
    )


QUERIES["q173_audio_segments_from_index"] = q173_audio_segments_from_index
ORACLES["q173_audio_segments_from_index"] = Q147_SQL


# ---------------------------------------------------------------------------
# q174 — incremental audio probe: an ARRIVING media batch matched
# against the stored energy-gram index (the daily-probe form)
#
# q173 serves the full O(corpus²-candidates) match from the store;
# the nightly question is smaller and cheaper: which segments of
# TONIGHT'S arrivals already exist in the corpus?  The probe decodes
# only the batch, broadcasts its postings past the posting scan (the
# dHash-leg shape — stored rows are the whole corpus-side input,
# zero payload re-reads), and applies the df cap against the INDEX
# so its meaning is stable as the corpus grows.  Batch split is
# doc_id % 13 (q139/q141 use % 17 — distinct gated row sets).  The
# oracle replays the q147 synthesis/energy arithmetic, caps grams by
# corpus-side distinct-doc df, and runs the diagonal-island SQL over
# batch-vs-corpus matches only.
# ---------------------------------------------------------------------------

from hospital_data_engineering_pipeline_end_to_end_project_spark.operators import multimodal  # noqa: E402
from hospital_data_engineering_pipeline_end_to_end_project_spark.operators.parallelism import fan_out  # noqa: E402
from hospital_data_engineering_pipeline_end_to_end_project_spark.plans.wave11 import TOKS_SQL  # noqa: E402

_Q174_MOD = 13


def q174_audio_probe_vs_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-vs-index shared audio segments: corpus (doc_id % 13 != 0)
    ingested as two concurrent feature shards, the arriving batch
    (doc_id % 13 == 0) decoded once and probed against the stored
    postings — per-run cost ∝ batch decode + matched postings."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = d.filter(F.col("doc_id") % _Q174_MOD != 0)
    batch = d.filter(F.col("doc_id") % _Q174_MOD == 0)
    root = fresh_store("q174", sf_dir)
    writer = audio_index.make_audio_doc_batch_writer(root, k=_Q147_K)
    shardstore.backfill_by_mod(writer, corpus, "doc_id", 2)
    media = multimodal.synthesize_speech_wav(fan_out(batch), "doc_id", "text")
    return audio_index.incremental_segments_against_index(
        spark,
        root,
        media,
        k=_Q147_K,
        min_frames=_Q147_MIN,
        max_df=_MEDIA_MAX_DF,
    )


Q174_SQL = f"""
WITH toks AS (SELECT doc_id, {TOKS_SQL} AS t FROM documents),
en AS (
  SELECT doc_id,
         [list_sum([v*v FOR v IN
            [((CAST('0x' || substr(md5(tok), 1, 4) AS BIGINT) + 7*j) % 65536
              + 32768) % 65536 - 32768
             FOR j IN range({multimodal.SPEECH_SAMPLES_PER_TOKEN})]])
          FOR tok IN t] AS e
  FROM toks
),
sq AS (SELECT doc_id, e FROM en WHERE len(e) >= {_Q147_K}),
g AS (
  SELECT doc_id,
         unnest([{{'p': i,
                   'h': md5(CAST(e[i] AS VARCHAR) || '|' || CAST(e[i+1] AS VARCHAR)
                            || '|' || CAST(e[i+2] AS VARCHAR) || '|' || CAST(e[i+3] AS VARCHAR))}}
                 FOR i IN range(1, len(e) - {_Q147_K - 1} + 1)]) AS ph
  FROM sq
),
pos0 AS (SELECT doc_id, ph.p AS pos, ph.h AS h FROM g),
cpos0 AS (SELECT * FROM pos0 WHERE doc_id % {_Q174_MOD} <> 0),
bpos AS (SELECT * FROM pos0 WHERE doc_id % {_Q174_MOD} = 0),
keep AS (SELECT h FROM cpos0 GROUP BY h
         HAVING count(DISTINCT doc_id) <= {_MEDIA_MAX_DF}),
cpos AS (SELECT cpos0.* FROM cpos0 JOIN keep USING (h)),
m AS (
  SELECT b.doc_id AS batch_doc, c.doc_id AS corpus_doc,
         b.pos AS pb, c.pos AS pc
  FROM bpos b JOIN cpos c ON b.h = c.h
),
r AS (
  SELECT batch_doc, corpus_doc, pb - pc AS delta, pb, pc,
         pb - row_number() OVER (PARTITION BY batch_doc, corpus_doc, pb - pc
                                 ORDER BY pb) AS isl
  FROM m
),
runs AS (
  SELECT batch_doc, corpus_doc, min(pb) AS sb, min(pc) AS sc, count(*) AS len
  FROM r GROUP BY batch_doc, corpus_doc, delta, isl
)
SELECT batch_doc, corpus_doc,
       CAST(sb AS BIGINT) AS start_batch,
       CAST(sc AS BIGINT) AS start_corpus,
       CAST(len + {_Q147_K - 1} AS BIGINT) AS seg_frames
FROM runs
WHERE len >= {_Q147_MIN - _Q147_K + 1}
"""

QUERIES["q174_audio_probe_vs_index"] = q174_audio_probe_vs_index
ORACLES["q174_audio_probe_vs_index"] = Q174_SQL
