"""Extended analytics catalog (q61+): dedup clustering, skew-safe
aggregation, stratified sampling, exact order statistics, numerically
exact correlation, unpivot, and grouping sets.

Continues the round-2 theme: every operator is a pure DataFrame plan
(no Python row path), one shuffle where one is algebraically required,
and each has a bit-exact DuckDB oracle.  Cross-engine exactness
tricks reused from earlier catalogs: md5-hex ordering instead of
``rand()``, DECIMAL(18,6) sums finished by identical IEEE double
expressions, integral-valued doubles for interpolated percentiles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hospital_data_engineering_pipeline_end_to_end_project_spark.operators import (
    components,
    dedupe,
    skew,
)
from hospital_data_engineering_pipeline_end_to_end_project_spark.operators import dataprep
from hospital_data_engineering_pipeline_end_to_end_project_spark.operators import similarity
from hospital_data_engineering_pipeline_end_to_end_project_spark.functions import text as TX
from hospital_data_engineering_pipeline_end_to_end_project_spark.plans import llm_ops
from hospital_data_engineering_pipeline_end_to_end_project_spark.plans.llm_ops import (
    Q25_SQL,
    Q27_SQL,
    TOKS_SQL,
)
from hospital_data_engineering_pipeline_end_to_end_project_spark.sources.readers import (
    load_events,
    load_table,
    read_parquet,
)

# ---------------------------------------------------------------------------
# q61 — near-dup cluster resolution (connected components over LSH pairs)
#
# The stage after q25 (bands) / q31 (pairs): transitive closure of the
# candidate-pair relation so the pipeline can keep one canonical doc
# per cluster.  Spark side is iterative min-label propagation (one
# shuffle per round, O(diameter) rounds); the oracle recomputes the
# same fixpoint via a recursive CTE (min reachable id per node).
# ---------------------------------------------------------------------------


def q61_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    bands = dedupe.minhash_bands(
        d, "doc_id", "text", num_hashes=8, bands=4, shingle_n=5
    )
    pairs = dedupe.near_dup_candidates(bands, "doc_id")
    return components.connected_components(pairs)


Q61_SQL = f"""
WITH RECURSIVE
bands AS MATERIALIZED ({Q25_SQL}),
pairs AS (
  SELECT DISTINCT a.doc_id AS u, b.doc_id AS v
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id
),
sym AS (SELECT u, v FROM pairs UNION SELECT v AS u, u AS v FROM pairs),
reach(node, r) AS (
  SELECT u, u FROM sym
  UNION
  SELECT s.u, reach.r FROM sym s JOIN reach ON reach.node = s.v
)
SELECT node, min(r) AS component FROM reach GROUP BY node
"""


# ---------------------------------------------------------------------------
# q62 — skew-safe two-stage aggregation (salted groupBy)
#
# events.event_type is a classic heavy-hitter key (a handful of values
# over the whole fact table).  The salted two-stage count spreads each
# hot key over 16 reducers; the result is salt-invariant, so the
# oracle is the plain GROUP BY.
# ---------------------------------------------------------------------------


def q62_skew_salted_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    out = skew.salted_groupby_count(
        e, "event_type", salt_buckets=16, ordinal_col="event_id"
    )
    return out.select("event_type", F.col("count").cast("long").alias("n_events"))


Q62_SQL = """
SELECT event_type, CAST(count(*) AS BIGINT) AS n_events
FROM events GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# q63 — deterministic stratified sampling (per-language fractions)
#
# Down-sampling dominant languages / up-weighting rare ones is a core
# corpus-mixing op.  Membership is a pure function of the doc id
# (md5-hex bucket < per-stratum threshold), so the sample is
# reproducible across runs and engines — never ``rand()``.
# ---------------------------------------------------------------------------

Q63_FRACTIONS = {"en": 0.25, "zh": 1.0, "es": 0.5, "de": 0.5, "fr": 0.125}


def q63_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return dataprep.stratified_sample(
        d.select("doc_id", "lang"), "doc_id", "lang", Q63_FRACTIONS
    )


def _q63_case() -> str:
    whens = []
    for lang, frac in Q63_FRACTIONS.items():
        bound = dataprep.fraction_bound(frac)
        cond = "TRUE" if bound is None else f"bucket < '{bound}'"
        whens.append(f"WHEN lang = '{lang}' THEN {cond}")
    return "CASE " + " ".join(whens) + " ELSE FALSE END"


Q63_SQL = f"""
WITH b AS (
  SELECT doc_id, lang,
         substr(md5(CAST(doc_id AS VARCHAR)), 1, {dataprep.SPLIT_PREFIX_LEN})
           AS bucket
  FROM documents
)
SELECT doc_id, lang, bucket FROM b WHERE {_q63_case()}
"""


# ---------------------------------------------------------------------------
# q64 — exact interpolated percentiles per group
#
# ``F.percentile`` is the exact (sort-based) aggregate — the sketch
# variant is q49.  l_quantity is an integral-valued double in [1,50],
# so the linear interpolation at p in {.25,.5,.75} is exact in IEEE
# double and matches DuckDB's quantile_cont bit-for-bit.
# ---------------------------------------------------------------------------


def q64_group_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.percentile("l_quantity", 0.25).alias("p25_qty"),
        F.percentile("l_quantity", 0.5).alias("median_qty"),
        F.percentile("l_quantity", 0.75).alias("p75_qty"),
    )


Q64_SQL = """
SELECT l_returnflag,
       CAST(count(*) AS BIGINT) AS n,
       quantile_cont(l_quantity, 0.25) AS p25_qty,
       quantile_cont(l_quantity, 0.5) AS median_qty,
       quantile_cont(l_quantity, 0.75) AS p75_qty
FROM lineitem GROUP BY l_returnflag
"""


# ---------------------------------------------------------------------------
# q65 — correlation / covariance, numerically exact cross-engine
#
# ``corr()`` built-ins disagree across engines in the last ulps
# (different accumulation orders), so the plan computes the five
# power sums exactly in *integer* decimals — quantity in units, price
# in cents — and finishes with one fixed IEEE double expression.
# Integer sums matter: a fractional-scale decimal -> double cast is
# correctly rounded in Spark but double-rounded in DuckDB (int128
# conversion, then the 10^-s division), which diverges by 1 ulp once
# the raw value exceeds 2^53; an integer -> double conversion is a
# single correctly-rounded step in both engines.  corr is
# scale-invariant, cov just unscales by 100 at the end.
# ---------------------------------------------------------------------------


def q65_corr_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # precision 19 forces DuckDB onto int128 storage so the raw
    # multiply can't overflow int64
    x = F.col("l_quantity").cast("decimal(19,0)")
    y = F.round(F.col("l_extendedprice") * 100).cast("decimal(19,0)")
    agg = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
        F.sum(x * y).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxx = F.col("sxx").cast("double")
    syy = F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    return agg.select(
        "l_returnflag",
        "n",
        ((nd * sxy - sx * sy) / (nd * nd) / F.lit(100.0)).alias("cov_qty_price"),
        (
            (nd * sxy - sx * sy)
            / (F.sqrt(nd * sxx - sx * sx) * F.sqrt(nd * syy - sy * sy))
        ).alias("corr_qty_price"),
    )


Q65_SQL = """
WITH s AS (
  SELECT l_returnflag,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(l_quantity AS DECIMAL(19,0))) AS DOUBLE) AS sx,
         CAST(sum(CAST(round(l_extendedprice * 100) AS DECIMAL(19,0)))
           AS DOUBLE) AS sy,
         CAST(sum(CAST(l_quantity AS DECIMAL(19,0))
                  * CAST(l_quantity AS DECIMAL(19,0))) AS DOUBLE) AS sxx,
         CAST(sum(CAST(round(l_extendedprice * 100) AS DECIMAL(19,0))
                  * CAST(round(l_extendedprice * 100) AS DECIMAL(19,0)))
           AS DOUBLE) AS syy,
         CAST(sum(CAST(l_quantity AS DECIMAL(19,0))
                  * CAST(round(l_extendedprice * 100) AS DECIMAL(19,0)))
           AS DOUBLE) AS sxy
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, n,
       (CAST(n AS DOUBLE) * sxy - sx * sy)
         / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) / 100.0 AS cov_qty_price,
       (CAST(n AS DOUBLE) * sxy - sx * sy)
         / (sqrt(CAST(n AS DOUBLE) * sxx - sx * sx)
            * sqrt(CAST(n AS DOUBLE) * syy - sy * sy)) AS corr_qty_price
FROM s
"""


# ---------------------------------------------------------------------------
# q66 — unpivot (wide -> long melt)
# ---------------------------------------------------------------------------


def q66_unpivot_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        F.col("p_retailprice").alias("retailprice"),
        F.col("p_size").cast("double").alias("size"),
    )
    return p.unpivot(
        ids=["p_partkey"],
        values=["retailprice", "size"],
        variableColumnName="metric",
        valueColumnName="value",
    )


Q66_SQL = """
SELECT p_partkey, metric, value
FROM (
  SELECT p_partkey, p_retailprice AS retailprice,
         CAST(p_size AS DOUBLE) AS size
  FROM part
) UNPIVOT (value FOR metric IN (retailprice, size))
"""


# ---------------------------------------------------------------------------
# q67 — grouping sets with explicit subtotal labels
#
# The generalization of q17 (rollup) / q33 (cube): an arbitrary list
# of grouping sets in one pass over the fact table.  Group keys are
# coalesced to 'ALL' so every row is unambiguous without grouping_id.
# ---------------------------------------------------------------------------


def q67_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    g = o.groupingSets(
        [["o_orderstatus"], ["o_orderpriority"], []],
        "o_orderstatus",
        "o_orderpriority",
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
        .cast("double")
        .alias("sum_price"),
    )
    return g.select(
        F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
        F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
        "n_orders",
        "sum_price",
    )


Q67_SQL = """
SELECT coalesce(o_orderstatus, 'ALL') AS status,
       coalesce(o_orderpriority, 'ALL') AS priority,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
"""


# ---------------------------------------------------------------------------
# q68 — ORC roundtrip (columnar source/sink beyond parquet/csv/json)
#
# Same contract as q45's CSV roundtrip: write a projection out in the
# format under test, read it back, aggregate; the oracle runs on the
# original parquet, so any value corruption in the roundtrip fails the
# hash.  ORC is Spark-native (vectorized reader, predicate pushdown).
# ---------------------------------------------------------------------------


def q68_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hospital_data_engineering_pipeline_end_to_end_project_spark.scratch import scratch_path

    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    tmp = scratch_path("q68", "documents_orc")
    d.write.mode("overwrite").orc(tmp)
    back = spark.read.orc(tmp)
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )


Q68_SQL = """
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM documents GROUP BY lang
"""


# ---------------------------------------------------------------------------
# q69 — gap-based session windows (F.session_window, batch form)
#
# The declarative sibling of q37's window-function sessionization:
# Spark's session_window merges events whose [t, t+gap) windows
# overlap, so a session breaks when the gap to the previous event is
# >= 30 min (q37's cumsum idiom uses >).  Same operator drives the
# streaming path (session windows + watermark).  Timestamps go out as
# epoch seconds BIGINT — exact cross-engine, no timezone rendering.
# ---------------------------------------------------------------------------

Q69_GAP_S = 1800


def q69_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hospital_data_engineering_pipeline_end_to_end_project_spark.sources.readers import (
        load_events,
    )

    e = load_events(spark, sf_dir)
    return (
        e.groupBy("user_id", F.session_window("ts_utc", f"{Q69_GAP_S} seconds"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
        .select(
            "user_id",
            F.unix_timestamp("session_window.start").alias("start_sec"),
            F.unix_timestamp("session_window.end").alias("end_sec"),
            "n_events",
        )
    )


Q69_SQL = f"""
WITH e AS (
  SELECT user_id, epoch_us(ts) // 1000000 AS sec FROM events
),
m AS (
  SELECT user_id, sec,
         CASE WHEN sec - lag(sec) OVER (PARTITION BY user_id ORDER BY sec)
                >= {Q69_GAP_S} THEN 1 ELSE 0 END AS brk
  FROM e
),
s AS (
  SELECT user_id, sec,
         sum(brk) OVER (PARTITION BY user_id ORDER BY sec
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS sid
  FROM m
)
SELECT user_id, min(sec) AS start_sec, max(sec) + {Q69_GAP_S} AS end_sec,
       CAST(count(*) AS BIGINT) AS n_events
FROM s GROUP BY user_id, sid
"""


# ---------------------------------------------------------------------------
# q70 — end-to-end corpus dedup (keep one canonical doc per cluster)
#
# The consumer view of q61: every document survives except non-canonical
# members of a near-dup cluster (canonical = min doc_id, q61's
# component label).  The drop set is tiny relative to the corpus, so
# the anti-join broadcasts — the corpus side never shuffles.
# ---------------------------------------------------------------------------


def q70_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    bands = dedupe.minhash_bands(
        d, "doc_id", "text", num_hashes=8, bands=4, shingle_n=5
    )
    labels = components.connected_components(
        dedupe.near_dup_candidates(bands, "doc_id")
    )
    drop = labels.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("doc_id")
    )
    return d.join(F.broadcast(drop), "doc_id", "left_anti").select(
        "doc_id", "lang", "source", "n_chars"
    )


Q70_SQL = f"""
WITH RECURSIVE
bands AS MATERIALIZED ({Q25_SQL}),
pairs AS (
  SELECT DISTINCT a.doc_id AS u, b.doc_id AS v
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id
),
sym AS (SELECT u, v FROM pairs UNION SELECT v AS u, u AS v FROM pairs),
reach(node, r) AS (
  SELECT u, u FROM sym
  UNION
  SELECT s.u, reach.r FROM sym s JOIN reach ON reach.node = s.v
),
cc AS (SELECT node, min(r) AS component FROM reach GROUP BY node)
SELECT doc_id, lang, source, n_chars
FROM documents
WHERE doc_id NOT IN (SELECT node FROM cc WHERE node <> component)
"""


# ---------------------------------------------------------------------------
# q71 — per-class embedding centroids (exploded layout)
#
# The vector analog of a grouped mean: explode the 64-dim vectors to
# (label, dim, element) and aggregate per cell — one shuffle keyed on
# (label, dim), map-side combined, so it scales to any corpus and any
# dimension count without a Python path.  Elements are summed as
# DECIMAL(19,9) (order-independent, raw magnitude stays < 2^53 so the
# final int->double conversion is a single correctly-rounded step —
# same reasoning as q65).
# ---------------------------------------------------------------------------


def q71_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    cell = e.select(
        "label", F.posexplode("embedding").alias("dim", "el")
    ).select(
        "label",
        F.col("dim").cast("long").alias("dim"),
        F.col("el").cast("decimal(19,9)").alias("el"),
    )
    agg = cell.groupBy("label", "dim").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("el").alias("s"),
    )
    return agg.select(
        "label",
        "dim",
        "n",
        (F.col("s").cast("double") / F.col("n").cast("double")).alias("centroid"),
    )


Q71_SQL = """
WITH cell AS (
  SELECT label,
         CAST(unnest(range(len(embedding))) AS BIGINT) AS dim,
         -- widen to DOUBLE before the decimal cast: DuckDB's direct
         -- float->decimal scales in float arithmetic and misrounds
         -- the 9th decimal; Spark rounds the exact value
         CAST(CAST(unnest(embedding) AS DOUBLE) AS DECIMAL(19,9)) AS el
  FROM embeddings
)
SELECT label, dim, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(el) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS centroid
FROM cell GROUP BY label, dim
"""


# ---------------------------------------------------------------------------
# q72 — analytic window-function suite
#
# Breadth coverage of the ranking/offset window family in one plan:
# row_number, lag, ntile, percent_rank, cume_dist over a per-customer
# order history.  The (date, key) sort is unique, so every function is
# deterministic; percent_rank/cume_dist are single IEEE divisions of
# integer counts — identical cross-engine.
# ---------------------------------------------------------------------------


def q72_window_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.row_number().over(w).alias("rn"),
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
    )


Q72_SQL = """
SELECT o_orderkey, o_custkey,
       CAST(row_number() OVER w AS INT) AS rn,
       lag(o_totalprice) OVER w AS prev_price,
       CAST(ntile(4) OVER w AS INT) AS quartile,
       percent_rank() OVER w AS pr,
       cume_dist() OVER w AS cd
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


# ---------------------------------------------------------------------------
# q73 — time-series gap fill (monthly resample with zero-fill)
#
# The hypertable-rollup idiom: aggregate to month grain, then
# densify each user's [first, last] month range via sequence+explode
# so downstream models see explicit zeros instead of missing rows.
# The month domain is generated from data bounds — no driver-side
# loop, no calendar table collect.
# ---------------------------------------------------------------------------


def q73_gap_fill_months(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hospital_data_engineering_pipeline_end_to_end_project_spark.sources.readers import (
        load_events,
    )

    e = load_events(spark, sf_dir)
    midx = (F.year("ts_utc") * 12 + F.month("ts_utc") - 1).cast("long")
    per = e.groupBy("user_id", midx.alias("midx")).agg(
        F.count(F.lit(1)).cast("long").alias("n_events")
    )
    bounds = per.groupBy("user_id").agg(
        F.min("midx").alias("lo"), F.max("midx").alias("hi")
    )
    dense = bounds.select(
        "user_id", F.explode(F.sequence("lo", "hi")).alias("midx")
    )
    return (
        dense.join(per, ["user_id", "midx"], "left")
        .select(
            "user_id",
            (F.col("midx") / 12).cast("long").alias("year"),
            (F.col("midx") % 12 + 1).cast("long").alias("month"),
            F.coalesce("n_events", F.lit(0)).cast("long").alias("n_events"),
        )
    )


Q73_SQL = """
WITH per AS (
  SELECT user_id,
         CAST(year(ts) * 12 + month(ts) - 1 AS BIGINT) AS midx,
         CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY user_id, midx
),
bounds AS (
  SELECT user_id, min(midx) AS lo, max(midx) AS hi FROM per GROUP BY user_id
),
dense AS (
  SELECT user_id, unnest(generate_series(lo, hi)) AS midx FROM bounds
)
SELECT dense.user_id, midx // 12 AS year, midx % 12 + 1 AS month,
       coalesce(n_events, 0) AS n_events
FROM dense LEFT JOIN per USING (user_id, midx)
"""


# ---------------------------------------------------------------------------
# q74 — blocked fuzzy matching (entity resolution by edit distance)
#
# All-pairs edit distance is quadratic, so the operator blocks on the
# join key (brand), prunes by a length band, and — the load-bearing
# trick — computes distances once per distinct (block, value) pair
# before joining back to rows (see ``operators/fuzzy.py``: 0.5 M
# instead of 32 M levenshtein calls at sf0.1).  Levenshtein is
# unit-cost edit distance in both engines.
# ---------------------------------------------------------------------------

Q74_MAX_DIST = 3


def q74_fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hospital_data_engineering_pipeline_end_to_end_project_spark.operators.fuzzy import (
        blocked_levenshtein_pairs,
    )

    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_name")
    out = blocked_levenshtein_pairs(
        p, "p_partkey", "p_brand", "p_name", Q74_MAX_DIST
    )
    return out.withColumnRenamed("block", "brand")


Q74_SQL = f"""
SELECT a.p_partkey AS id_a, b.p_partkey AS id_b, a.p_brand AS brand,
       CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
FROM part a JOIN part b
  ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
 AND abs(len(a.p_name) - len(b.p_name)) <= {Q74_MAX_DIST}
WHERE levenshtein(a.p_name, b.p_name) <= {Q74_MAX_DIST}
  AND levenshtein(a.p_name, b.p_name) > 0
"""


# ---------------------------------------------------------------------------
# q75 — rolling 30-day revenue per customer (RANGE frame window)
#
# The time-range sibling of q13's ROWS frame: the frame is defined in
# event-time units (days), so peers on the same day aggregate
# together regardless of row order.  Sums go through DECIMAL so the
# running aggregation is order-independent.
# ---------------------------------------------------------------------------


def q75_rolling_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    o = load_table(spark, sf_dir, "orders")
    day = F.datediff("o_orderdate", F.lit("1970-01-01")).cast("long")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("day")
        .rangeBetween(-29, Window.currentRow)
    )
    return (
        o.select(
            "o_orderkey",
            "o_custkey",
            day.alias("day"),
            F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
        )
        .withColumn(
            "rolling_30d", F.sum("price").over(w).cast("double")
        )
        .drop("price")
    )


Q75_SQL = """
SELECT o_orderkey, o_custkey,
       CAST(date_diff('day', DATE '1970-01-01', o_orderdate) AS BIGINT) AS day,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
         PARTITION BY o_custkey ORDER BY date_diff('day', DATE '1970-01-01', o_orderdate)
         RANGE BETWEEN 29 PRECEDING AND CURRENT ROW) AS DOUBLE) AS rolling_30d
FROM orders
"""


# ---------------------------------------------------------------------------
# q76 — fixed-width histogram (single-pass binning)
# ---------------------------------------------------------------------------

Q76_WIDTH = 30000.0


def q76_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    bucket = F.floor(F.col("o_totalprice") / Q76_WIDTH).cast("long")
    return o.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_price"),
    )


Q76_SQL = f"""
SELECT CAST(floor(o_totalprice / {Q76_WIDTH}) AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
FROM orders GROUP BY bucket
"""


# ---------------------------------------------------------------------------
# q77 — percent-of-total (revenue share per nation)
#
# The grand total rides in as a broadcast 1-row scalar (same idiom as
# tf-idf's corpus size) instead of a window-over-() — which would
# funnel every row through one partition to compute a single number.
# ---------------------------------------------------------------------------


def q77_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    rev = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev")
        )
    )
    total = rev.agg(F.sum("rev").alias("total"))
    return rev.crossJoin(F.broadcast(total)).select(
        "n_name",
        F.col("rev").cast("double").alias("revenue"),
        (F.col("rev").cast("double") / F.col("total").cast("double")).alias(
            "share"
        ),
    )


Q77_SQL = """
WITH rev AS (
  SELECT n_name, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY n_name
),
t AS (SELECT sum(rev) AS total FROM rev)
SELECT n_name, CAST(rev AS DOUBLE) AS revenue,
       CAST(rev AS DOUBLE) / CAST(total AS DOUBLE) AS share
FROM rev, t
"""


# ---------------------------------------------------------------------------
# q78 — dynamic pivot (values discovered from data)
#
# q18 pivots a declared value list; here ``pivot()`` runs its bounded
# distinct-scan first (two-phase plan).  Fine at scale because the
# pivot column is low-cardinality by contract — that scan is a
# map-side-combined distinct, and the result is a driver-held column
# list, not data.
# ---------------------------------------------------------------------------


def q78_dynamic_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    out = (
        e.groupBy("user_id")
        .pivot("event_type")  # no value list: discovered dynamically
        .count()
    )
    # stable output contract: null -> 0, pivoted columns to long
    pivoted = [c for c in out.columns if c != "user_id"]
    return out.select(
        "user_id",
        *[F.coalesce(F.col(c), F.lit(0)).cast("long").alias(c) for c in sorted(pivoted)],
    )


# DuckDB's native dynamic PIVOT discovers the column domain from the
# data under test — the same two-phase plan Spark's ``pivot()`` runs —
# so the oracle needs no import-time I/O and no pinned scale dir, and
# tracks whatever sf_dir the gate evaluates.  count(*) zero-fills
# missing (user, type) combos, matching the Spark side's coalesce(0).
Q78_SQL = "PIVOT events ON event_type USING count(*) GROUP BY user_id"


# ---------------------------------------------------------------------------
# q79 — corpus-prep pipeline (the composed flagship)
#
# The stages earlier queries prove in isolation, chained the way a
# pretraining corpus actually flows: quality gate (token count) ->
# near-dup removal (q61/q70 clustering, canonical survivor) ->
# deterministic split assignment (q50 buckets) -> per-(split, lang)
# accounting.  One narrow filter, the LSH/CC stage, a broadcast
# anti-join, and a zero-shuffle split — nothing quadratic, nothing
# driver-side.
# ---------------------------------------------------------------------------

Q79_MIN_TOKENS = 30


def q79_corpus_prep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hospital_data_engineering_pipeline_end_to_end_project_spark.functions import (
        text as TX,
    )

    d = load_table(spark, sf_dir, "documents").filter(
        TX.token_count("text") >= Q79_MIN_TOKENS
    )
    bands = dedupe.minhash_bands(
        d, "doc_id", "text", num_hashes=8, bands=4, shingle_n=5
    )
    labels = components.connected_components(
        dedupe.near_dup_candidates(bands, "doc_id")
    )
    drop = labels.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("doc_id")
    )
    kept = d.join(F.broadcast(drop), "doc_id", "left_anti")
    split = dataprep.hash_split(kept.select("doc_id", "lang"), "doc_id")
    return split.groupBy("split", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )


def _q79_split_case() -> str:
    branches = []
    for name, bound in dataprep.split_thresholds(
        {"train": 0.8, "val": 0.1, "test": 0.1}
    ):
        if bound is None:
            branches.append(f"ELSE '{name}'")
        else:
            branches.append(f"WHEN bucket < '{bound}' THEN '{name}'")
    return "CASE " + " ".join(branches) + " END"


# the bands CTE is Q25_SQL verbatim, retargeted at the quality-filtered
# subset — interpolating (as Q61_SQL/Q70_SQL do) rather than inlining a
# copy keeps this oracle tracking the one MinHash scheme the Spark side
# (operators/dedupe.minhash_bands) actually implements
Q79_SQL = f"""
WITH RECURSIVE
quality AS (
  SELECT * FROM documents
  WHERE len(list_filter(string_split(text, ' '), x -> x <> ''))
          >= {Q79_MIN_TOKENS}
),
bands AS ({Q25_SQL.replace("FROM documents", "FROM quality")}),
pairs AS (
  SELECT DISTINCT a.doc_id AS u, b.doc_id AS v
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id
),
sym AS (SELECT u, v FROM pairs UNION SELECT v AS u, u AS v FROM pairs),
reach(node, r) AS (
  SELECT u, u FROM sym
  UNION
  SELECT s.u, reach.r FROM sym s JOIN reach ON reach.node = s.v
),
cc AS (SELECT node, min(r) AS component FROM reach GROUP BY node),
kept AS (
  SELECT doc_id, lang,
         substr(md5(CAST(doc_id AS VARCHAR)), 1,
                {dataprep.SPLIT_PREFIX_LEN}) AS bucket
  FROM quality
  WHERE doc_id NOT IN (SELECT node FROM cc WHERE node <> component)
)
SELECT {_q79_split_case()} AS split, lang,
       CAST(count(*) AS BIGINT) AS n_docs
FROM kept GROUP BY split, lang
"""


# ---------------------------------------------------------------------------
# q80 — explicitly salted join (the AQE-can't-help case)
#
# ``skew.salted_join`` replicates the dimension once per salt bucket
# and joins on (key, salt), spreading each hot key over 8 tasks.  The
# result set is salt-invariant, so the oracle is the plain equi-join.
# AQE's skew rule only splits post-shuffle partitions of a
# SortMergeJoin; mid-plan skew introduced by upstream operators (or a
# broadcast-ineligible build side) is what this operator is for.
# ---------------------------------------------------------------------------


def q80_salted_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        "event_id", F.col("user_id").alias("c_custkey"), "value"
    )
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    joined = skew.salted_join(
        e, c, "c_custkey", salt_buckets=8, ordinal_col="event_id"
    )
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,6)"))
        .cast("double")
        .alias("sum_value"),
    )


Q80_SQL = """
SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY c_mktsegment
"""


# ---------------------------------------------------------------------------
# q81 — bag-semantics set operations (exceptAll / intersectAll)
#
# q32 covers the DISTINCT set algebra; this is the multiset variant —
# the one that answers "how many MORE times did X happen in 1996" —
# where duplicates carry meaning and `subtract` would be wrong.
# ---------------------------------------------------------------------------


def q81_bag_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    y = F.year("o_orderdate")
    a = o.filter(y == 1996).select("o_custkey")
    b = o.filter(y == 1997).select("o_custkey")
    surplus = a.exceptAll(b).withColumn("op", F.lit("except_all"))
    common = a.intersectAll(b).withColumn("op", F.lit("intersect_all"))
    return surplus.union(common).groupBy("op", "o_custkey").agg(
        F.count(F.lit(1)).cast("long").alias("multiplicity")
    )


Q81_SQL = """
WITH a AS (SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996),
     b AS (SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997),
     surplus AS (
       SELECT o_custkey, 'except_all' AS op
       FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b)
     ),
     common AS (
       SELECT o_custkey, 'intersect_all' AS op
       FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b)
     )
SELECT op, o_custkey, CAST(count(*) AS BIGINT) AS multiplicity
FROM (SELECT * FROM surplus UNION ALL SELECT * FROM common)
GROUP BY op, o_custkey
"""


# ---------------------------------------------------------------------------
# q82 — outer explode (null-preserving flatten)
#
# ``posexplode_outer`` keeps rows whose array is empty (docs too short
# to shingle) with NULL position/value — the difference between "no
# shingles" silently vanishing from a flatten and being accountable
# downstream.  The oracle mirrors with a LEFT JOIN LATERAL unnest.
# ---------------------------------------------------------------------------


def q82_outer_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hospital_data_engineering_pipeline_end_to_end_project_spark.functions import (
        text as TX,
    )

    d = load_table(spark, sf_dir, "documents")
    # balance the compact scan before the wide-shingle HOF (serial on
    # a single-file input otherwise)
    from hospital_data_engineering_pipeline_end_to_end_project_spark.operators.parallelism import fan_out

    sh = fan_out(d.select("doc_id", "text"), by="doc_id").select(
        "doc_id", TX.shingles("text", 40).alias("sh")
    )
    flat = sh.select(
        "doc_id", F.posexplode_outer("sh").alias("pos", "shingle")
    )
    return flat.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.count("shingle").cast("long").alias("n_shingles"),
        F.min("pos").cast("long").alias("min_pos"),
    )


Q82_SQL = """
WITH sh AS (
  SELECT doc_id,
         CASE WHEN len(t) >= 40
              THEN [array_to_string(t[i+1:i+40], ' ')
                    FOR i IN range(len(t) - 39)]
              ELSE [] END AS sh
  FROM (SELECT doc_id,
               list_filter(string_split(text, ' '), x -> x <> '') AS t
        FROM documents)
),
flat AS (
  SELECT s.doc_id, u.pos, u.shingle
  FROM sh s LEFT JOIN LATERAL (
    SELECT unnest(range(len(s.sh))) AS pos, unnest(s.sh) AS shingle
  ) u ON TRUE
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(shingle) AS BIGINT) AS n_shingles,
       CAST(min(pos) AS BIGINT) AS min_pos
FROM flat GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# q83 — cluster-size accounting (cluster_stats + the singletons contract)
#
# connected_components only labels nodes that occur in the edge list
# (components.py documents that callers union in singletons); this
# query exercises that contract end-to-end: CC labels over the LSH
# candidate pairs, isolated documents unioned in as their own
# 1-member component (broadcast anti-join — the corpus never
# shuffles), then components.cluster_stats for the per-cluster size.
# ---------------------------------------------------------------------------


def q83_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    bands = dedupe.minhash_bands(
        d, "doc_id", "text", num_hashes=8, bands=4, shingle_n=5
    )
    labels = components.connected_components(
        dedupe.near_dup_candidates(bands, "doc_id")
    )
    singletons = (
        d.select(F.col("doc_id").alias("node"))
        .join(F.broadcast(labels.select("node")), "node", "left_anti")
        .withColumn("component", F.col("node"))
    )
    return components.cluster_stats(labels.unionByName(singletons))


Q83_SQL = f"""
WITH RECURSIVE
bands AS MATERIALIZED ({Q25_SQL}),
pairs AS (
  SELECT DISTINCT a.doc_id AS u, b.doc_id AS v
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id
),
sym AS (SELECT u, v FROM pairs UNION SELECT v AS u, u AS v FROM pairs),
reach(node, r) AS (
  SELECT u, u FROM sym
  UNION
  SELECT s.u, reach.r FROM sym s JOIN reach ON reach.node = s.v
),
cc AS (SELECT node, min(r) AS component FROM reach GROUP BY node),
all_labels AS (
  SELECT node, component FROM cc
  UNION ALL
  SELECT doc_id AS node, doc_id AS component FROM documents
  WHERE doc_id NOT IN (SELECT node FROM cc)
)
SELECT component, CAST(count(*) AS BIGINT) AS n_members
FROM all_labels GROUP BY component
"""


# ---------------------------------------------------------------------------
# q84 — registered-decoder decode over the binary media pipeline
#
# Exercises the decoder REGISTRY end-to-end (multimodal.decoded_stats):
# documents re-encoded as binary media payloads, decoded by the
# registered text/plain codec inside Arrow-batched mapInPandas, then
# aggregated.  The decoder snapshot ships in the UDF closure — the
# design a real cluster needs, since module-level registration on the
# driver does not exist on executors.  Oracle: a utf-8 replace-decode
# of valid utf-8 text is the text itself, so decoded_len must equal
# length(text) exactly.
# ---------------------------------------------------------------------------


def q84_decoded_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hospital_data_engineering_pipeline_end_to_end_project_spark.operators import multimodal

    d = load_table(spark, sf_dir, "documents")
    decoded = multimodal.decoded_stats(multimodal.documents_as_media(d))
    return decoded.groupBy("mime", "decode_ok").agg(
        F.count(F.lit(1)).cast("long").alias("n_media"),
        F.sum("decoded_len").cast("long").alias("total_decoded_len"),
        F.min("decoded_len").cast("long").alias("min_decoded_len"),
        F.max("decoded_len").cast("long").alias("max_decoded_len"),
    )


Q84_SQL = """
SELECT 'text/plain' AS mime, TRUE AS decode_ok,
       CAST(count(*) AS BIGINT) AS n_media,
       CAST(sum(length(text)) AS BIGINT) AS total_decoded_len,
       CAST(min(length(text)) AS BIGINT) AS min_decoded_len,
       CAST(max(length(text)) AS BIGINT) AS max_decoded_len
FROM documents
"""


# ---------------------------------------------------------------------------
# q85 — REAL binary header decode: stdlib PNG IHDR / JPEG SOF parsers
#
# Synthesizes genuine PNG/JPEG payloads per document id with pure
# Column expressions (hex/unhex/crc32 — the PNG carries a spec-correct
# IHDR CRC), dimensions derived from the id; every 7th payload is
# truncated to 16 bytes.  The registered stdlib decoders
# (multimodal.png_header_decoder / jpeg_sof_decoder) then byte-parse
# the headers inside Arrow-batched mapInPandas.  The oracle predicts
# each row from the id formulas — if a parser misreads so much as an
# endian byte, the hash check fails; if it accepts a truncated
# header, decode_ok diverges.  This is the non-trivial exercise of
# the decoder registry (q84 covers the text/plain path).
# ---------------------------------------------------------------------------


def q85_image_header_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hospital_data_engineering_pipeline_end_to_end_project_spark.operators import multimodal

    d = load_table(spark, sf_dir, "documents")
    media = multimodal.synthesize_image_media(d, "doc_id")
    return multimodal.image_dims(media)


Q85_SQL = """
SELECT CAST(doc_id AS BIGINT) AS media_id,
       CASE WHEN doc_id % 2 = 0 THEN 'image/png' ELSE 'image/jpeg' END AS mime,
       (doc_id % 7) <> 0 AS decode_ok,
       CASE WHEN (doc_id % 7) <> 0 THEN CAST(doc_id % 300 + 1 AS BIGINT) END AS width,
       CASE WHEN (doc_id % 7) <> 0 THEN CAST((doc_id * 7) % 200 + 1 AS BIGINT) END AS height
FROM documents
"""


# ---------------------------------------------------------------------------
# q86 — SimHash banded near-dup pairs (the third dedup family)
#
# MinHash-LSH (q25/q26) approximates SHINGLE-SET Jaccard; SimHash
# blocks on a 64-bit token-multiset fingerprint and verifies with one
# bit_count(xor) — no second pass over the text.  With 4 bands and
# hamming <= 3 the blocking is EXACT by pigeonhole (any pair within
# hamming 3 agrees on >= 1 of the 4 sixteen-bit slices), so the
# oracle is a literal replay, not a recall bound.  The oracle builds
# the identical fingerprints by interpolating Q27_SQL.
# ---------------------------------------------------------------------------


def q86_simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return dedupe.simhash_near_dups(
        d, "doc_id", "text", bits=64, bands=4, max_hamming=3
    )


Q86_SQL = f"""
WITH sh AS ({Q27_SQL}),
bands AS (
  SELECT doc_id, simhash, b.i AS band_id,
         (simhash >> (b.i * 16)) & 65535 AS band_val
  FROM sh, (SELECT unnest(range(4)) AS i) b
),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         a.simhash AS sa, b.simhash AS sb
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_val = b.band_val
   AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
FROM pairs WHERE bit_count(xor(sa, sb)) <= 3
"""


# ---------------------------------------------------------------------------
# q87 — BM25 lexical retrieval (top-k docs for a bag-of-terms query)
#
# The standard lexical ranking function (Lucene/Elasticsearch default)
# and the usual hard-negative miner in retrieval training pipelines.
#
# DEVIATION FROM STANDARD BM25: this query scores with the LOG-FREE
# Robertson odds-ratio idf (bm25_topk's default; see the deviation
# note on operators/dataprep.py:bm25_topk) — rare terms are weighted
# far more heavily than under Lucene's ln(1 + odds), so multi-term
# rankings can differ from a real search engine's.  The trade buys
# bit-exact cross-engine comparison: the per-(doc, term) scoring
# expression is ONE string (operators/dataprep.py:bm25_score_sql)
# interpolated verbatim into both the Spark selectExpr and this
# oracle, per-term scores are pivoted into fixed columns and summed in
# fixed textual order (libm ``ln`` is engine-specific in the last
# ulp — same documented trade as q54).  ``bm25_topk(log_idf=True)``
# gives standard Lucene scoring, tolerance-tested in
# tests/test_dataprep.py.
# ---------------------------------------------------------------------------

Q87_TERMS = ("scan", "merge", "stream")
Q87_K = 10


def q87_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    # doc lengths via size() — no explode, no corpus-wide shuffle —
    # and the token array is filtered to the query terms BEFORE the
    # explode, so only matching occurrences ever become rows
    dl = d.select("doc_id", F.size(TX.tokens("text")).cast("long").alias("dl"))
    qtok = d.select(
        "doc_id",
        F.explode(
            F.filter(TX.tokens("text"), lambda x: x.isin(*Q87_TERMS))
        ).alias("term"),
    )
    return dataprep.bm25_topk(
        qtok, "doc_id", "term", Q87_TERMS, k=Q87_K, doc_lengths=dl
    )


def _q87_sql() -> str:
    terms_in = ", ".join(f"'{t}'" for t in Q87_TERMS)
    pivots = ",\n         ".join(
        f"max(CASE WHEN term = '{t}' THEN score END) AS s{i}"
        for i, t in enumerate(Q87_TERMS)
    )
    total = " + ".join(
        f"COALESCE(s{i}, CAST(0 AS DOUBLE))" for i in range(len(Q87_TERMS))
    )
    return f"""
WITH tok AS (
  SELECT doc_id, unnest({TOKS_SQL}) AS term FROM documents
),
dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM tok GROUP BY doc_id),
totals AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(dl) AS BIGINT) AS total_tokens
  FROM dl
),
tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM tok WHERE term IN ({terms_in}) GROUP BY doc_id, term
),
dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
base AS (
  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df, dl.dl, totals.n_docs,
         {dataprep._BM25_AVGDL} AS avgdl
  FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id), totals
),
scored AS (
  SELECT doc_id, term, {dataprep.bm25_score_sql()} AS score FROM base
),
piv AS (
  SELECT doc_id,
         {pivots}
  FROM scored GROUP BY doc_id
)
SELECT doc_id, bm25,
       CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS BIGINT) AS rank
FROM (SELECT doc_id, {total} AS bm25 FROM piv)
QUALIFY rank <= {Q87_K}
"""


Q87_SQL = _q87_sql()


# ---------------------------------------------------------------------------
# q88 — semantic dedup over embeddings (SemDeDup family,
# centroid-proximity variant)
#
# The embedding-space counterpart of the text dedup stack (q25/q26/
# q86): cluster with the bounded-sample IVF quantizer, keep the
# vector nearest each centroid, flag the rest as semantic-duplicate
# candidates.  No within-cluster pair join — the property that makes
# it usable at corpus scale.  The oracle interpolates the SAME
# quantizer-replay CTE prefix as q48, so both queries attest the one
# training path.
# ---------------------------------------------------------------------------


def q88_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return similarity.semantic_dedup(
        e, id_col="vec_id", vec_col="embedding", n_clusters=8
    )


Q88_SQL = f"""
WITH {llm_ops._q48_quantizer_prefix()}
SELECT vec_id, CAST(c AS BIGINT) AS cluster, round(dd, 6) AS dist,
       row_number() OVER (PARTITION BY c ORDER BY dd, vec_id) = 1 AS is_kept
FROM rf WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# q89 — composite quality filter (Gopher / C4 rule-list verdicts)
#
# The decision stage the per-signal queries (q21 tokens, q22 ratios,
# q56 repetition) feed in a real pipeline: one keep/drop verdict per
# doc with the FIRST failed rule as an auditable reason.  All ratios
# are count/count IEEE divisions — bit-identical cross-engine, so
# rule comparisons need no tolerance.
# ---------------------------------------------------------------------------

_Q89_EN = ", ".join(f"'{w}'" for w in TX.LANG_STOPWORDS["en"])
Q89_MIN_TOKENS, Q89_MAX_PUNCT, Q89_MIN_STOP, Q89_MAX_TOP = 20, 0.2, 0.02, 0.10


def q89_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return dataprep.quality_filter(
        d,
        "doc_id",
        "text",
        min_tokens=Q89_MIN_TOKENS,
        max_punct=Q89_MAX_PUNCT,
        min_stopword=Q89_MIN_STOP,
        max_top_shingle=Q89_MAX_TOP,
        shingle_n=5,
    )


Q89_SQL = rf"""
WITH t AS (SELECT doc_id, text, {TOKS_SQL} AS tk FROM documents),
base AS (
  SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
         CAST(length(text) - length(regexp_replace(text, '[\.,;:!\?]', '', 'g')) AS DOUBLE)
           / length(text) AS punct,
         CAST(len(list_filter(tk, x -> x IN ({_Q89_EN}))) AS DOUBLE)
           / len(tk) AS stop
  FROM t
),
sh AS (
  SELECT doc_id,
         unnest([array_to_string(tk[i+1:i+5], ' ')
                 FOR i IN range(len(tk) - 4)]) AS s
  FROM t WHERE len(tk) >= 5
),
per AS (SELECT doc_id, s, count(*) AS c FROM sh GROUP BY doc_id, s),
rep AS (
  SELECT doc_id, CAST(max(c) AS DOUBLE) / sum(c) AS top_ratio
  FROM per GROUP BY doc_id
),
j AS (
  SELECT b.*, COALESCE(r.top_ratio, CAST(0 AS DOUBLE)) AS top_ratio
  FROM base b LEFT JOIN rep r USING (doc_id)
),
v AS (
  SELECT doc_id, n_tokens, punct, stop, top_ratio,
         CASE WHEN n_tokens < {Q89_MIN_TOKENS} THEN 'too_short'
              WHEN punct > CAST({Q89_MAX_PUNCT} AS DOUBLE) THEN 'high_punct'
              WHEN stop < CAST({Q89_MIN_STOP} AS DOUBLE) THEN 'low_stopword'
              WHEN top_ratio > CAST({Q89_MAX_TOP} AS DOUBLE) THEN 'repetitive'
         END AS reason
  FROM j
)
SELECT doc_id, n_tokens, round(punct, 6) AS punct_ratio,
       round(stop, 6) AS stopword_ratio,
       round(top_ratio, 6) AS top_shingle_ratio,
       reason, reason IS NULL AS keep
FROM v
"""


# ---------------------------------------------------------------------------
# q90 — Z-order clustered write + 2-D box-filter readback
#
# Exercises the multi-column data-skipping layout end to end: lineitem
# is written Z-ordered on (l_extendedprice, l_quantity), read back
# through a box predicate on both dims, and aggregated.  Results are
# layout-invariant, so the oracle filters the source table directly —
# the gate attests that the quantile-bucketed Morton write loses or
# duplicates nothing.  (The layout property itself — bounded per-file
# hyper-rectangles, file skipping on either dim — is plan-level and
# asserted in tests/test_clustered_write.py.)
# ---------------------------------------------------------------------------


def q90_zorder_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hospital_data_engineering_pipeline_end_to_end_project_spark.scratch import scratch_path
    from hospital_data_engineering_pipeline_end_to_end_project_spark.sources.writers import write_zordered

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_quantity", "l_returnflag"
    )
    tmp = scratch_path("q90", "lineitem_z")
    # 32 output files: matches the local core count so the sort+write
    # stage isn't 8 tasks on 32 cores, and finer per-file
    # hyper-rectangles skip harder (results are layout-invariant)
    write_zordered(
        li, tmp, ["l_extendedprice", "l_quantity"], num_files=32
    )
    back = read_parquet(spark, tmp)
    boxed = back.filter(
        (F.col("l_extendedprice") >= 10000.0)
        & (F.col("l_extendedprice") < 30000.0)
        & (F.col("l_quantity") >= 10.0)
        & (F.col("l_quantity") < 40.0)
    )
    return boxed.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.col("l_quantity").cast("decimal(18,6)"))
        .cast("double")
        .alias("sum_qty"),
    )


Q90_SQL = """
SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
FROM lineitem
WHERE l_extendedprice >= 10000.0 AND l_extendedprice < 30000.0
  AND l_quantity >= 10.0 AND l_quantity < 40.0
GROUP BY l_returnflag
"""


# ---------------------------------------------------------------------------
# q91 — strict-sequence event funnel with a conversion window
# (view -> click -> purchase, each within 3 days of the prior stage)
#
# The standard product-analytics conversion funnel: a user advances a
# stage only with an event STRICTLY AFTER their previous stage's
# earliest qualifying event AND within the conversion window (an
# unwindowed funnel saturates on any long-lived corpus — every
# active user eventually does everything).  Three conditional-min
# aggregations chained by user-keyed joins — after the first shuffle
# every join and groupBy is co-partitioned on user_id.  Counts are
# exact ints; no float surface at all.
# ---------------------------------------------------------------------------

Q91_WINDOW_US = 3 * 86400 * 1_000_000  # 3-day conversion window


def q91_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_events(spark, sf_dir).select("user_id", "event_type", "ts_us")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("v_ts"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(
            (F.col("ts_us") > F.col("v_ts"))
            & (F.col("ts_us") <= F.col("v_ts") + F.lit(Q91_WINDOW_US))
        )
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("c_ts"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(
            (F.col("ts_us") > F.col("c_ts"))
            & (F.col("ts_us") <= F.col("c_ts") + F.lit(Q91_WINDOW_US))
        )
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("p_ts"))
    )
    stages = (
        v.select(F.lit("1_view").alias("stage"), "user_id")
        .unionByName(c.select(F.lit("2_click").alias("stage"), "user_id"))
        .unionByName(p.select(F.lit("3_purchase").alias("stage"), "user_id"))
    )
    return stages.groupBy("stage").agg(
        F.count(F.lit(1)).cast("long").alias("n_users")
    )


Q91_SQL = f"""
WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
v AS (
  SELECT user_id, min(ts_us) AS v_ts FROM e
  WHERE event_type = 'view' GROUP BY user_id
),
c AS (
  SELECT e.user_id, min(ts_us) AS c_ts
  FROM e JOIN v USING (user_id)
  WHERE event_type = 'click' AND ts_us > v_ts
    AND ts_us <= v_ts + {Q91_WINDOW_US}
  GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, min(ts_us) AS p_ts
  FROM e JOIN c USING (user_id)
  WHERE event_type = 'purchase' AND ts_us > c_ts
    AND ts_us <= c_ts + {Q91_WINDOW_US}
  GROUP BY e.user_id
),
st AS (
  SELECT '1_view' AS stage, user_id FROM v
  UNION ALL SELECT '2_click', user_id FROM c
  UNION ALL SELECT '3_purchase', user_id FROM p
)
SELECT stage, CAST(count(*) AS BIGINT) AS n_users FROM st GROUP BY stage
"""


# ---------------------------------------------------------------------------
# q92 — cohort retention (classic monthly retention triangle)
#
# Cohort = a user's first active month; retention cell = distinct
# users from that cohort active ``month_offset`` months later.  Two
# user-keyed aggregations over the distinct (user, month) activity
# set; month arithmetic is integral on month-truncated dates, so the
# offsets are exact on both engines.
# ---------------------------------------------------------------------------


def q92_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # cohorts over ORDERS (multi-year span; the events table covers a
    # single month, which would collapse the triangle to one cell):
    # customer cohort = first order month, retention cell = distinct
    # customers from that cohort ordering month_offset months later.
    # Offsets are QUARTERLY-bucketed only in display (kept monthly) —
    # month arithmetic on month-truncated dates is integral, so the
    # offsets are exact on both engines.
    am = (
        load_table(spark, sf_dir, "orders")
        .select(
            F.col("o_custkey").alias("custkey"),
            F.date_trunc("month", F.col("o_orderdate"))
            .cast("date")
            .alias("month"),
        )
        .distinct()
    )
    cohort = am.groupBy("custkey").agg(F.min("month").alias("cohort_month"))
    joined = am.join(cohort, "custkey")
    return joined.groupBy(
        "cohort_month",
        F.months_between(F.col("month"), F.col("cohort_month"))
        .cast("long")
        .alias("month_offset"),
    ).agg(F.countDistinct("custkey").cast("long").alias("n_customers"))


Q92_SQL = """
WITH am AS (
  SELECT DISTINCT o_custkey AS custkey,
         CAST(date_trunc('month', o_orderdate) AS DATE) AS month
  FROM orders
),
c AS (SELECT custkey, min(month) AS cohort_month FROM am GROUP BY custkey)
SELECT cohort_month,
       CAST(date_diff('month', cohort_month, month) AS BIGINT) AS month_offset,
       CAST(count(DISTINCT custkey) AS BIGINT) AS n_customers
FROM am JOIN c USING (custkey)
GROUP BY cohort_month, date_diff('month', cohort_month, month)
"""


# ---------------------------------------------------------------------------
# q93 — multi-signal duplicate clusters
#
# Production dedup unions the evidence of several detectors before
# resolving clusters — a pair missed by shingle-MinHash (word
# re-ordering keeps the token multiset) can be caught by SimHash, and
# vice versa (a shared long passage survives banding but not the
# global fingerprint).  Union of the q25-LSH and q86-SimHash pair
# sets, transitively closed by the same min-label CC.  The oracle
# replays both detectors and the closure in one recursive CTE chain.
# ---------------------------------------------------------------------------


def q93_multi_signal_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    bands = dedupe.minhash_bands(
        d, "doc_id", "text", num_hashes=8, bands=4, shingle_n=5
    )
    mh = dedupe.near_dup_candidates(bands, "doc_id")
    sh = dedupe.simhash_near_dups(
        d, "doc_id", "text", bits=64, bands=4, max_hamming=3
    ).select("id_a", "id_b")
    pairs = mh.unionByName(sh).distinct()
    return components.connected_components(pairs)


Q93_SQL = f"""
WITH RECURSIVE
bands AS MATERIALIZED ({Q25_SQL}),
mh AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id
),
fp AS ({Q27_SQL}),
sbands AS (
  SELECT doc_id, simhash, b.i AS band_id,
         (simhash >> (b.i * 16)) & 65535 AS band_val
  FROM fp, (SELECT unnest(range(4)) AS i) b
),
sh AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sbands a JOIN sbands b
    ON a.band_id = b.band_id AND a.band_val = b.band_val
   AND a.doc_id < b.doc_id
  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
),
pairs AS (SELECT id_a AS u, id_b AS v FROM mh
          UNION SELECT id_a, id_b FROM sh),
sym AS (SELECT u, v FROM pairs UNION SELECT v AS u, u AS v FROM pairs),
reach(node, r) AS (
  SELECT u, u FROM sym
  UNION
  SELECT s.u, reach.r FROM sym s JOIN reach ON reach.node = s.v
)
SELECT node, min(r) AS component FROM reach GROUP BY node
"""


# ---------------------------------------------------------------------------
# q113 — time-weighted average (TWAP) per event type
#
# The temporal-integration aggregate q35/q36/q37's join family leads
# up to: each observation's value holds until the user's next event,
# so its weight is the integer micros to that event — the
# step-function integral / total time, the standard aggregate for
# irregularly-sampled series where plain AVG over-weights bursts.
# One lead window per user (ordered by (ts_us, event_id) — the id
# tiebreak keeps equal-micros orders total, and DuckDB sees the same
# micros via epoch_us), exact DECIMAL(18,6) x DECIMAL(18,0) weighted
# sums, ONE final double division
# (operators/temporal.py:time_weighted_avg).
# ---------------------------------------------------------------------------


def q113_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hospital_data_engineering_pipeline_end_to_end_project_spark.operators import temporal

    e = load_events(spark, sf_dir).select(
        "event_type", "user_id", "ts_us", "event_id", "value"
    )
    return temporal.time_weighted_avg(
        e, "user_id", "ts_us", "event_id", "value", "event_type"
    ).withColumnRenamed("total_dur", "total_dur_us")


Q113_SQL = """
WITH seg AS (
  SELECT event_type, value,
         lead(epoch_us(ts)) OVER (
           PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
           - epoch_us(ts) AS dur
  FROM events
)
SELECT event_type,
       count(*) AS n_segments,
       CAST(sum(dur) AS BIGINT) AS total_dur_us,
       round(CAST(sum(CAST(value AS DECIMAL(18,6))
                      * CAST(dur AS DECIMAL(20,0))) AS DOUBLE)
             / nullif(CAST(sum(dur) AS DOUBLE), 0e0), 6) AS twap
FROM seg WHERE dur IS NOT NULL
GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# q115 — per-group OLS trend (exact power sums, one IEEE finish)
#
# Least-squares slope/intercept/r2 of value-over-time per event type —
# the drift/trend diagnostic a monitoring pipeline runs per segment.
# Same exactness grammar as q65: x = seconds since a FIXED epoch
# offset (integer), y = cents (integer), the five power sums
# accumulate in DECIMAL(38,0) (order-independent, map-side
# combinable, overflow-free to ~1e10 rows with the offset), and the
# closed-form finish is ONE fixed double chain written identically in
# both engines.  Scale shape: a single scan + one groupBy with six
# accumulators — the cheapest possible distributed regression.
# ---------------------------------------------------------------------------

#: Fixed epoch offset (2020-09-13T12:26:40Z) — conditioning only;
#: any constant works, but it must be a literal (never data-derived)
#: so the plan stays one pass and the oracle replays it verbatim.
Q115_X0 = 1_600_000_000


def q115_ols_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_events(spark, sf_dir)
    x = (F.col("ts_sec") - F.lit(Q115_X0)).cast("decimal(19,0)")
    y = F.round(F.col("value") * 100).cast("decimal(19,0)")
    agg = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
        F.sum(x * y).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxx = F.col("sxx").cast("double")
    syy = F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    num = nd * sxy - sx * sy
    den = nd * sxx - sx * sx
    slope = num / den  # cents per second
    return agg.select(
        "event_type",
        "n",
        F.round(slope / F.lit(100.0), 6).alias("slope_per_sec"),
        F.round((sy - slope * sx) / nd / F.lit(100.0), 6).alias(
            "intercept"
        ),
        F.round(
            (num * num) / (den * (nd * syy - sy * sy)), 6
        ).alias("r2"),
    )


Q115_SQL = f"""
WITH s AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(epoch_us(ts) // 1000000 - {Q115_X0}
                       AS DECIMAL(19,0))) AS DOUBLE) AS sx,
         CAST(sum(CAST(round(value * 100) AS DECIMAL(19,0))) AS DOUBLE)
           AS sy,
         CAST(sum(CAST(epoch_us(ts) // 1000000 - {Q115_X0}
                       AS DECIMAL(19,0))
                  * CAST(epoch_us(ts) // 1000000 - {Q115_X0}
                         AS DECIMAL(19,0))) AS DOUBLE) AS sxx,
         CAST(sum(CAST(round(value * 100) AS DECIMAL(19,0))
                  * CAST(round(value * 100) AS DECIMAL(19,0))) AS DOUBLE)
           AS syy,
         CAST(sum(CAST(epoch_us(ts) // 1000000 - {Q115_X0}
                       AS DECIMAL(19,0))
                  * CAST(round(value * 100) AS DECIMAL(19,0))) AS DOUBLE)
           AS sxy
  FROM events GROUP BY event_type
)
SELECT event_type, n,
       round((CAST(n AS DOUBLE) * sxy - sx * sy)
             / (CAST(n AS DOUBLE) * sxx - sx * sx) / 100.0, 6)
         AS slope_per_sec,
       round((sy - (CAST(n AS DOUBLE) * sxy - sx * sy)
                   / (CAST(n AS DOUBLE) * sxx - sx * sx) * sx)
             / CAST(n AS DOUBLE) / 100.0, 6) AS intercept,
       round(((CAST(n AS DOUBLE) * sxy - sx * sy)
              * (CAST(n AS DOUBLE) * sxy - sx * sy))
             / ((CAST(n AS DOUBLE) * sxx - sx * sx)
                * (CAST(n AS DOUBLE) * syy - sy * sy)), 6) AS r2
FROM s
"""


QUERIES = {
    "q61_dup_clusters": q61_dup_clusters,
    "q62_skew_salted_counts": q62_skew_salted_counts,
    "q63_stratified_sample": q63_stratified_sample,
    "q64_group_percentiles": q64_group_percentiles,
    "q65_corr_stats": q65_corr_stats,
    "q66_unpivot_part": q66_unpivot_part,
    "q67_grouping_sets": q67_grouping_sets,
    "q68_orc_roundtrip": q68_orc_roundtrip,
    "q69_session_windows": q69_session_windows,
    "q70_dedup_canonical": q70_dedup_canonical,
    "q71_embedding_centroids": q71_embedding_centroids,
    "q72_window_suite": q72_window_suite,
    "q73_gap_fill_months": q73_gap_fill_months,
    "q74_fuzzy_name_pairs": q74_fuzzy_name_pairs,
    "q75_rolling_revenue": q75_rolling_revenue,
    "q76_price_histogram": q76_price_histogram,
    "q77_revenue_share": q77_revenue_share,
    "q78_dynamic_pivot": q78_dynamic_pivot,
    "q79_corpus_prep_pipeline": q79_corpus_prep_pipeline,
    "q80_salted_join_agg": q80_salted_join_agg,
    "q81_bag_set_ops": q81_bag_set_ops,
    "q82_outer_explode": q82_outer_explode,
    "q83_cluster_sizes": q83_cluster_sizes,
    "q84_decoded_media": q84_decoded_media,
    "q85_image_header_decode": q85_image_header_decode,
    "q86_simhash_near_dups": q86_simhash_near_dups,
    "q87_bm25_topk": q87_bm25_topk,
    "q88_semantic_dedup": q88_semantic_dedup,
    "q89_quality_filter": q89_quality_filter,
    "q90_zorder_roundtrip": q90_zorder_roundtrip,
    "q91_event_funnel": q91_event_funnel,
    "q92_retention_cohorts": q92_retention_cohorts,
    "q93_multi_signal_clusters": q93_multi_signal_clusters,
    "q113_time_weighted_avg": q113_time_weighted_avg,
    "q115_ols_trend": q115_ols_trend,
}

ORACLES = {
    "q61_dup_clusters": Q61_SQL,
    "q62_skew_salted_counts": Q62_SQL,
    "q63_stratified_sample": Q63_SQL,
    "q64_group_percentiles": Q64_SQL,
    "q65_corr_stats": Q65_SQL,
    "q66_unpivot_part": Q66_SQL,
    "q67_grouping_sets": Q67_SQL,
    "q68_orc_roundtrip": Q68_SQL,
    "q69_session_windows": Q69_SQL,
    "q70_dedup_canonical": Q70_SQL,
    "q71_embedding_centroids": Q71_SQL,
    "q72_window_suite": Q72_SQL,
    "q73_gap_fill_months": Q73_SQL,
    "q74_fuzzy_name_pairs": Q74_SQL,
    "q75_rolling_revenue": Q75_SQL,
    "q76_price_histogram": Q76_SQL,
    "q77_revenue_share": Q77_SQL,
    "q78_dynamic_pivot": Q78_SQL,
    "q79_corpus_prep_pipeline": Q79_SQL,
    "q80_salted_join_agg": Q80_SQL,
    "q81_bag_set_ops": Q81_SQL,
    "q82_outer_explode": Q82_SQL,
    "q83_cluster_sizes": Q83_SQL,
    "q84_decoded_media": Q84_SQL,
    "q85_image_header_decode": Q85_SQL,
    "q86_simhash_near_dups": Q86_SQL,
    "q87_bm25_topk": Q87_SQL,
    "q88_semantic_dedup": Q88_SQL,
    "q89_quality_filter": Q89_SQL,
    "q90_zorder_roundtrip": Q90_SQL,
    "q91_event_funnel": Q91_SQL,
    "q92_retention_cohorts": Q92_SQL,
    "q93_multi_signal_clusters": Q93_SQL,
    "q113_time_weighted_avg": Q113_SQL,
    "q115_ols_trend": Q115_SQL,
}
