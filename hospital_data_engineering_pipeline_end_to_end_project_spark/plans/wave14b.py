"""Round-14 waves 2-3: the last eight classic TPC-H shapes
(q175-q182), completing the full 22-query TPC-H optimizer grammar,
plus the content-defined-chunking dedup block (q183 CDC dedup, q184
chunk-store served report, q185 incremental chunk probe).

With q175-q182 every TPC-H query shape has a gated, oracle-checked
form in the catalog: Q1=q01, Q2=q100, Q3=q03, Q4=q175, Q5=q165,
Q6=q176, Q7=q160, Q8=q161, Q9=q162, Q10=q177, Q11=q178, Q12=q179,
Q13=q168, Q14=q166, Q15=q180, Q16=q181, Q17=q169, Q18=q167, Q19=q182,
Q20=q170, Q21=q101, Q22=q171.  The shipped schema has no partsupp /
shipmode / commitdate / receiptdate / container, so predicates adapt
(documented per query) while the SHAPES — semi/anti joins, scalar
subqueries, disjunctive join predicates, groupwise-vs-global
comparisons — stay faithful; that grammar is what the optimizer
exercises, and what a 100 TB plan lives or dies on.

House rules carried over from q160-q171 (all measured, see
BASELINE.md and the memory'd plan rules):
- prune every fact with its selective broadcast dimension BEFORE any
  fact-fact shuffle;
- money in exact integer cents, discounts in integral percent
  (verified integral at every SF), ``price*(1-disc)`` as
  ``cents * (100 - pct)`` — every oracle comparison an arithmetic
  identity, never a float round;
- scalar subqueries decorrelated to one-row broadcast cross joins,
  compared by integer cross-multiplication;
- groupwise-vs-global fraction tests cross-multiplied in
  DECIMAL(38,0) / HUGEINT (the proven cross-engine idiom) because
  ``sum_cents * 1e6`` overflows int64 at the 100 TB fact scale;
- frames consumed twice are materialized once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hospital_data_engineering_pipeline_end_to_end_project_spark.operators.materialize import materialize
from hospital_data_engineering_pipeline_end_to_end_project_spark.sources.readers import load_table

QUERIES: dict = {}
ORACLES: dict = {}


def _cents(col: str):
    return F.round(F.col(col) * 100).cast("long")


def _pct(col: str):
    return F.round(F.col(col) * 100).cast("long")


def _qty():
    return F.round(F.col("l_quantity")).cast("long")


# ---------------------------------------------------------------------------
# q175 — TPC-H Q4 shape: order-priority checking (EXISTS semi join)
# ---------------------------------------------------------------------------

Q175_FROM, Q175_TO = "1996-07-01", "1996-10-01"


def q175_priority_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: per-priority count of one quarter's orders that
    have at least one problem line — Q4's ``l_commitdate <
    l_receiptdate`` EXISTS adapted to the shipped schema as "a
    returned line" (``l_returnflag = 'R'``); the correlated EXISTS is
    the same left-semi join either way.

    Plan: both facts are pruned by PUSHED scan filters first (orders
    to one quarter, lineitem to the R flag and one column), then meet
    in the semi shuffle — the semi join never materializes lineitem
    payload, and the final aggregate is five groups, map-side
    combinable."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")

    o = orders.filter(
        (F.col("o_orderdate") >= F.lit(Q175_FROM).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(Q175_TO).cast("timestamp"))
    ).select("o_orderkey", "o_orderpriority")
    problem = li.filter(F.col("l_returnflag") == "R").select("l_orderkey")
    return (
        o.join(problem, o.o_orderkey == problem.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).cast("long").alias("order_count"))
    )


Q175_SQL = f"""
SELECT o_orderpriority, count(*)::BIGINT AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '{Q175_FROM}'
  AND o_orderdate < TIMESTAMP '{Q175_TO}'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
GROUP BY o_orderpriority
"""

QUERIES["q175_priority_returns"] = q175_priority_returns
ORACLES["q175_priority_returns"] = Q175_SQL


# ---------------------------------------------------------------------------
# q176 — TPC-H Q6 shape: forecasting revenue change (pure scan-agg)
# ---------------------------------------------------------------------------

Q176_YEAR_FROM, Q176_YEAR_TO = "1996-01-01", "1997-01-01"
Q176_DISC_PCTS = (5, 6, 7)
Q176_MAX_QTY = 24


def q176_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: revenue that would be recovered by eliminating
    mid-band discounts on small-quantity lines in one year — the pure
    filter-and-sum whose whole cost is the scan, so the plan question
    is entirely pushdown: the shipdate range reaches the parquet
    reader as PushedFilters, and discount/quantity (exact integral
    percent / units) filter inside one codegen stage.  Revenue
    ``sum(extendedprice * discount)`` in exact cents*percent units."""
    li = load_table(spark, sf_dir, "lineitem")
    f = li.filter(
        (F.col("l_shipdate") >= F.lit(Q176_YEAR_FROM).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(Q176_YEAR_TO).cast("timestamp"))
    ).select(
        _cents("l_extendedprice").alias("__ep"),
        _pct("l_discount").alias("__d"),
        _qty().alias("__q"),
    ).filter(F.col("__d").isin(*Q176_DISC_PCTS) & (F.col("__q") < Q176_MAX_QTY))
    return f.agg(
        F.sum(F.col("__ep") * F.col("__d")).cast("long").alias("revenue_cents_pct"),
        F.count(F.lit(1)).cast("long").alias("n_lines"),
    )


Q176_SQL = f"""
SELECT sum(cast(round(l_extendedprice * 100) AS BIGINT)
           * cast(round(l_discount * 100) AS BIGINT))::BIGINT
         AS revenue_cents_pct,
       count(*)::BIGINT AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '{Q176_YEAR_FROM}'
  AND l_shipdate < TIMESTAMP '{Q176_YEAR_TO}'
  AND cast(round(l_discount * 100) AS BIGINT) IN {Q176_DISC_PCTS}
  AND cast(round(l_quantity) AS BIGINT) < {Q176_MAX_QTY}
"""

QUERIES["q176_forecast_revenue"] = q176_forecast_revenue
ORACLES["q176_forecast_revenue"] = Q176_SQL


# ---------------------------------------------------------------------------
# q177 — TPC-H Q10 shape: returned-item reporting (top-20 customers)
# ---------------------------------------------------------------------------

Q177_FROM, Q177_TO = "1996-01-01", "1996-04-01"
Q177_TOP = 20


def q177_returned_item_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: the 20 customers who returned the most revenue
    in one quarter, with nation names.

    Plan discipline: the returned-lines fact collapses to a
    per-ORDERKEY revenue sum BEFORE the fact-fact join (map-side
    combinable, same hash key the join shuffles on — the exchange is
    shared, not added), the joined frame collapses again to
    per-CUSTKEY before customer attributes attach, and nation
    broadcasts.  The top-20 is a total order (revenue DESC, custkey
    ASC — deterministic under ties), TakeOrderedAndProject, never a
    global sort."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")

    rev_per_order = (
        li.filter(F.col("l_returnflag") == "R")
        .select(
            "l_orderkey",
            (_cents("l_extendedprice") * (F.lit(100) - _pct("l_discount"))).alias("__r"),
        )
        .groupBy("l_orderkey")
        .agg(F.sum("__r").cast("long").alias("__rev"))
    )
    o = orders.filter(
        (F.col("o_orderdate") >= F.lit(Q177_FROM).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(Q177_TO).cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    per_cust = (
        o.join(rev_per_order, o.o_orderkey == rev_per_order.l_orderkey)
        .groupBy("o_custkey")
        .agg(F.sum("__rev").cast("long").alias("revenue_cents_pct"))
    )
    out = (
        per_cust.join(customer, per_cust.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .select(
            "c_custkey",
            "c_name",
            "n_name",
            _cents("c_acctbal").alias("acctbal_cents"),
            "revenue_cents_pct",
        )
    )
    return out.orderBy(F.desc("revenue_cents_pct"), F.asc("c_custkey")).limit(Q177_TOP)


Q177_SQL = f"""
SELECT c_custkey, c_name, n_name,
       cast(round(c_acctbal * 100) AS BIGINT) AS acctbal_cents,
       sum(cast(round(l_extendedprice * 100) AS BIGINT)
           * (100 - cast(round(l_discount * 100) AS BIGINT)))::BIGINT
         AS revenue_cents_pct
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '{Q177_FROM}'
  AND o_orderdate < TIMESTAMP '{Q177_TO}'
GROUP BY c_custkey, c_name, n_name, c_acctbal
ORDER BY revenue_cents_pct DESC, c_custkey
LIMIT {Q177_TOP}
"""

QUERIES["q177_returned_item_customers"] = q177_returned_item_customers
ORACLES["q177_returned_item_customers"] = Q177_SQL


# ---------------------------------------------------------------------------
# q178 — TPC-H Q11 shape: important part values (groupwise vs global)
# ---------------------------------------------------------------------------

#: nations present in the supplier table at EVERY SF (sf0.001 has 10
#: suppliers over nationkeys {3,8,12,...}) so the smoke-scale oracle
#: row is never vacuous
Q178_NATIONS = (3, 8, 12)
Q178_FRAC_PPM = 800  # keep parts holding > 800 ppm of the total value


def q178_important_part_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose traded value from a nation-set's
    suppliers exceeds a fixed fraction of that set's TOTAL value —
    the groupwise-sum-vs-global-scalar HAVING (no partsupp in the
    shipped schema, so "stock value" is lineitem traded value; the
    nested-aggregate skeleton is identical).

    Plan: the fact is pruned by the broadcast supplier set, collapses
    to per-part cents, and is materialized ONCE (consumed by both the
    global total and the filter — the double-consumption rule); the
    total is a one-row broadcast cross join.  The fraction test
    cross-multiplies in DECIMAL(38,0)/HUGEINT: ``value * 1_000_000``
    overflows int64 once total cents pass ~9e12 (a few TB of fact),
    so the 100 TB-safe form is the wide-integer product on BOTH
    engines (bit-identical semantics, no rounding anywhere)."""
    li = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")

    supp = supplier.filter(F.col("s_nationkey").isin(*Q178_NATIONS)).select(
        "s_suppkey"
    )
    per_part = materialize(
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey, "left_semi")
        .groupBy("l_partkey")
        .agg(F.sum(_cents("l_extendedprice")).cast("long").alias("value_cents"))
    )
    total = per_part.agg(F.sum("value_cents").cast("long").alias("__tot"))
    return (
        per_part.join(F.broadcast(total))
        .filter(
            F.col("value_cents").cast("decimal(38,0)") * F.lit(1_000_000)
            > F.lit(Q178_FRAC_PPM) * F.col("__tot").cast("decimal(38,0)")
        )
        .select("l_partkey", "value_cents")
    )


Q178_SQL = f"""
WITH per_part AS (
  SELECT l_partkey,
         sum(cast(round(l_extendedprice * 100) AS BIGINT))::BIGINT AS value_cents
  FROM lineitem
  WHERE l_suppkey IN (SELECT s_suppkey FROM supplier
                      WHERE s_nationkey IN {Q178_NATIONS})
  GROUP BY l_partkey
),
total AS (SELECT sum(value_cents)::BIGINT AS tot FROM per_part)
SELECT l_partkey, value_cents
FROM per_part, total
WHERE value_cents::HUGEINT * 1000000 > {Q178_FRAC_PPM} * tot::HUGEINT
"""

QUERIES["q178_important_part_values"] = q178_important_part_values
ORACLES["q178_important_part_values"] = Q178_SQL


# ---------------------------------------------------------------------------
# q179 — TPC-H Q12 shape: priority classes per line status
# ---------------------------------------------------------------------------

Q179_FROM, Q179_TO = "1996-01-01", "1997-01-01"
Q179_HIGH = ("1-URGENT", "2-HIGH")


def q179_priority_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: per line class, how many of one year's shipped
    lines belong to high- vs low-priority orders — the
    fact-fact join feeding a conditional (CASE) aggregate.  The
    shipped schema has no shipmode/receiptdate, so the group is
    ``(l_returnflag, l_linestatus)`` and the window is on shipdate;
    the join + CASE-sum skeleton is Q12's.

    Plan: lineitem is pruned by the pushed shipdate range to one
    year and THREE columns; orders is collapsed to ``(key, is_high)``
    — one boolean instead of the priority string — before the
    shuffle; the conditional sums are map-side combinable."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")

    l = li.filter(
        (F.col("l_shipdate") >= F.lit(Q179_FROM).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(Q179_TO).cast("timestamp"))
    ).select("l_orderkey", "l_returnflag", "l_linestatus")
    o = orders.select(
        "o_orderkey",
        F.col("o_orderpriority").isin(*Q179_HIGH).alias("__high"),
    )
    one = F.lit(1).cast("long")
    zero = F.lit(0).cast("long")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.when(F.col("__high"), one).otherwise(zero))
            .cast("long")
            .alias("high_line_count"),
            F.sum(F.when(F.col("__high"), zero).otherwise(one))
            .cast("long")
            .alias("low_line_count"),
        )
    )


Q179_SQL = f"""
SELECT l_returnflag, l_linestatus,
       sum(CASE WHEN o_orderpriority IN {Q179_HIGH} THEN 1 ELSE 0 END)::BIGINT
         AS high_line_count,
       sum(CASE WHEN o_orderpriority IN {Q179_HIGH} THEN 0 ELSE 1 END)::BIGINT
         AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '{Q179_FROM}'
  AND l_shipdate < TIMESTAMP '{Q179_TO}'
GROUP BY l_returnflag, l_linestatus
"""

QUERIES["q179_priority_by_status"] = q179_priority_by_status
ORACLES["q179_priority_by_status"] = Q179_SQL


# ---------------------------------------------------------------------------
# q180 — TPC-H Q15 shape: top supplier (grouped max, equality join-back)
# ---------------------------------------------------------------------------

Q180_FROM, Q180_TO = "1996-01-01", "1996-04-01"


def q180_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: the supplier(s) whose quarterly revenue equals
    the MAXIMUM quarterly revenue — the revenue-view + scalar-max
    pattern.  Exact cents*(100-pct) revenue makes the max and the
    equality EXACT on both engines, so tie handling (Q15 returns all
    maximal suppliers) is deterministic, not float-lucky.

    Plan: per-supplier revenue is one pruned-scan aggregate,
    materialized once (consumed by the scalar max AND the filter);
    the max is a one-row broadcast cross join; the surviving handful
    of keys broadcast into the supplier dim join."""
    li = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")

    rev = materialize(
        li.filter(
            (F.col("l_shipdate") >= F.lit(Q180_FROM).cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(Q180_TO).cast("timestamp"))
        )
        .select(
            "l_suppkey",
            (_cents("l_extendedprice") * (F.lit(100) - _pct("l_discount"))).alias("__r"),
        )
        .groupBy("l_suppkey")
        .agg(F.sum("__r").cast("long").alias("total_revenue_cents_pct"))
    )
    mx = rev.agg(F.max("total_revenue_cents_pct").alias("__mx"))
    winners = rev.join(F.broadcast(mx)).filter(
        F.col("total_revenue_cents_pct") == F.col("__mx")
    )
    return supplier.join(
        F.broadcast(winners), supplier.s_suppkey == winners.l_suppkey
    ).select("s_suppkey", "s_name", "total_revenue_cents_pct")


Q180_SQL = f"""
WITH rev AS (
  SELECT l_suppkey,
         sum(cast(round(l_extendedprice * 100) AS BIGINT)
             * (100 - cast(round(l_discount * 100) AS BIGINT)))::BIGINT
           AS total_revenue_cents_pct
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '{Q180_FROM}'
    AND l_shipdate < TIMESTAMP '{Q180_TO}'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue_cents_pct
FROM supplier JOIN rev ON s_suppkey = l_suppkey
WHERE total_revenue_cents_pct = (SELECT max(total_revenue_cents_pct) FROM rev)
"""

QUERIES["q180_top_supplier"] = q180_top_supplier
ORACLES["q180_top_supplier"] = Q180_SQL


# ---------------------------------------------------------------------------
# q181 — TPC-H Q16 shape: supplier counts per part attribute
# ---------------------------------------------------------------------------

Q181_EXCL_BRAND = "Brand#13"
Q181_EXCL_TYPE_PREFIX = "PROMO"
Q181_SIZES = (1, 9, 14, 19, 23, 36, 45)


def q181_part_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: how many DISTINCT suppliers serve each
    (brand, type, size) bucket — excluding one brand, one type
    prefix, off-list sizes, and "complaint" suppliers (no comment
    text in the shipped schema; negative account balance is the
    stand-in; the NOT IN anti join is shape-identical).  No partsupp
    table, so the supplier-part relation is the DISTINCT lineitem
    lane set.

    Plan: the part filter broadcasts as a semi join, the complaint
    set broadcasts as an anti join, lanes dedupe on exactly the
    (partkey, suppkey) hash the count-distinct aggregate reuses, and
    part attributes broadcast onto the deduped lanes (|lanes| <<
    |fact|)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supplier = load_table(spark, sf_dir, "supplier")

    parts = part.filter(
        (F.col("p_brand") != Q181_EXCL_BRAND)
        & ~F.col("p_type").like(f"{Q181_EXCL_TYPE_PREFIX}%")
        & F.col("p_size").isin(*Q181_SIZES)
    ).select("p_partkey", "p_brand", "p_type", F.col("p_size").cast("long").alias("p_size"))
    bad = supplier.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    lanes = (
        li.select("l_partkey", "l_suppkey")
        .join(
            F.broadcast(parts.select("p_partkey")),
            F.col("l_partkey") == F.col("p_partkey"),
            "left_semi",
        )
        .join(F.broadcast(bad), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .distinct()
    )
    return (
        lanes.join(F.broadcast(parts), lanes.l_partkey == parts.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").cast("long").alias("supplier_cnt"))
    )


Q181_SQL = f"""
SELECT p_brand, p_type, p_size::BIGINT AS p_size,
       count(DISTINCT l_suppkey)::BIGINT AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand <> '{Q181_EXCL_BRAND}'
  AND p_type NOT LIKE '{Q181_EXCL_TYPE_PREFIX}%'
  AND p_size IN {Q181_SIZES}
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
"""

QUERIES["q181_part_supplier_counts"] = q181_part_supplier_counts
ORACLES["q181_part_supplier_counts"] = Q181_SQL


# ---------------------------------------------------------------------------
# q182 — TPC-H Q19 shape: discounted revenue, disjunctive join predicate
# ---------------------------------------------------------------------------

#: (brand, max_size, qty_lo, qty_hi) per OR-block — Q19's
#: brand/container/quantity triple with container adapted to size
Q182_BLOCKS = (
    ("Brand#12", 5, 1, 11),
    ("Brand#23", 10, 10, 20),
    ("Brand#4", 15, 20, 30),
)


def q182_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: revenue from three OR-ed brand/size/quantity
    blocks — the disjunctive mixed-table predicate that defeats naive
    pushdown.  The implication Q19's grammar tests: the UNION of the
    blocks' part-side conditions (brand IN set, size <= global max)
    IS pushable, so the part dim filters before broadcasting, the
    fact keeps only the joined rows, and the full disjunction
    evaluates post-join inside codegen — the plan a 100 TB scan
    needs (never part × lineitem, never a per-block scan)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")

    brands = tuple(b for b, _, _, _ in Q182_BLOCKS)
    max_size = max(s for _, s, _, _ in Q182_BLOCKS)
    parts = part.filter(
        F.col("p_brand").isin(*brands) & (F.col("p_size") <= max_size)
    ).select("p_partkey", "p_brand", "p_size")
    l = li.select(
        "l_partkey",
        _qty().alias("__q"),
        (_cents("l_extendedprice") * (F.lit(100) - _pct("l_discount"))).alias("__r"),
    )
    j = l.join(F.broadcast(parts), l.l_partkey == parts.p_partkey)
    pred = None
    for brand, size_hi, qty_lo, qty_hi in Q182_BLOCKS:
        blk = (
            (F.col("p_brand") == brand)
            & (F.col("p_size") <= size_hi)
            & (F.col("__q") >= qty_lo)
            & (F.col("__q") <= qty_hi)
        )
        pred = blk if pred is None else (pred | blk)
    return j.filter(pred).agg(
        F.sum("__r").cast("long").alias("revenue_cents_pct"),
        F.count(F.lit(1)).cast("long").alias("n_lines"),
    )


def _q182_block_sql(b: tuple) -> str:
    brand, size_hi, qty_lo, qty_hi = b
    return (
        f"(p_brand = '{brand}' AND p_size <= {size_hi}"
        f" AND cast(round(l_quantity) AS BIGINT) BETWEEN {qty_lo} AND {qty_hi})"
    )


Q182_SQL = f"""
SELECT sum(cast(round(l_extendedprice * 100) AS BIGINT)
           * (100 - cast(round(l_discount * 100) AS BIGINT)))::BIGINT
         AS revenue_cents_pct,
       count(*)::BIGINT AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE {" OR ".join(_q182_block_sql(b) for b in Q182_BLOCKS)}
"""

QUERIES["q182_disjunctive_revenue"] = q182_disjunctive_revenue
ORACLES["q182_disjunctive_revenue"] = Q182_SQL


# ---------------------------------------------------------------------------
# q183 — content-defined chunking dedup (shift-robust boilerplate
# detection; see operators/dedupe.py:cdc_chunks for the CDC contract)
# ---------------------------------------------------------------------------

from hospital_data_engineering_pipeline_end_to_end_project_spark.operators import dedupe  # noqa: E402
from hospital_data_engineering_pipeline_end_to_end_project_spark.plans.data_prep import TOKS_SQL  # noqa: E402

Q183_W = 4
Q183_MOD = 32


def q183_cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact chunk-level duplication over CONTENT-DEFINED chunks:
    boundaries fall where the rolling w-gram hash lands in the
    boundary class, so the dedup unit survives head insertions
    (fixed windows — q53 — shift everything after an edit).  The
    whole chunker is per-row higher-order array code in codegen;
    the only exchange is the final chunk-hash groupBy."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return dedupe.cdc_dup_chunks(
        d, "doc_id", "text", w=Q183_W, boundary_mod=Q183_MOD
    )


Q183_SQL = f"""
WITH t AS (SELECT doc_id, {TOKS_SQL} AS toks FROM documents),
d AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
brk AS (
  SELECT doc_id, toks, n,
         [i FOR i IN range({Q183_W}, n) IF
            CAST('0x' || substr(md5(array_to_string(
                list_slice(toks, i - {Q183_W} + 1, i), '|')), 1, 4) AS BIGINT)
            % {Q183_MOD} = 0] AS breaks
  FROM d
),
seg AS (
  SELECT doc_id, toks, n,
         list_concat([1], [b + 1 FOR b IN breaks]) AS starts,
         list_concat(breaks, [n]) AS ends
  FROM brk
),
ch AS (
  SELECT doc_id,
         unnest([array_to_string(list_slice(toks, starts[i], ends[i]), ' ')
                 FOR i IN range(1, len(starts) + 1)]) AS c
  FROM seg
)
SELECT md5(c) AS chunk_hash, count(*)::BIGINT AS n_copies,
       count(DISTINCT doc_id)::BIGINT AS n_docs,
       max(len(string_split(c, ' ')))::BIGINT AS n_tokens
FROM ch GROUP BY md5(c) HAVING count(*) >= 2
"""

QUERIES["q183_cdc_chunk_dedup"] = q183_cdc_chunk_dedup
ORACLES["q183_cdc_chunk_dedup"] = Q183_SQL


# ---------------------------------------------------------------------------
# q184/q185 — the NINTH index-served lifecycle: persistent CDC
# chunk-hash store (streaming/chunk_index.py)
# ---------------------------------------------------------------------------

from hospital_data_engineering_pipeline_end_to_end_project_spark.scratch import fresh_store  # noqa: E402
from hospital_data_engineering_pipeline_end_to_end_project_spark.streaming import chunk_index, shardstore  # noqa: E402

_Q184_BATCHES = 3
_Q185_MOD = 19


def q184_cdc_from_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q183's duplication report served FROM the persistent chunk
    store: per-batch chunking shards, compaction, then the aggregate
    stage over stored hashes only — zero document re-reads.
    Row-identical to the recomputing form by construction, so the
    oracle is q183's verbatim."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    root = fresh_store("q184", sf_dir)
    writer = chunk_index.make_chunk_batch_writer(
        root, w=Q183_W, boundary_mod=Q183_MOD
    )
    shardstore.backfill_by_mod(writer, d, "doc_id", _Q184_BATCHES)
    chunk_index.compact_chunk_shards(spark, root)
    return chunk_index.dup_chunks_from_index(spark, root)


QUERIES["q184_cdc_from_index"] = q184_cdc_from_index
ORACLES["q184_cdc_from_index"] = Q183_SQL


def q185_cdc_probe_vs_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which chunks of an arriving batch (doc_id % 19 == 0; q174 uses
    % 13, q139/q141 % 17 — distinct gated row sets) already exist in
    the indexed corpus: the batch is chunked once, its distinct
    hashes broadcast past the store scan, matched rows collapse to
    per-hash corpus counts.  The oracle replays both sides' chunking
    in closed form and joins per-hash counts."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = d.filter(F.col("doc_id") % _Q185_MOD != 0)
    batch = d.filter(F.col("doc_id") % _Q185_MOD == 0)
    root = fresh_store("q185", sf_dir)
    writer = chunk_index.make_chunk_batch_writer(
        root, w=Q183_W, boundary_mod=Q183_MOD
    )
    shardstore.backfill_by_mod(writer, corpus, "doc_id", 2)
    return chunk_index.incremental_dup_chunks_against_index(
        spark, root, batch, w=Q183_W, boundary_mod=Q183_MOD
    )


_Q185_CH_SQL = f"""
WITH t AS (SELECT doc_id, {TOKS_SQL} AS toks FROM documents),
d AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
brk AS (
  SELECT doc_id, toks, n,
         [i FOR i IN range({Q183_W}, n) IF
            CAST('0x' || substr(md5(array_to_string(
                list_slice(toks, i - {Q183_W} + 1, i), '|')), 1, 4) AS BIGINT)
            % {Q183_MOD} = 0] AS breaks
  FROM d
),
seg AS (
  SELECT doc_id, toks, n,
         list_concat([1], [b + 1 FOR b IN breaks]) AS starts,
         list_concat(breaks, [n]) AS ends
  FROM brk
),
ch AS (
  SELECT doc_id,
         unnest([array_to_string(list_slice(toks, starts[i], ends[i]), ' ')
                 FOR i IN range(1, len(starts) + 1)]) AS c
  FROM seg
)
"""

Q185_SQL = (
    _Q185_CH_SQL
    + f""",
b AS (
  SELECT md5(c) AS chunk_hash, count(*)::BIGINT AS n_batch_copies,
         max(len(string_split(c, ' ')))::BIGINT AS n_tokens
  FROM ch WHERE doc_id % {_Q185_MOD} = 0 GROUP BY md5(c)
),
co AS (
  SELECT md5(c) AS chunk_hash, count(*)::BIGINT AS n_corpus_copies,
         count(DISTINCT doc_id)::BIGINT AS n_corpus_docs
  FROM ch WHERE doc_id % {_Q185_MOD} <> 0 GROUP BY md5(c)
)
SELECT chunk_hash, n_batch_copies, n_corpus_copies, n_corpus_docs, n_tokens
FROM b JOIN co USING (chunk_hash)
"""
)

QUERIES["q185_cdc_probe_vs_index"] = q185_cdc_probe_vs_index
ORACLES["q185_cdc_probe_vs_index"] = Q185_SQL
