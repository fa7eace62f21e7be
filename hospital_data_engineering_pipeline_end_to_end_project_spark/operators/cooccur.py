"""Market-basket co-occurrence mining (support / lift) over a
transaction fact table.

The training-data cousin of frequent-itemset mining: which items
(parts, documents, sources) co-occur in the same basket (order,
session, shard) far more often than independence predicts.  Lift is
the association score: ``lift(a,b) = N * c_ab / (c_a * c_b)``.

Scale design:

- **Per-basket item cap** (the q26 hot-shingle trick): pair volume is
  ``sum_b |items_b|^2`` — one degenerate mega-basket makes it
  quadratic.  Each basket keeps its ``cap`` items with the LOWEST
  ``(md5(item), item)`` — a deterministic, engine-replayable sample —
  so pair volume is bounded by ``cap^2 * n_baskets``.  ALL support
  counts (``c_a``, ``c_ab``, ``N``) are defined on the capped sets,
  keeping numerator and denominator consistent (disclosed semantics,
  not an approximation of an uncapped statistic).
- **Self-join on the basket key**: equi-join, shuffle partitioned by
  basket — never a cross join; AQE skew handling applies if basket
  sizes were skewed (they can't exceed ``cap`` anyway).
- **Exactness**: every count is an integer; lift is ONE double
  division of two exactly-representable int64 products
  (``c_ab * N`` and ``c_a * c_b`` both < 2^53 for any realistic
  corpus), correctly rounded identically on both engines, then
  ``round(_, 6)``.

Returns one row per unordered pair ``(item_a < item_b)`` with
``c_ab >= min_support``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hospital_data_engineering_pipeline_end_to_end_project_spark.operators.materialize import materialize


def copurchase_lift(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    cap: int = 8,
    min_support: int = 2,
    round_scale: int = 6,
) -> DataFrame:
    """Lift over distinct (basket, item) pairs, per-basket capped.

    ``df`` may contain duplicate (basket, item) rows (e.g. multiple
    lineitems of the same part in one order) — they count once.

    The capped frame feeds FOUR subtrees (both self-join branches,
    the item counts, the basket total) — exactly the shared-subtree
    shape AQE's broadcast rewrite stops reusing (the round-7
    ReusedExchange finding), so it materializes once under the
    caller's fault-tolerance policy (``operators/materialize.py``).
    """
    items = df.select(
        F.col(basket_col).alias("basket"), F.col(item_col).alias("item")
    ).distinct()
    w_cap = Window.partitionBy("basket").orderBy(
        F.md5(F.col("item").cast("string")).asc(), F.col("item").asc()
    )
    capped = materialize(
        items.withColumn("__rn", F.row_number().over(w_cap))
        .filter(F.col("__rn") <= cap)
        .drop("__rn")
    )
    item_counts = capped.groupBy("item").agg(F.count("*").alias("c_item"))
    # 1-row grand total rides as a broadcast cross join (the q77/q94
    # idiom — lazy, no separate driver action, no rescan)
    totals = capped.agg(F.count_distinct("basket").alias("__n_baskets"))

    a = capped.select(F.col("basket"), F.col("item").alias("item_a"))
    b = capped.select(F.col("basket"), F.col("item").alias("item_b"))
    pairs = (
        a.join(b, "basket")
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count("*").alias("c_ab"))
        .filter(F.col("c_ab") >= min_support)
    )
    # item_counts is |distinct items| rows — a DIMENSION, not safely
    # broadcastable at corpus scale, so these stay planner-chosen
    # equi-joins (AQE broadcasts them when they are in fact small)
    out = (
        pairs.join(
            item_counts.withColumnRenamed("c_item", "c_a"),
            F.col("item_a") == F.col("item"),
        )
        .drop("item")
        .join(
            item_counts.withColumnRenamed("c_item", "c_b"),
            F.col("item_b") == F.col("item"),
        )
        .drop("item")
        .join(F.broadcast(totals), F.lit(True))
    )
    # integer products first (exact), ONE division, then round: the
    # only float op in the operator
    return out.select(
        "item_a",
        "item_b",
        F.col("c_ab").cast("long").alias("c_ab"),
        F.col("c_a").cast("long").alias("c_a"),
        F.col("c_b").cast("long").alias("c_b"),
        F.round(
            (F.col("c_ab") * F.col("__n_baskets")).cast("double")
            / (F.col("c_a") * F.col("c_b")).cast("double"),
            round_scale,
        ).alias("lift"),
    )
