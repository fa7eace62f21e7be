"""Similarity search over embedding columns (``array<float>``).

Two paths:

- ``cosine_topk``: brute-force exact top-k — broadcast the (small)
  query set against the corpus, rank per query.  O(|Q| x |C|) but
  fully distributed and shuffle-light (one window per query group);
  the correctness baseline.
- ``lsh_bucket_topk``: random-hyperplane LSH — each vector gets a
  sign-bit bucket from ``n_planes`` seeded hyperplanes; candidates
  are ranked only within their bucket.  Sub-linear candidate sets at
  corpus scale (the 100 TB path; recall traded for cost, standard
  SimHash-for-cosine construction).

Hyperplanes are generated from a seeded PRNG at plan-build time and
embedded as literal arrays — every run and every engine sees the same
planes.

Scoring uses PRE-NORMALIZED vectors: each vector is unit-scaled once
per row (``_with_unit``), so the per-candidate-pair work is a single
dot product instead of dot + two norms.  Per-pair norms triple the
fold work on the hot path (candidate pairs >> rows, and higher-order
function folds don't participate in whole-stage codegen) — measured
2.5x slower at 3M pairs.  Cross-engine exactness is preserved: the
normalization (one correctly-rounded division per element of
identical operands) and the dot fold are replayed identically by the
DuckDB oracles, so the hash checks still pass.
"""

from __future__ import annotations

import math
import random

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from hospital_data_engineering_pipeline_end_to_end_project_spark.functions import vectors as V
from hospital_data_engineering_pipeline_end_to_end_project_spark.operators.materialize import materialize
from hospital_data_engineering_pipeline_end_to_end_project_spark.operators.parallelism import fan_out


def _with_unit(df: DataFrame, vec_col, out_col: str) -> DataFrame:
    """Append a unit-normalized double copy of ``vec_col``.

    The norm is materialized as a column first so its fold runs once
    per ROW — inlining ``norm(v)`` inside the transform lambda would
    re-evaluate it per ELEMENT on the interpreted HOF path.

    Zero vectors are guarded with ``nullif(norm, 0)``: Spark's
    non-ANSI ``x / 0.0`` yields NULL but DuckDB's IEEE default yields
    inf/NaN — and NaN sorts ABOVE real similarities in a DESC top-k,
    a cross-engine divergence.  With the guard both engines produce
    NULL elements, whose downstream dot products are NULL and sort
    last under DESC on both (Spark desc = nulls last; DuckDB default
    null order = nulls last).  The oracle SQL applies the identical
    guard (``_UNIT`` in ``plans/llm_ops.py``)."""
    v = V.as_double(vec_col) if isinstance(vec_col, str) else vec_col
    return (
        df.withColumn("__norm", F.nullif(V.norm(v), F.lit(0.0)))
        .withColumn(out_col, F.transform(v, lambda x: x / F.col("__norm")))
        .drop("__norm")
    )


def _bounded_collect(
    df: DataFrame,
    max_queries: int,
    op: str,
    advice: str = "pre-filter the queries or raise max_queries explicitly",
) -> list:
    """``df``'s rows, collected up to one past ``max_queries``, for an
    operator that broadcasts its query side; raises ``ValueError`` when
    there are more than ``max_queries``.  One build-time job on a
    single-partition side: a ``limit(n + 1).count()`` probe fires two
    under AQE (its global limit's single-partition exchange runs as a
    job of its own)."""
    rows = df.limit(max_queries + 1).collect()
    if len(rows) > max_queries:
        raise ValueError(
            f"{op} broadcasts the query side, but it has >{max_queries} "
            f"rows; {advice}"
        )
    return rows


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    round_scale: int = 6,
    max_queries: int | None = 100_000,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Ranking uses the *rounded* cosine plus the neighbor id as a total
    tiebreak, making the result set deterministic.

    The query side is unconditionally broadcast (that is the whole
    design: the corpus never shuffles), so it must be small.
    ``max_queries`` enforces that contract with a bounded collect of
    the query ids (:func:`_bounded_collect` stops scanning once the
    limit is hit) and raises an actionable error instead of letting an
    oversized query set OOM the driver/executors mid-broadcast.
    Callers that have already bounded the query side can pass
    ``max_queries=None``.
    """
    if max_queries is not None:
        _bounded_collect(
            queries.select(id_col), max_queries, "cosine_topk",
            "pre-filter the queries, raise max_queries explicitly, or use "
            "the LSH/IVF paths (lsh_bucket_topk / ivf_topk) for "
            "corpus-scale input",
        )
    q = _with_unit(
        queries.select(F.col(id_col).alias("query_id"), V.as_double(vec_col).alias("qv")),
        F.col("qv"),
        "qnv",
    ).drop("qv")
    # the corpus side does all the scoring work (|corpus| x |queries|
    # dot products stream past the broadcast): balance a compact scan
    # across cores first (no-op when the scan is already parallel)
    c = _with_unit(
        fan_out(
            corpus.select(
                F.col(id_col).alias("neighbor_id"),
                V.as_double(vec_col).alias("cv"),
            )
        ),
        F.col("cv"),
        "cnv",
    ).drop("cv")
    # broadcast the query side: it is the small, pre-filtered side by
    # contract (corpus x corpus callers use the LSH/IVF paths), so the
    # corpus never shuffles — each corpus partition streams past the
    # broadcast queries
    scored = (
        c.join(F.broadcast(q), F.lit(True))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(V.dot(F.col("qnv"), F.col("cnv")), round_scale).alias("cos_sim"),
        )
    )
    # per-query rank via the salted TWO-LEVEL top-k (identical by the
    # subset identity under the total (cos_sim, neighbor_id) order):
    # a plain window PARTITION BY query_id colocates the ENTIRE
    # scored corpus per query in one task — the brute-force paths'
    # hot-window trap (the LSH/IVF paths bound candidates by design)
    from hospital_data_engineering_pipeline_end_to_end_project_spark.operators.skew import salted_grouped_topk

    return salted_grouped_topk(
        scored, ["query_id"], "cos_sim", "neighbor_id", k=k,
        descending=True,
    )


def hyperplanes(dim: int, n_planes: int = 8, seed: int = 20260813) -> list[list[float]]:
    rng = random.Random(seed)
    return [
        [rng.uniform(-1.0, 1.0) for _ in range(dim)] for _ in range(n_planes)
    ]


def _dlit(x: float) -> str:
    """A double literal as SQL text: ``repr`` is the shortest string
    that round-trips the exact IEEE value, and the ``D`` suffix keeps
    Spark from parsing bare decimals as DECIMAL."""
    return repr(float(x)) + "D"


def _darray(values: list[float]):
    """A literal ``array<double>`` built as ONE parsed expression.
    The ``F.array(*[F.lit(x) ...])`` form costs one py4j round trip
    PER ELEMENT — measured ~3 s of pure driver time per q31-shaped
    plan build (24 tables x 3 planes x 64 dims of literals); the
    expr-string form is one call and one parse (the same lesson as
    the SimHash/zorder expression strings)."""
    return F.expr("array(" + ", ".join(_dlit(x) for x in values) + ")")


def _dmatrix(rows: list[list[float]]):
    """A literal ``array<array<double>>`` as ONE parsed expression
    (K x dim centroid matrices: K=80 was ~5k py4j calls)."""
    return F.expr(
        "array("
        + ", ".join(
            "array(" + ", ".join(_dlit(x) for x in r) + ")" for r in rows
        )
        + ")"
    )


#: With an OR-construction, a true near-dup pair co-buckets in most of
#: the n_tables tables, so its score would be recomputed ~t times and
#: the bucket-join output would carry 2 x dim doubles per duplicate.
#: Deduping the ids-only pair list first and re-joining the unit
#: vectors costs two extra shuffles — a win once duplication is high
#: enough (measured crossover ~8 tables at sf0.1: q31 [24 tables]
#: 83s -> 12s, q29 [4 tables] would lose 4.2s -> 6.4s).
_DEDUP_BEFORE_SCORE_MIN_TABLES = 8


def _score_unique_pairs(
    pairs: DataFrame, base: DataFrame, id_col: str, left: str, right: str
) -> DataFrame:
    """Attach unit vectors to an ids-only unique pair list and score
    each pair once: (left, right) -> (left, right, cos_sim)."""
    return (
        pairs.join(
            base.select(F.col(id_col).alias(left), F.col("nv").alias("__ln")),
            left,
        )
        .join(
            base.select(F.col(id_col).alias(right), F.col("nv").alias("__rn")),
            right,
        )
        .select(
            left,
            right,
            F.round(V.dot(F.col("__ln"), F.col("__rn")), 6).alias("cos_sim"),
        )
    )


def _unit_base(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(id, nv) — one row per vector with its unit-normalized copy;
    the shared input of the bucketing explode and the post-dedup
    scoring re-join.  The per-table sign-bit bucketing downstream is
    n_tables x n_planes dot products PER ROW, so the compact scan is
    balanced across cores first (no-op on an already-parallel scan)."""
    return _with_unit(
        fan_out(df.select(F.col(id_col), V.as_double(vec_col).alias("v"))),
        F.col("v"),
        "nv",
    ).drop("v")


def _multi_table_buckets(
    base: DataFrame,
    id_col: str,
    dim: int,
    n_planes: int,
    n_tables: int,
) -> DataFrame:
    """(id, nv, table_id, bucket) — one row per (vector, table):
    sign-bit bucket from an independent seeded plane set per table,
    over a ``_unit_base`` frame.  Buckets are computed from the
    normalized vector (positive scaling preserves the mathematical
    sign, and the oracle replays the same normalized sign test
    bit-for-bit), so downstream scoring is a bare dot product per
    candidate pair."""
    buckets = []
    for t in range(n_tables):
        planes = hyperplanes(dim, n_planes, seed=20260813 + 7919 * t)
        b = F.lit(0)
        for j, plane in enumerate(planes):
            b = b + F.when(
                V.dot(F.col("nv"), _darray(plane)) > 0, F.lit(1 << j)
            ).otherwise(F.lit(0))
        buckets.append(b.alias(f"b{t}"))
    return base.select(F.col(id_col), F.col("nv"), *buckets).select(
        F.col(id_col),
        F.col("nv"),
        F.posexplode(F.array(*[F.col(f"b{t}") for t in range(n_tables)])).alias(
            "table_id", "bucket"
        ),
    )


def lsh_bucket_topk(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    k: int = 5,
    n_planes: int = 4,
    n_tables: int = 4,
    scorer: str | None = None,
) -> DataFrame:
    """Approximate all-pairs top-k via multi-table hyperplane LSH.

    ``n_tables`` independent plane sets; a pair is a candidate if it
    co-buckets in ANY table (the standard OR-construction — each table
    has ``2^n_planes`` buckets, more tables buy recall, more planes
    buy selectivity).  Scoring joins on (table, bucket), dedupes the
    candidate pair set, then ranks — comparisons and shuffle volume
    scale with bucket occupancy, not corpus^2.

    The index is materialized (``operators/materialize.py``) only on
    the exact path — blocked scoring consumes the index exactly once,
    so nothing is materialized.

    ``scorer='blocked'`` scores each (table, bucket) cell as one
    dense matmul via ``applyInPandas`` (:func:`_blocked_bucket_topk`)
    instead of the candidate self-join.  The DEFAULT (``None``)
    routes to blocked at :data:`_DEDUP_BEFORE_SCORE_MIN_TABLES`
    tables — the same high-duplication regime where the exact path
    needs its dedup-before-score rewrite; oracle-replayed plans pin
    ``scorer='exact'`` (BLAS rounding is not bit-replayable).
    """
    if scorer is None:
        scorer = (
            "blocked"
            if n_tables >= _DEDUP_BEFORE_SCORE_MIN_TABLES
            else "exact"
        )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    if scorer == "blocked":
        base = _unit_base(df, id_col, vec_col)
        tabled = _multi_table_buckets(base, id_col, dim, n_planes, n_tables)
        candidates = _blocked_bucket_topk(tabled, id_col, k)
        return candidates.withColumn("rank", F.row_number().over(w)).filter(
            F.col("rank") <= k
        )
    if scorer != "exact":
        raise ValueError(
            f"unknown scorer {scorer!r}: expected 'exact' or 'blocked'"
        )
    # same index-materialization rule as embedding_near_dup_pairs:
    # materialize base + the table index (ids-only when scoring
    # re-joins base) so neither pipeline re-runs per self-join branch
    base = materialize(_unit_base(df, id_col, vec_col))
    tabled = _multi_table_buckets(base, id_col, dim, n_planes, n_tables)
    if n_tables >= _DEDUP_BEFORE_SCORE_MIN_TABLES:
        tabled = tabled.select(
            F.col(id_col), F.col("table_id"), F.col("bucket")
        )
    tabled = materialize(tabled)
    a, c = tabled.alias("a"), tabled.alias("c")
    join_cond = (
        (F.col("a.table_id") == F.col("c.table_id"))
        & (F.col("a.bucket") == F.col("c.bucket"))
        & (F.col(f"a.{id_col}") != F.col(f"c.{id_col}"))
    )
    if n_tables >= _DEDUP_BEFORE_SCORE_MIN_TABLES:
        pairs = (
            a.join(c, join_cond)
            .select(
                F.col(f"a.{id_col}").alias("query_id"),
                F.col(f"c.{id_col}").alias("neighbor_id"),
            )
            .dropDuplicates(["query_id", "neighbor_id"])
        )
        candidates = _score_unique_pairs(
            pairs, base, id_col, "query_id", "neighbor_id"
        )
    else:
        candidates = (
            a.join(c, join_cond)
            .select(
                F.col(f"a.{id_col}").alias("query_id"),
                F.col(f"c.{id_col}").alias("neighbor_id"),
                F.round(V.dot(F.col("a.nv"), F.col("c.nv")), 6).alias("cos_sim"),
            )
            .dropDuplicates(["query_id", "neighbor_id"])
        )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return candidates.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


#: Training-sample size per centroid: Lloyd runs on at most
#: ``64 * k`` rows (bounded-sample training is standard IVF practice —
#: faiss caps points-per-centroid when training its coarse quantizer,
#: and a coarse quantizer only needs enough points per cell for stable
#: means, not the full corpus).  Without a cap, every Lloyd iteration
#: assigns all n rows to all K centroids; at the all-pairs operating
#: curve K ∝ n (scale_check.py) that training term is O(n^2 * dim)
#: per iteration and dominated the measured 13.1x growth at 10x data
#: (round 6).  With the cap, training cost tracks the centroid count
#: (64 * K^2 * dim per iteration) and measured 10x growth is ~10x;
#: 64/centroid keeps training under ~10% of the probe+score cost at
#: the documented curve while staying comfortably above the ~39
#: points/centroid floor faiss warns at.
IVF_TRAIN_PER_CLUSTER = 64

#: Largest training sample that trains driver-side with the
#: vectorized numpy Lloyd (:func:`_numpy_lloyd`).  262144 rows x 64
#: dims x 8 B = ~128 MB on the driver — comfortably bounded — and
#: with ``IVF_TRAIN_PER_CLUSTER`` it covers K up to 4096 centroids;
#: bigger quantizers fall through to the distributed (optionally
#: hierarchical) training path.
NUMPY_TRAIN_MAX_ROWS = 262_144


def build_ivf_centroids(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 8,
    iterations: int = 2,
    train_per_cluster: int = IVF_TRAIN_PER_CLUSTER,
    hierarchical: bool = False,
    _force_distributed: bool = False,
) -> list[list[float]]:
    """Deterministic IVF coarse quantizer: Lloyd's k-means trained on
    a bounded deterministic sample.

    The sample is the ``train_per_cluster * k`` rows with the LOWEST
    ``md5(id)`` — a content-derived uniform draw that is independent
    of partitioning and replayable by any engine (same idiom as the
    md5-bucket splits in ``operators/dataprep.py``).  Selection is one
    TakeOrdered pass (per-partition top-cap heaps, never a full sort);
    the sample is materialized so each Lloyd iteration re-scans
    cap rows, not the corpus.  Seeds are the first K sample rows in
    the same (md5, id) order.  The full corpus is only ever assigned
    ONCE, by the caller, after training (``ivf_topk``).

    Below a flop budget the collected sample trains DRIVER-SIDE
    instead (:func:`_local_lloyd` — bit-identical arithmetic, tested
    so), skipping ~2 Spark jobs of fixed overhead per iteration.
    Mid-K trainings (sample still under
    :data:`NUMPY_TRAIN_MAX_ROWS`) train driver-side with the
    vectorized :func:`_numpy_lloyd` — NOTE: this branch intentionally
    ignores ``hierarchical`` (an exact flat numpy argmin over the
    sample is both cheaper and better-quality than routed
    assignment at these sizes, so the flag would only degrade the
    quantizer); ``hierarchical=True`` takes effect where it was
    designed to — the DISTRIBUTED training path for samples too big
    to collect (K beyond ~4096 at the default cap), where each Lloyd
    iteration's assignment routes through super-clusters.

    Each iteration is one distributed assign (broadcast centroids,
    argmin over K) + one distributed update (posexplode + mean per
    (cluster, dim)).  Only the K x dim centroid matrix ever reaches
    the driver — bounded regardless of corpus size.

    Cross-engine exactness: the updated coordinate is the mean SNAPPED
    TO A DYADIC GRID — ``floor(avg * 1024 + 0.5) / 1024``.  A
    distributed mean is order-dependent in its last ulps (partial sums
    merge in partition order), so two engines computing "the same"
    mean can disagree by ~1e-12; snapping to multiples of 2^-10
    absorbs that wobble — except in the measure-zero case where
    ``avg * 1024 + 0.5`` lands within an ulp of an integer, where a
    last-ulp difference can still flip the floor (accepted residual
    risk; a guaranteed-deterministic mean would need a fixed summation
    order).  Snapping stays bit-exact in binary FP (power-of-two
    scaling and the final division are exact — unlike decimal
    ``round``, whose double result is engine-specific).  The ~5e-4
    quantization is irrelevant for a coarse quantizer, and it makes
    the whole IVF pipeline (q48) replayable by the DuckDB oracle,
    which re-derives the identical sample with
    ``ORDER BY md5(id), id LIMIT cap``.
    """
    cap = train_per_cluster * k
    order = [F.md5(F.col(id_col).cast("string")), F.col(id_col)]
    # small trainings run DRIVER-SIDE with bit-identical arithmetic
    # (see _local_lloyd): the sample is bounded by design, and the
    # distributed path costs ~2 Spark jobs per Lloyd iteration in
    # pure fixed overhead.  The flop budget keeps corpus-scale K on
    # the distributed (or hierarchical) path.
    if (
        not hierarchical
        and not _force_distributed
        and cap * k * iterations <= 65_536
    ):
        rows = [
            [float(x) for x in r["__tv"]]
            for r in df.select(F.col(id_col), V.as_double(vec_col).alias("__tv"))
            .orderBy(*order)
            .limit(cap)
            .collect()
        ]
        return _local_lloyd(rows, min(k, len(rows)), iterations)
    # MID-K trainings (above the exact-replay flop budget, sample
    # still driver-collectable) train driver-side with VECTORIZED
    # numpy Lloyd: at K=80 the distributed path spends ~9 s of fixed
    # Spark-job overhead per training on a 5k-row/2.6 MB sample that
    # numpy finishes in milliseconds (measured round 8, BASELINE.md).
    # Not fold-bit-identical to the distributed path (numpy pairwise
    # summation), but fully deterministic (md5-ordered sample, first-
    # min ties, dyadic-snapped means) — and no mid-K training is
    # oracle-replayed: the gate fixtures (K<=8) stay on the exact
    # path above, truly-huge samples fall through to distributed.
    if not _force_distributed and cap <= NUMPY_TRAIN_MAX_ROWS:
        rows = [
            [float(x) for x in r["__tv"]]
            for r in df.select(F.col(id_col), V.as_double(vec_col).alias("__tv"))
            .orderBy(*order)
            .limit(cap)
            .collect()
        ]
        return _numpy_lloyd(rows, min(k, len(rows)), iterations)
    sample = materialize(
        df.select(F.col(id_col), V.as_double(vec_col).alias("__tv"))
        .orderBy(*order)
        .limit(cap)
    )
    centroids = [
        [float(x) for x in r["__tv"]]
        for r in sample.orderBy(*order).limit(k).collect()
    ]
    for _ in range(iterations):
        # ``hierarchical`` swaps the per-iteration sample assignment
        # from the flat cap x K pass to the two-level routed form —
        # the large-K training path (per-iteration cost cap * 2*sqrt(K)
        # instead of cap * K; the hierarchy is rebuilt from the moving
        # centroids each iteration, driver-side over K points).
        # Approximate at super boundaries, so the oracle-replayed
        # queries keep the default flat training.
        assigned = (
            assign_ivf_cluster_hierarchical(sample, centroids, "__tv")
            if hierarchical
            else assign_ivf_cluster(sample, centroids, "__tv")
        )
        rows = (
            assigned.select("cluster", F.posexplode("__tv").alias("dim", "x"))
            .groupBy("cluster", "dim")
            .agg((F.floor(F.avg("x") * 1024.0 + 0.5) / 1024.0).alias("m"))
            .collect()
        )
        new = {c: list(cent) for c, cent in enumerate(centroids)}
        for r in rows:
            new[r["cluster"]][r["dim"]] = r["m"]
        centroids = [new[c] for c in sorted(new)]
    return centroids


def _centroid_dists(v, centroids: list[list[float]]):
    """array<double> of squared L2 distances from ``v`` to each
    centroid: the K x dim centroid matrix enters the plan ONCE as a
    2-D array literal (one parsed expression — see :func:`_dmatrix`),
    and each distance is the same sequential zip_with/aggregate fold
    the oracles replay."""
    cents = _dmatrix(centroids)
    # the vector is BOUND as a lambda variable: referencing the
    # as_double() cast expression from inside the per-centroid lambda
    # re-casts the vector once per centroid (K x dim instead of dim —
    # interpreted HOF bodies re-evaluate their subtrees, r14)
    return F.element_at(
        F.transform(
            F.array(v),
            lambda vv: F.transform(
                cents,
                lambda p: F.aggregate(
                    F.zip_with(vv, p, lambda a, b: (a - b) * (a - b)),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
            ),
        ),
        1,
    )


def assign_ivf_cluster(
    df: DataFrame, centroids: list[list[float]], vec_col: str = "embedding"
) -> DataFrame:
    """Add a ``cluster`` column: argmin squared-distance to the
    (broadcast-literal) centroids.  Ties break to the lower cluster id
    (``array_position`` returns the FIRST index of the min).

    Scale note: an earlier version chained
    ``when(d < best_d, ...).otherwise(best_d)`` per centroid — that
    nests each partial result twice per step, an expression tree
    EXPONENTIAL in K (driver OOM around K ~ 80, found by
    ``scale_check.py``).  The array form is linear in K x dim and
    survives production cluster counts (K ~ sqrt(n))."""
    v = V.as_double(vec_col)
    d = _centroid_dists(v, centroids)
    # bind the K-entry distance array once: argmin references it twice
    # (array_position + array_min), and each reference re-runs all K
    # distance folds (r14)
    return df.withColumn(
        "cluster",
        F.element_at(
            F.transform(
                F.array(d),
                lambda dd: (
                    F.array_position(dd, F.array_min(dd)) - 1
                ).cast("int"),
            ),
            1,
        ),
    )


#: Auto-routing threshold for the two-level (hierarchical) assignment
#: path: with ``hierarchical=None`` (the default), ``ivf_topk`` and
#: ``semantic_dedup`` switch to :func:`assign_ivf_cluster_hierarchical`
#: once ``n_clusters`` reaches this many centroids.  The flat pass
#: costs K distance folds per row and the routed pass ~2*sqrt(K), but
#: the routed pass adds a broadcast join and per-row child-array
#: handling — MEASURED crossover (round 8, 20k rows, post
#: numpy-training/fan_out): at K=80 flat assignment still wins
#: (semantic_dedup 1.83 s flat vs 2.33 s routed; ivf index build
#: likewise), so the threshold sits where the ~K/(2*sqrt(K)) flop
#: ratio (8x at K=256) clearly buries the join overhead.  On the
#: documented operating curve (K ∝ n) the flat per-row cost keeps
#: growing while the routed cost grows as sqrt — above this K the
#: flat default was the one remaining quadratic-total-work term.
#: Explicit ``True``/``False`` always wins over the auto rule, and
#: every oracle-gated fixture (q48/q88, K=8) stays far below it on
#: the bit-exact flat path.
HIER_AUTO_MIN_K = 256

#: Auto-routing threshold for the BLOCKED candidate scorer in
#: ``ivf_topk`` — deliberately separate from the assignment
#: threshold: blocked scoring replaces the per-pair join machinery,
#: whose cost dominates as soon as candidate volume is material, and
#: it wins at K=80 regardless of how the assignment routes (flat +
#: blocked measured fastest: 2.67 s vs 3.9 s hier + blocked vs
#: 5-16 s exact at 20k x K=80).  Small-K (oracle-gated) stays on the
#: bit-replayable exact fold.
SCORER_AUTO_MIN_K = 32


def _resolve_hierarchical(n_clusters: int, hierarchical: bool | None) -> bool:
    if hierarchical is None:
        return n_clusters >= HIER_AUTO_MIN_K
    return hierarchical


def ivf_topk(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_clusters: int = 8,
    nprobe: int = 2,
    train_per_cluster: int = IVF_TRAIN_PER_CLUSTER,
    hierarchical: bool | None = None,
    scorer: str | None = None,
) -> DataFrame:
    """IVF approximate all-pairs top-k: corpus is partitioned by a
    coarse quantizer; each query ranks candidates only in the
    ``nprobe`` clusters nearest to its own vector.  Candidate volume
    scales with corpus/n_clusters x nprobe — the inverted-file
    trade (recall vs probed fraction), complementary to LSH.

    ``hierarchical=True`` is the LARGE-K path (K grows with the
    corpus at the documented operating curve, making the flat n x K
    index-build pass the dominant superlinear term): training and the
    per-row probe both route through ~sqrt(K) super-clusters, and the
    ``nprobe`` list is picked from the routed super's children only —
    the two-level inverted-file (IMI-style) trade: one more recall
    approximation at super boundaries in exchange for
    ~2*sqrt(K)-per-row cost.  A super with fewer than ``nprobe``
    children yields a shorter probe list.  The DEFAULT
    (``hierarchical=None``) auto-selects this path once ``n_clusters``
    reaches :data:`HIER_AUTO_MIN_K`; the oracle-gated q48 (K=8) stays
    on the exact flat path, and an explicit ``False`` forces flat at
    any K.

    ``scorer='blocked'`` swaps the candidate-pair join + per-pair
    fold for a per-cluster dense BLAS matmul via ``applyInPandas``
    (:func:`_blocked_cluster_topk`) — the throughput path when
    candidate volume dominates.  The DEFAULT (``None``) routes to
    blocked at :data:`SCORER_AUTO_MIN_K` clusters (a LOWER bar than
    the assignment's :data:`HIER_AUTO_MIN_K` — blocked scoring wins
    measured at K=80 under either assignment route), while small-K
    stays on ``'exact'`` — the per-pair fold whose score sequence the
    SQL oracle replays bit-for-bit (q48).  Blocked reproduces the
    exact path's row set including NULL-scored candidates (scores
    agree to the rounded 6 places modulo last-ulp summation order);
    explicit strings always win."""
    hierarchical = _resolve_hierarchical(n_clusters, hierarchical)
    if scorer is None:
        scorer = "blocked" if n_clusters >= SCORER_AUTO_MIN_K else "exact"
    centroids = build_ivf_centroids(
        df,
        vec_col,
        id_col,
        n_clusters,
        train_per_cluster=train_per_cluster,
        hierarchical=hierarchical,
    )
    # IVF INDEX BUILD, materialized once: per row, the nprobe nearest
    # centroids by squared distance over the RAW vector (what the
    # centroids were trained on) — probe 1 IS the assignment, so one
    # n x K distance pass yields both the inverted-file cell and the
    # probe list (the pre-r7 plan ran the pass twice: an argmin for
    # the assign and a sort for the probes).  Ties go to the lower
    # cluster id (struct sort on (d, c)), matching
    # assign_ivf_cluster's array_position semantics and the oracle's
    # ORDER BY dist, c.  ``materialize`` is the index materialization
    # every IVF system performs — build once, probe many; without it
    # the corpus and query branches of the self-join would each
    # recompute the distance pass.
    base = _with_unit(
        # the index build is a per-row distance pass — balance a
        # compact scan across cores first (no-op when the scan is
        # already parallel)
        fan_out(df.select(F.col(id_col), V.as_double(vec_col).alias("v"))),
        F.col("v"),
        "nv",
    )
    if hierarchical:
        meta, super_cents = _hier_routing(df.sparkSession, centroids, None)
        sup_d = _centroid_dists(F.col("v"), super_cents)
        # bind the routing-distance array once (argmin = two
        # references, each re-running the sqrt(K) folds — r14)
        sup = F.element_at(
            F.transform(
                F.array(sup_d),
                lambda sd: (
                    F.array_position(sd, F.array_min(sd)) - 1
                ).cast("int"),
            ),
            1,
        )
        routed = base.withColumn("__sup", sup).join(F.broadcast(meta), "__sup")
        structs = F.zip_with(
            F.col("__kids"),
            F.col("__kid_ids"),
            lambda p, c: F.struct(
                F.aggregate(
                    F.zip_with(
                        F.col("v"), p, lambda a, b: (a - b) * (a - b)
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ).alias("d"),
                c.alias("c"),
            ),
        )
        probes = F.transform(
            F.slice(F.array_sort(structs), 1, nprobe),
            lambda s: s["c"].cast("int"),
        )
        index = materialize(
            routed.select(F.col(id_col), probes.alias("__probes"), F.col("nv"))
        )
    else:
        dists = _centroid_dists(F.col("v"), centroids)
        structs = F.zip_with(
            dists,
            F.sequence(F.lit(0), F.lit(len(centroids) - 1)),
            lambda d, c: F.struct(d.alias("d"), c.alias("c")),
        )
        probes = F.transform(
            F.slice(F.array_sort(structs), 1, nprobe),
            lambda s: s["c"].cast("int"),
        )
        index = materialize(
            base.select(F.col(id_col), probes.alias("__probes"), F.col("nv"))
        )
    if scorer == "blocked":
        scored = _blocked_cluster_topk(index, id_col, k)
    elif scorer == "exact":
        queries = index.select(
            F.col(id_col), F.explode("__probes").alias("probe_cluster"), F.col("nv")
        )
        corpus = index.select(
            F.col(id_col),
            F.col("__probes")[0].alias("cluster"),
            F.col("nv"),
        )

        cand = queries.alias("q").join(
            corpus.alias("c"),
            (F.col("q.probe_cluster") == F.col("c.cluster"))
            & (F.col(f"q.{id_col}") != F.col(f"c.{id_col}")),
        )
        # no dedup needed: each neighbor lives in exactly one cluster
        # and a query's probe clusters are distinct, so a (query,
        # neighbor) pair can arise from at most one probe — the pre-r7
        # dropDuplicates was a full extra shuffle of the candidate set
        scored = cand.select(
            F.col(f"q.{id_col}").alias("query_id"),
            F.col(f"c.{id_col}").alias("neighbor_id"),
            F.round(V.dot(F.col("q.nv"), F.col("c.nv")), 6).alias("cos_sim"),
        )
    else:
        raise ValueError(
            f"unknown scorer {scorer!r}: expected 'exact' or 'blocked'"
        )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def _blocked_cluster_topk(index: DataFrame, id_col: str, k: int) -> DataFrame:
    """Per-cluster BLOCKED matmul scoring for :func:`ivf_topk` —
    the throughput path for candidate-heavy configurations.

    The exact path materializes one join row per (query, candidate)
    pair and folds a dim-length dot product per row with interpreted
    higher-order functions (zip_with/aggregate never enter codegen) —
    measured ~7 us/pair, and the per-pair cost is NOT the element
    type: int8 codes and an Arrow per-pair numpy scorer both measured
    within 5% of the double fold at 2M pairs (the pair-row plumbing
    dominates, see BASELINE.md).  So the win has to come from never
    building pair rows at all: group by inverted-file cell with ONE
    ``applyInPandas``, ship each cell's members and probing queries
    once (bytes ∝ n * (1 + nprobe), never ∝ candidates), and score
    the whole cell as a dense Q x C BLAS matmul (~100x the fold's
    flop rate).  Only each query's per-cell top-k leaves Python —
    n * nprobe * k rows — so the global-ranking window's input shrinks
    by cluster_size/k too.  Global top-k over per-cell top-k is exact
    for the scored candidate set (a query's global top-k candidate is
    within top-k of its own cell).

    Determinism: the score matrix is independent of row order, columns
    are pre-sorted by neighbor id, and the per-row cut uses a STABLE
    argsort on the negated rounded scores — ties resolve to the lower
    neighbor id no matter how Spark ordered the group's rows.  Scores
    round to 6 places like the exact path, but BLAS sums in a
    different order than the sequential fold, so last-ulp wobble can
    flip a boundary pair: this scorer is for throughput (recall-
    tested), not oracle replay — q48 keeps ``scorer='exact'``.

    Skew note: one task per inverted-file cell; on the documented
    curve (K ∝ n) cell sizes are bounded, and a hot cell degrades to
    one big (but dense and BLAS-fast) matmul rather than a shuffle
    explosion.
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql.types import DoubleType, StructField, StructType

    idt = index.schema[id_col].dataType
    out_schema = StructType(
        [
            StructField("query_id", idt),
            StructField("neighbor_id", idt),
            StructField("cos_sim", DoubleType()),
        ]
    )

    def score_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        corp = pdf[pdf["__role"] == 0]
        qry = pdf[pdf["__role"] == 1]
        if corp.empty or qry.empty:
            return pd.DataFrame(
                {"query_id": [], "neighbor_id": [], "cos_sim": []}
            )
        C = np.stack(corp["nv"].to_numpy())
        Q = np.stack(qry["nv"].to_numpy())
        nb = corp[id_col].to_numpy()
        qid = qry[id_col].to_numpy()
        order = np.argsort(nb, kind="stable")
        nb, C = nb[order], C[order]
        return _cell_topk_frame(np.round(Q @ C.T, 6), qid, nb, k)

    tagged = index.select(
        F.col(id_col),
        F.col("__probes")[0].alias("cluster"),
        F.col("nv"),
        F.lit(0).alias("__role"),
    ).unionByName(
        index.select(
            F.col(id_col),
            F.explode("__probes").alias("cluster"),
            F.col("nv"),
            F.lit(1).alias("__role"),
        )
    )
    return tagged.groupBy("cluster").applyInPandas(score_cell, out_schema)


def _cell_topk_frame(S, qid, nb, k: int):
    """Shared per-cell top-k cut for the blocked scorers.

    ``S`` is the rounded score matrix (rows = queries, columns =
    cell members PRE-SORTED by id); NaN entries are candidates whose
    vector failed to normalize (zero norm).  The exact path scores
    those pairs NULL and ``desc`` ranks them LAST but still emits
    them when rank <= k — this cut reproduces that: NaN candidates
    sort below every finite score (but above self-pairs, which are
    EXCLUDED, not just ranked last), the stable argsort breaks ties
    toward the lower neighbor id, and NaN scores leave as true NULLs
    (nullable Float64 — a float NaN would arrive in Spark as NaN,
    which Spark's desc ordering ranks ABOVE every number).
    """
    import numpy as np
    import pandas as pd

    nq, nc = S.shape
    key = np.where(np.isnan(S), -1.0e308, S)
    key[qid[:, None] == nb[None, :]] = -np.inf  # self-pairs: excluded
    m = min(k + 1, nc)  # one spare pick in case self lands in the cut
    top = np.argsort(-key, axis=1, kind="stable")[:, :m]
    rows = np.repeat(np.arange(nq), m)
    cols = top.ravel()
    # self-pairs are the only -inf keys (NaN candidates got the
    # finite -1e308 tier), so isfinite == "not a self-pair"
    kept = np.isfinite(key[rows, cols]).reshape(nq, m)
    sel = (kept & (kept.cumsum(axis=1) <= k)).ravel()
    rows, cols = rows[sel], cols[sel]
    scores = S[rows, cols]
    return pd.DataFrame(
        {
            "query_id": qid[rows],
            "neighbor_id": nb[cols],
            "cos_sim": pd.array(
                [None if np.isnan(x) else float(x) for x in scores],
                dtype="Float64",
            ),
        }
    )


def _pair_schema(index: DataFrame, id_col: str, left: str, right: str):
    from pyspark.sql.types import DoubleType, StructField, StructType

    idt = index.schema[id_col].dataType
    return StructType(
        [
            StructField(left, idt),
            StructField(right, idt),
            StructField("cos_sim", DoubleType()),
        ]
    )


#: Safety margin for the guarded BLAS prefilter on the exact
#: threshold path: with UNIT vectors every |x_i·y_i| <= 1, so the
#: BLAS-vs-sequential-fold discrepancy is rigorously bounded by
#: ~dim * machine_eps ≈ 1.4e-14 at dim 64 — nine orders of magnitude
#: under this margin.
_PREFILTER_MARGIN = 1e-7

#: The exact path scores pairs as ``round(fold, 6) >= threshold``, so
#: a pair whose RAW fold score sits anywhere in
#: [threshold - 5e-7, threshold) still rounds UP and qualifies.  The
#: prefilter compares the UNROUNDED BLAS score, so its cut must sit
#: at least half-an-ulp-of-round-6 BELOW the threshold or a
#: rounding-boundary pair would be dropped before re-scoring (the
#: r08 bug: cutting at threshold - 1e-7 silently lost raw scores in
#: [threshold - 5e-7, threshold - 1e-7)).  Total cut:
#: threshold - (_ROUND6_HALF_ULP + _PREFILTER_MARGIN).  A pair below
#: that CANNOT round up to the threshold under the exact fold; every
#: survivor is re-scored by the fold itself, so extra candidates are
#: harmless and the output is bit-identical to the unfiltered path.
_ROUND6_HALF_ULP = 5e-7


def _blocked_candidate_pairs(
    tabled: DataFrame, id_col: str, min_score: float
) -> DataFrame:
    """Ids-only candidate pairs (a < b) whose per-cell BLAS score is
    at least ``min_score`` — the guarded prefilter feeding the exact
    path's fold re-scoring (see :data:`_PREFILTER_MARGIN`).  Same
    cell-wise matmul as :func:`_blocked_bucket_pairs`, but nothing
    float-derived leaves Python: only the candidate id set, which is
    then scored from scratch by the bit-exact fold."""
    import numpy as np
    import pandas as pd

    from pyspark.sql.types import StructField, StructType

    idt = tabled.schema[id_col].dataType
    schema = StructType(
        [StructField("id_a", idt), StructField("id_b", idt)]
    )

    def prefilter_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame({"id_a": [], "id_b": []})
        ids = pdf[id_col].to_numpy()
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        M = np.stack(pdf["nv"].to_numpy()[order])
        S = M @ M.T
        iu, ju = np.triu_indices(len(ids), k=1)
        keep = S[iu, ju] >= min_score  # NaN (zero-norm) compares False
        return pd.DataFrame({"id_a": ids[iu[keep]], "id_b": ids[ju[keep]]})

    return (
        tabled.groupBy("table_id", "bucket")
        .applyInPandas(prefilter_cell, schema)
        .dropDuplicates(["id_a", "id_b"])
    )


def _blocked_bucket_pairs(
    tabled: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """Per-bucket BLOCKED matmul scoring for
    :func:`embedding_near_dup_pairs` — the throughput path for
    high-table-count constructions.

    The exact path materializes one join row per co-bucket pair
    (Σ bucket² x n_tables rows — measured ~12M at sf0.1/q31 for 919
    final survivors) and either scores them all or pays two extra
    shuffles to dedup first.  Blocked scoring groups the LSH index by
    (table, bucket), ships each cell's vectors ONCE, scores the cell
    as a dense upper-triangular matmul, and only pairs at or above the
    threshold leave Python (≤ survivors x n_tables rows) — the pair
    fan-out never exists as Spark rows.  Cross-table duplicate
    survivors carry identical scores (same vectors, same matmul), so
    the final dropDuplicates is semantics-free.

    Scores are BLAS sums rounded to 6 places — last-ulp summation
    order can flip a pair sitting exactly on a rounding/threshold
    boundary vs the sequential fold, so oracle-replayed plans pin
    ``scorer='exact'``.  Memory: one b x b score matrix per cell —
    bounded by the same plane-tuning that bounds the exact path's
    join volume (a pathological hot bucket degrades to one big dense
    matmul instead of a shuffle explosion).
    """
    import numpy as np
    import pandas as pd

    schema = _pair_schema(tabled, id_col, "id_a", "id_b")

    def score_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "cos_sim": []})
        ids = pdf[id_col].to_numpy()
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        M = np.stack(pdf["nv"].to_numpy()[order])
        S = np.round(M @ M.T, 6)
        iu, ju = np.triu_indices(len(ids), k=1)
        sc = S[iu, ju]
        keep = sc >= threshold  # NaN (zero-vector) compares False
        return pd.DataFrame(
            {"id_a": ids[iu[keep]], "id_b": ids[ju[keep]], "cos_sim": sc[keep]}
        )

    return (
        tabled.groupBy("table_id", "bucket")
        .applyInPandas(score_cell, schema)
        .dropDuplicates(["id_a", "id_b"])
    )


def _blocked_bucket_topk(tabled: DataFrame, id_col: str, k: int) -> DataFrame:
    """Per-bucket BLOCKED matmul scoring for :func:`lsh_bucket_topk`:
    same cell-wise matmul as :func:`_blocked_bucket_pairs`, but each
    member keeps its per-cell top-k (global top-k over per-cell top-k
    is exact for the candidate set — a member's global-best co-bucket
    neighbor is within top-k of their shared cell).  Cross-table
    duplicates carry identical scores; callers dedup then rank."""
    import numpy as np
    import pandas as pd

    schema = _pair_schema(tabled, id_col, "query_id", "neighbor_id")

    def score_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame(
                {"query_id": [], "neighbor_id": [], "cos_sim": []}
            )
        ids = pdf[id_col].to_numpy()
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        M = np.stack(pdf["nv"].to_numpy()[order])
        return _cell_topk_frame(np.round(M @ M.T, 6), ids, ids, k)

    return (
        tabled.groupBy("table_id", "bucket")
        .applyInPandas(score_cell, schema)
        .dropDuplicates(["query_id", "neighbor_id"])
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    dim: int = 64,
    n_planes: int = 8,
    n_tables: int = 16,
    scorer: str | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (a < b) above a threshold.

    Candidates come from multi-table hyperplane LSH (OR-construction:
    a pair qualifies if it co-buckets in ANY of ``n_tables`` tables of
    ``2^n_planes`` buckets), then the exact cosine verifies the
    threshold — precision is exact, only recall is probabilistic:

        recall(theta) = 1 - (1 - (1 - theta/pi)^n_planes)^n_tables

    The defaults target real near-dup thresholds: at cos >= 0.95
    (theta <= 18.2 deg, per-plane split prob ~0.101) recall is
    1 - (1 - 0.899^8)^16 ~ 0.9999.  For looser thresholds, trade
    selectivity for recall (fewer planes, more tables) — q31 runs
    threshold 0.4 with (3, 24) for ~0.999 recall.  Join volume scales
    with bucket occupancy (~n^2 * n_tables / 2^n_planes for uniform
    data, sub-quadratic for clustered corpora), never a cartesian.
    The seeded literal hyperplanes make the construction deterministic
    and cross-engine reproducible — the DuckDB oracle replays the
    identical bucketing, so even the approximate operator hash-checks.
    ``brute_force_near_dup_pairs`` is the exact oracle for recall
    tests.

    ``scorer='blocked'`` replaces the candidate self-join with a
    per-(table, bucket) dense matmul via ``applyInPandas``
    (:func:`_blocked_bucket_pairs`): the Σ bucket² x n_tables pair
    fan-out (measured ~12M Spark rows for 919 final survivors at
    sf0.1 with (3, 24)) never materializes as rows — only
    threshold-passing pairs leave Python.  The DEFAULT (``None``)
    routes to blocked at :data:`_DEDUP_BEFORE_SCORE_MIN_TABLES`
    tables; oracle-replayed plans (q31) pin ``scorer='exact'``
    because BLAS score rounding is not bit-replayable by the SQL
    oracle.
    """
    if scorer is None:
        scorer = (
            "blocked"
            if n_tables >= _DEDUP_BEFORE_SCORE_MIN_TABLES
            else "exact"
        )
    if scorer == "blocked":
        base = _unit_base(df, id_col, vec_col)
        tabled = _multi_table_buckets(base, id_col, dim, n_planes, n_tables)
        return _blocked_bucket_pairs(tabled, id_col, threshold)
    if scorer != "exact":
        raise ValueError(
            f"unknown scorer {scorer!r}: expected 'exact' or 'blocked'"
        )
    # materialize the normalized base once — it feeds the bucketing
    # AND the post-dedup scoring re-join
    base = materialize(_unit_base(df, id_col, vec_col))
    tabled = _multi_table_buckets(base, id_col, dim, n_planes, n_tables)
    if n_tables >= _DEDUP_BEFORE_SCORE_MIN_TABLES:
        # high-duplication regime, exact results: the candidate pair
        # set comes from the guarded per-cell BLAS prefilter (cut at
        # threshold - round-6-half-ulp - margin — provably a superset
        # of the ROUND-UP-qualifying pairs for unit vectors, see
        # _ROUND6_HALF_ULP), and every survivor is re-scored from
        # scratch by the bit-exact sequential fold.
        # Output is bit-identical to the candidate self-join it
        # replaces (the r07 shape: ids-only join + dropDuplicates),
        # but the Σ bucket² x n_tables pair fan-out (~12M rows at
        # sf0.1/q31) never exists as Spark rows.
        pairs = _blocked_candidate_pairs(
            tabled, id_col, threshold - _ROUND6_HALF_ULP - _PREFILTER_MARGIN
        )
        scored = _score_unique_pairs(pairs, base, id_col, "id_a", "id_b")
        return scored.filter(F.col("cos_sim") >= threshold)
    tabled = materialize(tabled)
    a, b = tabled.alias("a"), tabled.alias("b")
    join_cond = (
        (F.col("a.table_id") == F.col("b.table_id"))
        & (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    )
    return (
        a.join(b, join_cond)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.round(V.dot(F.col("a.nv"), F.col("b.nv")), 6).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
        .dropDuplicates(["id_a", "id_b"])
    )


def brute_force_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
) -> DataFrame:
    """Exact all-pairs threshold join — O(|V|^2) cartesian; retained
    only as the test oracle for ``embedding_near_dup_pairs`` (same
    pre-normalized scoring formula, so boundary pairs round the same
    way on both sides of the recall comparison)."""
    a = _with_unit(
        df.select(F.col(id_col).alias("id_a"), V.as_double(vec_col).alias("va")),
        F.col("va"),
        "na",
    ).drop("va")
    b = _with_unit(
        df.select(F.col(id_col).alias("id_b"), V.as_double(vec_col).alias("vb")),
        F.col("vb"),
        "nb",
    ).drop("vb")
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(V.dot(F.col("na"), F.col("nb")), 6).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 8,
    train_per_cluster: int = IVF_TRAIN_PER_CLUSTER,
    hierarchical: bool | None = None,
) -> DataFrame:
    """Semantic deduplication, centroid-proximity variant (the
    SemDeDup family, Abbas et al. 2023: cluster the embedding space,
    then thin each cluster): every vector is assigned to its nearest
    coarse-quantizer centroid, and the vector CLOSEST to the centroid
    is kept as the cluster's canonical representative — the rest are
    the semantic-duplicate candidates a corpus cleaner drops or
    down-weights.  (Full SemDeDup epsilon-dedups by pairwise cosine
    within each cluster; the centroid-proximity rule is the bounded
    variant that needs NO within-cluster pair join, which is what
    makes it safe at corpus scale.)

    Scale shape: quantizer training is bounded-sample Lloyd
    (:func:`build_ivf_centroids` — never a full-corpus iteration);
    the corpus is then touched exactly ONCE with a K x dim
    broadcast-literal distance pass, and the keep decision is one
    window over (cluster, dist) — a single shuffle by cluster id.
    No pairwise anything.

    Returns (id, cluster, dist, is_kept): ``dist`` is the squared L2
    distance to the owning centroid rounded to 6 places for display;
    the keep ORDER uses the raw distance (a deterministic sequential
    fold both engines replay bit-for-bit), tie-broken by id.

    ``hierarchical`` switches the assignment to the two-level
    :func:`assign_ivf_cluster_hierarchical` — the LARGE-K path (at
    the semantic-dedup operating curve K grows with the corpus, and
    the flat pass is n x K per row).  The DEFAULT (``None``)
    auto-selects it once ``n_clusters`` reaches
    :data:`HIER_AUTO_MIN_K`, so a large-K caller lands on the scale
    path without opting in.  Approximate at super-cluster boundaries,
    so the q88 oracle (K=8, under the threshold) keeps the flat
    path; the keep rule and output schema are identical, and an
    explicit ``False`` forces flat at any K.
    """
    hierarchical = _resolve_hierarchical(n_clusters, hierarchical)
    centroids = build_ivf_centroids(
        df,
        vec_col,
        id_col,
        n_clusters,
        train_per_cluster=train_per_cluster,
        hierarchical=hierarchical,
    )
    # the assignment is a per-row K x dim (or routed ~2*sqrt(K) x dim)
    # HOF distance pass — balance a compact scan across cores first
    # (no-op when already parallel; a single-file corpus otherwise
    # runs the whole pass on one core: measured 6.7 s -> <1 s at
    # 20k x K=80)
    src = fan_out(df.select(F.col(id_col), F.col(vec_col)))
    v = V.as_double(vec_col)
    if hierarchical:
        assigned = assign_ivf_cluster_hierarchical(
            src, centroids, vec_col, with_dist=True
        ).select(
            F.col(id_col),
            F.col("cluster").cast("long").alias("cluster"),
            F.col("__hdist").alias("__dist"),
        )
    else:
        d = _centroid_dists(v, centroids)
        assigned = src.select(F.col(id_col), d.alias("__d")).select(
            F.col(id_col),
            (F.array_position("__d", F.array_min("__d")) - 1)
            .cast("long")
            .alias("cluster"),
            F.array_min("__d").alias("__dist"),
        )
    w = Window.partitionBy("cluster").orderBy(F.asc("__dist"), F.asc(id_col))
    return assigned.select(
        F.col(id_col),
        F.col("cluster"),
        F.round("__dist", 6).alias("dist"),
        (F.row_number().over(w) == 1).alias("is_kept"),
    )


def _centroid_kmeans(
    points: list[list[float]], k: int, iterations: int = 4
) -> list[int]:
    """Driver-side Lloyd over a SMALL point set (the K centroids of a
    quantizer, never corpus rows): returns a group id per point.
    Deterministic — seeds are the first ``k`` points in index order,
    fixed iteration count, ties to the lower group id.

    Vectorized with numpy: at production cluster counts (K ~ 10^4-10^5
    centroids grouped into sqrt(K) supers) the pure-python triple loop
    is K * k * dim flops per iteration in interpreter time — minutes
    of driver stall — while the numpy broadcast form is milliseconds.
    Determinism is per-path: this helper only shapes the ROUTING
    hierarchy (which supers exist), never an oracle-gated result."""
    import numpy as np

    k = min(k, len(points))
    pts = np.asarray(points, dtype=np.float64)
    cents = pts[:k].copy()
    assign = np.zeros(len(points), dtype=np.int64)
    for _ in range(iterations):
        # (n, k) squared distances via the expansion form — the
        # (n, k, dim) broadcast tensor would be gigabytes at
        # production K; argmin ties resolve to the lowest group id
        # (np.argmin takes the first minimum)
        d2 = (
            (pts * pts).sum(axis=1)[:, None]
            - 2.0 * (pts @ cents.T)
            + (cents * cents).sum(axis=1)[None, :]
        )
        assign = d2.argmin(axis=1)
        for g in range(k):
            members = pts[assign == g]
            if len(members):
                cents[g] = members.mean(axis=0)
    return [int(g) for g in assign]


def _hier_routing(spark, centroids: list[list[float]], n_super: int | None):
    """Build the two-level routing structures over a centroid list:
    a BROADCAST n_super-row frame ``(__sup, __kid_ids, __kids)`` and
    the super-centroid list.  Shipped as a broadcast frame, not an
    expression literal: a literal matrix is re-constructed per ROW
    (measured 1.7x SLOWER than flat at K=256 — it rebuilds the full
    K x dim matrix before selecting), while a broadcast join hands
    each row only its matched super's children."""
    dim = len(centroids[0])
    n_super = n_super or max(1, int(len(centroids) ** 0.5))
    groups = _centroid_kmeans(centroids, n_super)
    by_group: dict[int, list[int]] = {}
    for idx, g in enumerate(groups):
        by_group.setdefault(g, []).append(idx)
    # drop groups Lloyd left empty (re-indexing keeps the routing
    # table dense)
    children = [by_group[g] for g in sorted(by_group)]
    n_super = len(children)
    # super-centroid = mean of its children (the routing points)
    super_cents = [
        [
            sum(centroids[i][j] for i in ch) / len(ch)
            for j in range(dim)
        ]
        for ch in children
    ]
    meta = spark.createDataFrame(
        [
            (s, children[s], [centroids[i] for i in children[s]])
            for s in range(n_super)
        ],
        "__sup int, __kid_ids array<int>, __kids array<array<double>>",
    )
    return meta, super_cents


def assign_ivf_cluster_hierarchical(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    n_super: int | None = None,
    with_dist: bool = False,
) -> DataFrame:
    """Two-level cluster assignment — the SCALE PATH for large K.

    :func:`assign_ivf_cluster` is one n x K distance pass.  That is
    exactly what flat-quantizer systems (faiss IVF-flat) run, and it
    parallelizes with no shuffle — but at the semantic-dedup
    operating curve K grows with the corpus (K ~ n / target cluster
    size), so the per-row work grows too and the total becomes
    O(n * K).  The standard fix is hierarchical assignment: group the
    K centroids into ``n_super`` ~= sqrt(K) super-clusters (a
    driver-side k-means over K points — never corpus rows), route
    each row to its nearest super-centroid, then argmin only over
    that super's children: ~2 * n * sqrt(K) distance folds in ONE
    pass, still shuffle-free.

    APPROXIMATE at super-cluster boundaries (a row whose true nearest
    centroid lives in a different super than the row's nearest
    super-centroid gets its best same-super centroid instead) — the
    textbook hierarchical-k-means trade.  Guaranteed invariants,
    tested: the returned ``cluster`` always belongs to the row's
    chosen super, and it is distance-optimal WITHIN that super.  Use
    the flat assign when K is small or exact replay is required (the
    q48/q88 oracles); use this when K is large.

    Plan shape: the routing table is a BROADCAST ``n_super``-row
    frame ``(__sup, __kid_ids, __kids)`` built by :func:`_hier_routing`
    — each row computes its nearest super-centroid (a literal
    ~sqrt(K) x dim matrix), broadcast-joins on ``__sup``, and argmins
    only over its matched super's ``__kids`` child centroids.  (A
    single 3-D literal matrix indexed by super id was measured 1.7x
    SLOWER at K=256 — the literal is re-constructed per row — and was
    rejected; see ``_hier_routing``.)
    """
    meta, super_cents = _hier_routing(df.sparkSession, centroids, n_super)
    v = V.as_double(vec_col)
    sup_d = _centroid_dists(v, super_cents)
    # bind the routing-distance array once (argmin = two references,
    # each re-running the sqrt(K) folds otherwise — r14)
    sup = F.element_at(
        F.transform(
            F.array(sup_d),
            lambda sd: (F.array_position(sd, F.array_min(sd)) - 1).cast("int"),
        ),
        1,
    )
    routed = df.withColumn("__sup", sup).join(F.broadcast(meta), "__sup")
    # child distances: the vector cast is bound (one evaluation, not
    # one per child centroid), and each consumer binds the kd array
    # so its argmin/min references share one evaluation
    kd = F.element_at(
        F.transform(
            F.array(v),
            lambda vv: F.transform(
                F.col("__kids"),
                lambda p: F.aggregate(
                    F.zip_with(vv, p, lambda a, b: (a - b) * (a - b)),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
            ),
        ),
        1,
    )
    out = routed.withColumn(
        "cluster",
        F.element_at(
            F.transform(
                F.array(kd),
                lambda kdv: F.element_at(
                    F.col("__kid_ids"),
                    F.array_position(kdv, F.array_min(kdv)).cast("int"),
                ),
            ),
            1,
        ).cast("int"),
    )
    if with_dist:
        # squared distance to the chosen centroid (``__hdist``) rides
        # along for callers ranking within clusters (semantic_dedup)
        out = out.withColumn("__hdist", F.array_min(kd))
    return out.drop("__sup", "__kid_ids", "__kids")


def _numpy_lloyd(
    rows: list[list[float]], k: int, iterations: int
) -> list[list[float]]:
    """Driver-side VECTORIZED Lloyd for mid-K trainings — same
    semantics as :func:`_local_lloyd` (seeds are the first k sample
    rows, argmin ties to the first minimum, means snapped to the
    dyadic 2^-10 grid, empty clusters keep their coordinates) but
    numpy-vectorized: the pure-python replay is ~50M interpreter ops
    at K=80 (~30 s); this is milliseconds.  Distances use the
    expansion form (never an (n, k, dim) broadcast tensor).  Not
    fold-bit-identical to _local_lloyd — numpy sums pairwise — but
    deterministic, and only non-oracle-gated trainings route here
    (``build_ivf_centroids`` keeps gate-sized K on the exact path).
    """
    import numpy as np

    if not rows:
        return []
    pts = np.asarray(rows, dtype=np.float64)
    cents = pts[:k].copy()
    for _ in range(iterations):
        d2 = (
            (pts * pts).sum(axis=1)[:, None]
            - 2.0 * (pts @ cents.T)
            + (cents * cents).sum(axis=1)[None, :]
        )
        assign = d2.argmin(axis=1)
        for g in range(k):
            members = pts[assign == g]
            if len(members):
                cents[g] = np.floor(members.mean(axis=0) * 1024.0 + 0.5) / 1024.0
    return [[float(x) for x in c] for c in cents]


def _local_lloyd(
    rows: list[list[float]], k: int, iterations: int
) -> list[list[float]]:
    """Driver-side Lloyd over an already-collected bounded sample,
    arithmetic-IDENTICAL to the distributed path (and therefore to
    the DuckDB oracle replay):

    - distances are the same sequential left-to-right fold
      ``acc + (a-b)*(a-b)`` the engines run (never numpy — pairwise
      summation differs in the last ulp and a near-tie argmin flip
      would cascade through the means);
    - argmin ties go to the FIRST minimum (strict ``<``), matching
      ``array_position``/``ORDER BY d, c``;
    - means are snapped to the dyadic grid ``floor(m*1024+0.5)/1024``
      — the same snap that absorbs the engines' partial-sum order
      wobble absorbs this path's (sample-order) summation;
    - empty clusters keep their previous coordinates.

    Equality with the distributed path on real fixtures is asserted
    by ``test_local_and_distributed_training_agree``.
    """
    import math

    if not rows:
        return []
    dim = len(rows[0])
    cents = [list(rows[i]) for i in range(k)]
    for _ in range(iterations):
        sums = [[0.0] * dim for _ in range(k)]
        counts = [0] * k
        for v in rows:
            best, best_d = 0, None
            for ci, c in enumerate(cents):
                acc = 0.0
                for a, b in zip(v, c):
                    acc = acc + (a - b) * (a - b)
                if best_d is None or acc < best_d:
                    best_d, best = acc, ci
            s = sums[best]
            for j, x in enumerate(v):
                s[j] += x
            counts[best] += 1
        for ci in range(k):
            if counts[ci]:
                n = counts[ci]
                cents[ci] = [
                    math.floor((sums[ci][j] / n) * 1024.0 + 0.5) / 1024.0
                    for j in range(dim)
                ]
    return cents


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the memory side of the 100 TB ANN design
# ---------------------------------------------------------------------------

#: Bounded-sample size per PQ centroid (same md5-ordered draw as the
#: IVF trainer — content-derived, partition-independent, replayable).
PQ_TRAIN_PER_CENTROID = 32


def build_pq_codebooks(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_sub: int = 4,
    k: int = 16,
    iterations: int = 2,
    train_per_centroid: int = PQ_TRAIN_PER_CENTROID,
) -> list[list[list[float]]]:
    """Train ``n_sub`` independent per-subspace codebooks (product
    quantization): split the ``dim`` dimensions into ``n_sub``
    contiguous slices and run Lloyd's k-means with ``k`` centroids on
    each slice.  A vector is then stored as ``n_sub`` small codes
    (``n_sub * log2(k)`` bits) instead of ``dim`` floats — with
    ``n_sub=4, k=16`` a 64-dim float32 vector compresses 256 B -> 2 B,
    which is what lets a 100 TB embedding corpus keep its ANN index
    RAM-resident (IVF partitions the search, PQ compresses the
    residency; together they are the canonical IVF-PQ layout).

    Training mirrors :func:`build_ivf_centroids`' exact-replay path:
    ONE bounded lowest-md5 sample (``train_per_centroid * k`` rows,
    collected once — the subspaces slice the same sample), seeds =
    first ``k`` sample rows per slice, :func:`_local_lloyd`'s
    sequential-fold arithmetic with dyadic-snapped means — so a SQL
    oracle re-derives every codebook bit-for-bit from
    ``ORDER BY md5(id), id LIMIT cap``.  Only ``n_sub * k * ds``
    floats ever reach the driver.
    """
    cap = train_per_centroid * k
    order = [F.md5(F.col(id_col).cast("string")), F.col(id_col)]
    rows = [
        [float(x) for x in r["__tv"]]
        for r in df.select(F.col(id_col), V.as_double(vec_col).alias("__tv"))
        .orderBy(*order)
        .limit(cap)
        .collect()
    ]
    if not rows:
        return []
    dim = len(rows[0])
    if dim % n_sub:
        raise ValueError(
            f"PQ needs dim divisible by n_sub: dim={dim}, n_sub={n_sub}"
        )
    ds = dim // n_sub
    return _pq_lloyd_per_slice(rows, n_sub, ds, k, iterations)


def _pq_lloyd_per_slice(
    rows: list[list[float]], n_sub: int, ds: int, k: int, iterations: int
) -> list[list[list[float]]]:
    """One Lloyd run per subspace slice of an already-collected
    sample, with the same flop-budget routing as
    :func:`build_ivf_centroids`: gate-sized trainings
    (``cap * k * iterations`` within the exact budget — every
    oracle-replayed fixture) run :func:`_local_lloyd`'s
    bit-replayable sequential folds; larger ``k`` (e.g. 8-bit PQ at
    k=256, where the pure-python pass is minutes of driver time)
    routes to the vectorized :func:`_numpy_lloyd` — deterministic
    (md5-ordered sample, first-min ties, dyadic-snapped means) but
    not fold-bit-identical, so large-k configs are not
    oracle-gated."""
    lloyd = (
        _local_lloyd
        if len(rows) * k * iterations <= 65_536
        else _numpy_lloyd
    )
    return [
        lloyd(
            [v[m * ds : (m + 1) * ds] for v in rows],
            min(k, len(rows)),
            iterations,
        )
        for m in range(n_sub)
    ]


#: Auto-routing threshold for the BLAS PQ encoder: with
#: ``encoder=None``, ``pq_encode`` / the ADC search paths switch from
#: the expression argmin to the Arrow-batched BLAS encoder once the
#: per-subspace codebook reaches this many centroids.  MEASURED
#: crossover (2k rows, 32 cores, min-of-2): at k=16 the expression
#: path wins 0.16 s vs 0.30 s (Arrow transfer overhead dominates), at
#: k=64 it is a wash (0.29 vs 0.27), at 8-bit PQ k=256 the
#: interpreted-HOF lambdas lose 3.2x (1.00 s vs 0.31 s) — the
#: threshold sits past the wash.  Explicit ``encoder="expr"|"blas"``
#: always wins; every oracle-gated fixture (k=16) stays far below on
#: the bit-replayable expression path.
PQ_ENCODER_AUTO_MIN_K = 128


def _require_codebooks(codebooks, op: str) -> None:
    """PQ codebook trainers return ``[]`` for an EMPTY training corpus
    (``build_pq_codebooks`` / ``build_ivf_pq``); every consumer indexes
    ``codebooks[0][0]``, so an empty model must fail with the cause —
    not an ``IndexError`` three frames deep."""
    if not codebooks or not codebooks[0] or not codebooks[0][0]:
        raise ValueError(
            f"{op}: empty PQ codebooks — the training corpus had no "
            f"rows; train on a non-empty frame or pass a prebuilt model"
        )


def _resolve_pq_encoder(k: int, encoder: str | None) -> str:
    if encoder is None:
        return "blas" if k >= PQ_ENCODER_AUTO_MIN_K else "expr"
    if encoder not in ("expr", "blas"):
        raise ValueError(f"unknown PQ encoder {encoder!r}")
    return encoder


def pq_encode(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    codebooks: list[list[list[float]]],
    encoder: str | None = None,
) -> DataFrame:
    """Encode every vector as ``n_sub`` 0-based centroid codes
    (``code_0 .. code_{n_sub-1}``) — per subspace, the argmin
    squared-distance over that subspace's codebook.

    Pure Column expressions over the broadcast-literal codebooks
    (:func:`_centroid_dists` on a :func:`~pyspark.sql.functions.slice`
    of the vector): ONE corpus scan, no shuffle, no UDF; ties break
    to the lower code (``array_position`` finds the first minimum),
    and the sequential distance folds make the codes replayable by a
    SQL oracle.  Rejects empty codebooks (empty training corpus) with
    a descriptive error.  Scale: cost is ``n_sub * k * ds = dim * k`` fused
    multiply-adds per row — identical to flat IVF assignment at equal
    K, and embarrassingly parallel.  The HOF lambdas are interpreted,
    so above the measured :data:`PQ_ENCODER_AUTO_MIN_K` the default
    routes to the Arrow-batched BLAS encoder (:func:`_pq_codes_blas`,
    last-ulp code-tie caveat documented there); pass
    ``encoder="expr"`` to pin the exact path at any k."""
    _require_codebooks(codebooks, "pq_encode")
    if _resolve_pq_encoder(len(codebooks[0]), encoder) == "blas":
        return _pq_codes_blas(df, id_col, vec_col, codebooks)
    ds = len(codebooks[0][0])
    out = df.select(F.col(id_col), V.as_double(vec_col).alias("__xd"))
    for m, book in enumerate(codebooks):
        d = _centroid_dists(F.slice(F.col("__xd"), m * ds + 1, ds), book)
        # bind the k-entry distance array once per subspace: argmin
        # references it twice, each re-running all k folds (r14)
        out = out.withColumn(
            f"code_{m}",
            F.element_at(
                F.transform(
                    F.array(d),
                    lambda dd: (
                        F.array_position(dd, F.array_min(dd)) - 1
                    ).cast("int"),
                ),
                1,
            ),
        )
    return out.drop("__xd")


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    codebooks: list[list[list[float]]],
    k_top: int = 5,
    round_scale: int = 6,
    max_queries: int | None = 10_000,
    encoder: str | None = None,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: the query stays
    a raw vector, the corpus is only its codes, and the distance is
    ``Σ_m dt_m[code_m]`` where ``dt_m`` is the query's precomputed
    distance table to subspace ``m``'s centroids.

    This is the PQ scoring asymmetry that matters at 100 TB: per
    query the ``n_sub x k`` table costs one ``dim * k`` pass, after
    which every corpus vector is scored with ``n_sub`` table lookups
    + adds — no float vector is ever read from the corpus side, so
    scan bytes are the 2-byte codes, not the 256-byte embeddings.

    Plan shape mirrors :func:`cosine_topk`: distance tables ride a
    broadcast of the (contract-bounded, ``max_queries``-guarded)
    query side past the un-shuffled corpus codes; the per-query
    top-k ranks on the ROUNDED distance with the neighbor id as a
    total tiebreak.  The lookup-and-add chain is written in fixed
    subspace order, so scores replay bit-for-bit in SQL."""
    if max_queries is not None:
        _bounded_collect(queries.select(id_col), max_queries, "pq_adc_topk")
    _require_codebooks(codebooks, "pq_adc_topk")
    ds = len(codebooks[0][0])
    codes = pq_encode(
        corpus, id_col, vec_col, codebooks, encoder=encoder
    ).withColumnRenamed(id_col, "neighbor_id")
    q = queries.select(
        F.col(id_col).alias("query_id"), V.as_double(vec_col).alias("__qd")
    )
    for m, book in enumerate(codebooks):
        q = q.withColumn(
            f"__qt{m}",
            _centroid_dists(F.slice(F.col("__qd"), m * ds + 1, ds), book),
        )
    q = q.drop("__qd")
    # fixed left-to-right subspace order — the oracle writes the same
    # chain, so the float sum is bit-identical
    score = F.expr(
        " + ".join(
            f"element_at(__qt{m}, code_{m} + 1)"
            for m in range(len(codebooks))
        )
    )
    scored = (
        codes.join(F.broadcast(q), F.lit(True))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(score, round_scale).alias("adc_dist"),
        )
    )
    # salted two-level rank (the cosine_topk note applies: ADC scores
    # the full code table per query)
    from hospital_data_engineering_pipeline_end_to_end_project_spark.operators.skew import salted_grouped_topk

    return salted_grouped_topk(
        scored, ["query_id"], "adc_dist", "neighbor_id", k=k_top,
        descending=False,
    )


def build_ivf_pq(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 8,
    coarse_iterations: int = 2,
    n_sub: int = 4,
    k_codes: int = 16,
    pq_iterations: int = 2,
    train_per_centroid: int = PQ_TRAIN_PER_CENTROID,
) -> tuple[list[list[float]], list[list[list[float]]]]:
    """Train the full residual IVF-PQ index model: the coarse IVF
    quantizer (:func:`build_ivf_centroids`, exact-replay path) plus
    per-subspace PQ codebooks over the coarse RESIDUALS
    ``x - c_assign(x)`` — quantizing residuals instead of raw vectors
    is what makes IVF-PQ canonical: the coarse centroid absorbs the
    vector's position, so the codebooks only span the (much tighter)
    within-cell displacement and the same code budget buys far less
    distortion.

    Exact-replay arithmetic throughout: the PQ sample is the SAME
    bounded lowest-md5 draw as the coarse trainer; its residual
    assignment runs the sequential ``acc + (a-b)*(a-b)`` fold with
    first-min ties (matching ``array_position`` / ``ORDER BY d, c``),
    and the per-slice Lloyd is :func:`_local_lloyd` — so a SQL oracle
    re-derives the coarse centroids, the residuals, and every
    codebook bit-for-bit.  An empty training frame returns
    ``(coarse, [])`` — search entrypoints reject that model via
    :func:`_require_codebooks`."""
    coarse = build_ivf_centroids(
        df, vec_col, id_col, k=n_clusters, iterations=coarse_iterations
    )
    cap = train_per_centroid * k_codes
    order = [F.md5(F.col(id_col).cast("string")), F.col(id_col)]
    rows = [
        [float(x) for x in r["__tv"]]
        for r in df.select(F.col(id_col), V.as_double(vec_col).alias("__tv"))
        .orderBy(*order)
        .limit(cap)
        .collect()
    ]
    if not rows:
        return coarse, []
    dim = len(rows[0])
    if dim % n_sub:
        raise ValueError(
            f"PQ needs dim divisible by n_sub: dim={dim}, n_sub={n_sub}"
        )
    ds = dim // n_sub
    # the sample's coarse assignment, on the same flop-budget routing
    # as the Lloyd runs: the sequential python fold is the
    # bit-replayable path (first-min ties matching ORDER BY d, c);
    # beyond the budget (large n_clusters) numpy argmin is
    # deterministic and the config is not oracle-gated anyway
    if len(rows) * len(coarse) * 1 <= 65_536:
        resid = []
        for v in rows:
            best, best_d = 0, None
            for ci, c in enumerate(coarse):
                acc = 0.0
                for a, b in zip(v, c):
                    acc = acc + (a - b) * (a - b)
                if best_d is None or acc < best_d:
                    best_d, best = acc, ci
            cc = coarse[best]
            resid.append([a - b for a, b in zip(v, cc)])
    else:
        import numpy as np

        pts = np.asarray(rows, dtype=np.float64)
        cents = np.asarray(coarse, dtype=np.float64)
        d2 = (
            (pts * pts).sum(axis=1)[:, None]
            - 2.0 * (pts @ cents.T)
            + (cents * cents).sum(axis=1)[None, :]
        )
        r = pts - cents[d2.argmin(axis=1)]
        resid = [[float(x) for x in row] for row in r]
    books = _pq_lloyd_per_slice(resid, n_sub, ds, k_codes, pq_iterations)
    return coarse, books


def ivf_pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 8,
    nprobe: int = 2,
    n_sub: int = 4,
    k_codes: int = 16,
    k_top: int = 5,
    round_scale: int = 6,
    model: tuple[list[list[float]], list[list[list[float]]]] | None = None,
    max_queries: int | None = 10_000,
    encoder: str | None = None,
    hierarchical: bool | None = None,
) -> DataFrame:
    """Residual IVF-PQ search — the composed 100 TB ANN design this
    repo builds up to: IVF prunes the SEARCH (each query scores only
    its ``nprobe`` probed cells, ~``n * nprobe / n_clusters``
    candidates instead of ``n``), PQ compresses the RESIDENCY (each
    corpus vector is ``n_sub`` small codes of its coarse residual),
    and ADC scores candidates with table lookups — the corpus's raw
    embeddings are read once at index build and never again at query
    time.

    Plan shape: corpus -> coarse assignment + residual codes (one
    scan, broadcast-literal centroids/codebooks, no UDF); queries ->
    per-(query, probed-cell) residual distance TABLES (bounded:
    ``|queries| * nprobe`` rows, ``n_sub * k_codes`` doubles each),
    broadcast into an EQUI-join on the cell id — unlike the flat-scan
    paths there is no cross join anywhere, and the candidate volume
    is the pruned set by construction.  Every float op is the
    sequential fold / fixed-order lookup-add chain the SQL oracle
    replays, ranked on the rounded distance with the neighbor id as a
    total tiebreak.

    A corpus vector is scored for a query iff ITS one cell is among
    the query's probes, so each (query, neighbor) pair appears at
    most once — no dedup step is needed (cf. multi-table LSH).

    ``hierarchical`` routes the CORPUS coarse assignment exactly like
    :func:`ivf_topk`: the flat pass is n x K distance folds per row,
    the dominant super-linear term once K grows with the corpus
    (measured 39x wall at 100x data / K=800 before this route), and
    the two-level pass is ~2 x sqrt(K).  ``None`` auto-selects at
    :data:`HIER_AUTO_MIN_K`; the oracle-gated q110 config (K=8) stays
    on the bit-exact flat path.  The residual codes stay consistent
    under either route (residual = vector - ASSIGNED cell's centroid,
    and search probes assigned cells)."""
    if max_queries is not None:
        _bounded_collect(queries.select(id_col), max_queries, "ivf_pq_adc_topk")
    coarse, books = (
        model
        if model is not None
        else build_ivf_pq(
            corpus,
            id_col,
            vec_col,
            n_clusters=n_clusters,
            n_sub=n_sub,
            k_codes=k_codes,
        )
    )
    _require_codebooks(books, "ivf_pq_adc_topk")
    ds = len(books[0][0])
    n_sub = len(books)

    # --- corpus side: one scan -> (id, cell, code_0..code_{M-1}) ---
    src = fan_out(
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            V.as_double(vec_col).alias("__xd"),
        )
    )
    if _resolve_hierarchical(len(coarse), hierarchical):
        assigned = assign_ivf_cluster_hierarchical(
            src, coarse, "__xd"
        ).withColumn("cluster", F.col("cluster").cast("int"))
    else:
        assigned = assign_ivf_cluster(src, coarse, "__xd")
    if _resolve_pq_encoder(len(books[0]), encoder) == "blas":
        # large-k route: residual shift + argmin per Arrow batch (see
        # PQ_ENCODER_AUTO_MIN_K for the measured crossover)
        codes = _pq_codes_blas(
            assigned,
            "neighbor_id",
            "__xd",
            books,
            coarse=coarse,
            cluster_col="cluster",
        )
    else:
        resid = assigned.withColumn("__cm", _dmatrix(coarse)).withColumn(
            "__rd",
            F.expr(
                "zip_with(__xd, element_at(__cm, cluster + 1), (a, b) -> a - b)"
            ),
        )
        for m, book in enumerate(books):
            d = _centroid_dists(F.slice(F.col("__rd"), m * ds + 1, ds), book)
            # bind the k-entry distance array once per subspace (the
            # pq_encode argmin fix — r14)
            resid = resid.withColumn(
                f"code_{m}",
                F.element_at(
                    F.transform(
                        F.array(d),
                        lambda dd: (
                            F.array_position(dd, F.array_min(dd)) - 1
                        ).cast("int"),
                    ),
                    1,
                ),
            )
        codes = resid.select(
            "neighbor_id", "cluster", *[f"code_{m}" for m in range(n_sub)]
        )

    # --- query side: nprobe cells + per-cell residual tables ---
    q = queries.select(
        F.col(id_col).alias("query_id"), V.as_double(vec_col).alias("__qd")
    )
    cd = _centroid_dists(F.col("__qd"), coarse)
    probes = (
        q.select(
            "query_id",
            "__qd",
            F.posexplode(cd).alias("__c0", "__cd"),
        )
        .withColumn(
            "__crank",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.asc("__cd"), F.asc("__c0")
                )
            ),
        )
        .filter(F.col("__crank") <= nprobe)
        .select("query_id", F.col("__c0").alias("cluster"), "__qd")
        .withColumn("__cm", _dmatrix(coarse))
        .withColumn(
            "__qr",
            F.expr(
                "zip_with(__qd, element_at(__cm, cluster + 1), (a, b) -> a - b)"
            ),
        )
    )
    for m, book in enumerate(books):
        probes = probes.withColumn(
            f"__qt{m}",
            _centroid_dists(F.slice(F.col("__qr"), m * ds + 1, ds), book),
        )
    probes = probes.drop("__qd", "__cm", "__qr")

    score = F.expr(
        " + ".join(
            f"element_at(__qt{m}, code_{m} + 1)" for m in range(n_sub)
        )
    )
    scored = (
        codes.join(F.broadcast(probes), "cluster")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(score, round_scale).alias("adc_dist"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_dist"), F.asc("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k_top
    )


def _pq_codes_blas(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    codebooks: list[list[list[float]]],
    coarse: list[list[float]] | None = None,
    cluster_col: str | None = None,
) -> DataFrame:
    """Arrow-batched BLAS PQ encoder (``mapInPandas``): per batch and
    subspace, one dense ``(batch x k)`` expansion-form distance matrix
    and an argmin — the per-row cost the interpreted-HOF expression
    path pays lambda-by-lambda becomes a handful of gemms per batch.
    With ``coarse``/``cluster_col`` the batch is first shifted to its
    coarse RESIDUAL (the IVF-PQ encode).  Same tie rule as the
    expression path (``np.argmin`` returns the FIRST minimum), but the
    expansion-form distances differ from the sequential fold in the
    last ulp, so a near-tie can flip a code — the same accepted
    trade as the blocked candidate scorer; gate-pinned fixtures stay
    on the expression path."""
    import numpy as np
    import pandas as pd

    books = [np.asarray(b, dtype=np.float64) for b in codebooks]
    ds = books[0].shape[1]
    cc = None if coarse is None else np.asarray(coarse, dtype=np.float64)
    in_cols = [id_col, vec_col] + ([cluster_col] if cluster_col else [])
    id_type = [f for f in df.schema.fields if f.name == id_col][0].dataType
    out_schema = T.StructType(
        [T.StructField(id_col, id_type)]
        + (
            [T.StructField(cluster_col, T.IntegerType())]
            if cluster_col
            else []
        )
        + [
            T.StructField(f"code_{m}", T.IntegerType())
            for m in range(len(books))
        ]
    )

    def gen(batches):
        for pdf in batches:
            X = np.array([list(v) for v in pdf[vec_col]], dtype=np.float64)
            out = {id_col: pdf[id_col]}
            if cluster_col:
                cl = pdf[cluster_col].to_numpy()
                out[cluster_col] = pdf[cluster_col]
                if len(X):
                    X = X - cc[cl]
            for m, C in enumerate(books):
                if not len(X):
                    out[f"code_{m}"] = pd.Series([], dtype="int32")
                    continue
                S = X[:, m * ds : (m + 1) * ds]
                d2 = (
                    (S * S).sum(axis=1)[:, None]
                    - 2.0 * (S @ C.T)
                    + (C * C).sum(axis=1)[None, :]
                )
                out[f"code_{m}"] = d2.argmin(axis=1).astype("int32")
            yield pd.DataFrame(out)

    return df.select(*in_cols).mapInPandas(gen, schema=out_schema)


# ---------------------------------------------------------------------------
# int8 symmetric-distance (SDC) search — the scalar-quantization
# counterpart of PQ-ADC
# ---------------------------------------------------------------------------


def int8_quantize(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """Per-vector absmax int8 quantization (the q58 storage scheme,
    `plans/llm_ops.py:Q58_SQL`): ``scale = absmax/127``, codes are
    half-away-up rounded ``floor(x/scale + 0.5)``.  Keeps the float
    L2 norm and scale alongside the codes — exactly what symmetric
    int8 scoring needs — and drops zero vectors (unquantizable, and
    their cosine is NULL anyway).  Every step is a correctly-rounded
    single IEEE op, so codes, scales and norms replay bit-for-bit in
    SQL.  Returns ``(id_col, __s, __n, __qv)``."""
    v = V.as_double(vec_col)
    amax = F.array_max(F.transform(v, lambda x: F.abs(x)))
    # __s is BOUND as a projection column and the code transform
    # references it per element as a cheap attribute: a second
    # array_max reference in the same projection would re-scan the
    # vector (the r14 dim² class; CollapseProject keeps the two
    # projections separate because the alias is non-cheap and
    # multiply-referenced).  Accepted residual: the __s > 0 predicate
    # is pushed below the projection by the optimizer, so amax is
    # still evaluated once in the filter and once in the projection
    # (2 linear scans total, down from 3).
    pre = df.select(
        F.col(id_col),
        v.alias("__v"),
        (amax / F.lit(127.0)).alias("__s"),
    )
    return pre.select(
        F.col(id_col),
        "__s",
        V.norm(F.col("__v")).alias("__n"),
        F.transform(
            "__v",
            lambda x: F.floor(x / F.col("__s") + F.lit(0.5)).cast("int"),
        ).alias("__qv"),
    ).filter(F.col("__s") > 0)


def _int8_idot_blas(codes: DataFrame, qrows: list) -> DataFrame:
    """Arrow-batched integer dot kernel: per corpus batch, ONE
    ``(batch x dim) @ (dim x nq)`` int64 gemm against the broadcast
    query code matrix — exact by construction (|code| <= 127, so a
    dim-length accumulation is < 2^53 for any dim < 5e8; numpy
    accumulates in int64).  The query-side scale/norm floats ride
    along VERBATIM (tiled, never arithmetic) so the downstream
    scoring expression sees exactly the values the expr path would.
    ``qrows`` are collected rows ``(query_id, __s_q, __n_q,
    __qv_q)``; emits ``(neighbor_id, __s_c, __n_c, query_id, __s_q,
    __n_q, __idot)``."""
    import numpy as np
    import pandas as pd

    Q = np.array([list(r["__qv_q"]) for r in qrows], dtype=np.int64).T
    qids = np.array([r["query_id"] for r in qrows])
    qs = np.array([r["__s_q"] for r in qrows], dtype=np.float64)
    qn = np.array([r["__n_q"] for r in qrows], dtype=np.float64)

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            C = np.array([list(v) for v in pdf["__qv"]], dtype=np.int64)
            I = C @ Q  # (batch x nq), exact int64
            b, nq = I.shape
            yield pd.DataFrame(
                {
                    "neighbor_id": pdf.iloc[:, 0].to_numpy().repeat(nq),
                    "__s_c": pdf["__s"].to_numpy().repeat(nq),
                    "__n_c": pdf["__n"].to_numpy().repeat(nq),
                    "query_id": np.tile(qids, b),
                    "__s_q": np.tile(qs, b),
                    "__n_q": np.tile(qn, b),
                    "__idot": I.reshape(-1),
                }
            )

    id_type = codes.schema.fields[0].dataType
    schema = T.StructType(
        [
            T.StructField("neighbor_id", id_type),
            T.StructField("__s_c", T.DoubleType()),
            T.StructField("__n_c", T.DoubleType()),
            T.StructField("query_id", id_type),
            T.StructField("__s_q", T.DoubleType()),
            T.StructField("__n_q", T.DoubleType()),
            T.StructField("__idot", T.LongType()),
        ]
    )
    return codes.mapInPandas(gen, schema=schema)


def int8_sdc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k_top: int = 5,
    round_scale: int = 6,
    max_queries: int | None = 10_000,
    scorer: str | None = None,
) -> DataFrame:
    """Symmetric-distance top-k over int8 scalar-quantized vectors —
    the search half of the q58 storage op, and the third compression
    point on this module's ANN spectrum (flat float64 -> int8 SDC at
    4x compression -> PQ-ADC at 128x):

        cos_q8 = (s_q * s_c * <qv_q, qv_c>) / (|v_q| * |v_c|)

    The corpus side is read as 1-byte codes plus two floats — at
    100 TB that is the difference between scanning 256 B and 40 B per
    vector — and the integer dot product is EXACT, so unlike PQ the
    only error is the quantization itself (and unlike the float
    blocked scorers, the fast path here is bit-identical, not
    last-ulp: integer gemm has no rounding).

    Plan shape mirrors :func:`pq_adc_topk`: the (``max_queries``-
    guarded) query codes broadcast past the un-shuffled corpus codes;
    ``scorer='expr'`` scores each pair with an interpreted integer
    ``zip_with`` fold, ``scorer='blas'`` computes the whole integer
    dot MATRIX per Arrow batch (:func:`_int8_idot_blas`) and both
    feed the SAME float scoring expression — fixed chain
    ``((s_q*s_c)*idot)/(n_q*n_c)``, rounded, neighbor-id tiebreak —
    so the two routes and the SQL oracle agree bit-for-bit."""
    # a single-file corpus scan would serialize the quantize + score
    # work in one task — balance the PROJECTED input first (no-op
    # when the scan already has enough partitions)
    c = int8_quantize(
        fan_out(corpus.select(id_col, vec_col)), id_col, vec_col
    ).withColumnRenamed(id_col, "neighbor_id")
    q = int8_quantize(queries, id_col, vec_col).select(
        F.col(id_col).alias("query_id"),
        F.col("__s").alias("__s_q"),
        F.col("__n").alias("__n_q"),
        F.col("__qv").alias("__qv_q"),
    )
    # Auto route: the Arrow-batched integer-gemm kernel.  Unlike every
    # float fast path in this module the two routes are BIT-IDENTICAL
    # (the kernel only computes the integer dot matrix; all float
    # scoring stays in one shared Spark expression), so the choice is
    # purely a latency crossover.  MEASURED (50k-vector corpus,
    # local[32], min-of-2): the gemm wins or ties at EVERY query count
    # — nq=2: 1.11 s vs 1.33 s, nq=8: 0.92 vs 0.97, nq=64: 1.06 vs
    # 1.66, nq=256: 1.70 vs 3.78 — so no query-count probe is needed;
    # ``scorer='expr'`` remains the replayable reference path and the
    # empty-query fallback below.
    if scorer is None:
        scorer = "blas"
    if scorer not in ("expr", "blas"):
        raise ValueError(f"unknown int8 scorer {scorer!r}")
    # ONE build-time job both bounds the broadcast side and feeds the
    # blas route: the quantized queries, collected up to one past the
    # bound (zero vectors, which quantization drops, do not count)
    if max_queries is not None:
        qrows = _bounded_collect(q, max_queries, "int8_sdc_topk")
    elif scorer == "blas":
        qrows = q.collect()
    if scorer == "blas":
        if not qrows:
            scorer = "expr"  # empty query side: the join is empty anyway
        else:
            paired = _int8_idot_blas(
                c.select("neighbor_id", "__s", "__n", "__qv"), qrows
            )
    if scorer == "expr":
        paired = (
            c.join(F.broadcast(q), F.lit(True))
            .select(
                "neighbor_id",
                F.col("__s").alias("__s_c"),
                F.col("__n").alias("__n_c"),
                "query_id",
                "__s_q",
                "__n_q",
                F.aggregate(
                    F.zip_with(
                        "__qv", "__qv_q", lambda a, b: (a * b).cast("long")
                    ),
                    F.lit(0).cast("long"),
                    lambda acc, x: acc + x,
                ).alias("__idot"),
            )
        )
    scored = (
        paired.filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cos_q8",
            F.round(
                F.col("__s_q")
                * F.col("__s_c")
                * F.col("__idot").cast("double")
                / (F.col("__n_q") * F.col("__n_c")),
                round_scale,
            ),
        )
        .select("query_id", "neighbor_id", "cos_q8")
    )
    # salted two-level rank (the cosine_topk note applies: SDC scores
    # the full code table per query)
    from hospital_data_engineering_pipeline_end_to_end_project_spark.operators.skew import salted_grouped_topk

    return salted_grouped_topk(
        scored, ["query_id"], "cos_q8", "neighbor_id", k=k_top,
        descending=True,
    )


# ---------------------------------------------------------------------------
# power-iteration principal component — distributed PCA projection
# ---------------------------------------------------------------------------

def power_iteration_pc(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    iterations: int = 3,
    k_top: int = 20,
    round_scale: int = 6,
    quant_scale: int = 1_000_000,
) -> DataFrame:
    """Top-principal-component projection by power iteration — the
    embedding-curation primitive behind PCA whitening, anisotropy
    diagnostics ("is one direction eating the space?") and
    1-D spectral ordering.

    The 100 TB shape is the point: the covariance numerator
    ``n*S_ij - S_i*S_j`` needs only the dim + dim(dim+1)/2 power sums
    — ONE Arrow-batched scan, no shuffle of vectors, no per-pair
    work.  The sums are EXACT end-to-end: coordinates snap to a
    ``1/quant_scale`` integer grid via ``floor(x*s + 0.5)`` (the q58
    rounding rule — ``round()``'s half-even-vs-half-away split
    diverges cross-engine on boundary values; the PCA of the snapped
    data is the documented, deterministic definition), each batch
    computes its partial sums with one int64 ``Q.T @ Q`` (integer
    matmul — no rounding; |q| <= ~quant_scale keeps any real batch
    under 2^63), partials leave the executor as (idx, value) rows —
    dim(dim+3)/2 + 1 per batch, NOT per row — and a tiny
    DECIMAL(38,0) groupBy folds batches exactly (a first draft
    instead built one wide agg of 2145 decimal expressions: the
    plan compiled for ~60 s; the batched-kernel shape runs in ~2 s).
    The driver then forms the dim x dim matrix exactly in Python
    ints and runs ``iterations`` power steps from ``e_1`` in IEEE
    doubles (matvec = sequential fold per row, norm = sqrt of the
    self-fold — the exact chains DuckDB's ``list_dot_product``
    replays), so the direction is bit-reproducible cross-engine and
    the SQL oracle re-derives it from scratch.  The projection
    scores the RAW doubles against the literal direction (one more
    scan), rounds, and takes top-k DISTRIBUTED
    (TakeOrderedAndProject) before ranking the bounded k rows.

    Deliberately NOT a convergence loop: the step count is part of
    the operator's definition (a data-dependent stopping rule would
    be unreplayable).  On spectra with a real gap a few steps
    dominate; on isotropic noise the output is still the
    deterministic 3-step direction.  The one ``collect`` is bounded
    driver control flow: dim(dim+3)/2 + 1 scalar rows.  Returns
    ``(id_col, pc1_proj, rank)``."""
    v = V.as_double(vec_col)
    C = _exact_covariance(df, vec_col, dim, quant_scale)
    vec = _power_steps(C, dim, iterations)

    proj = F.round(
        F.aggregate(
            F.zip_with(v, _darray(vec), lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        round_scale,
    )
    scored = df.select(F.col(id_col), proj.alias("pc1_proj"))
    # distributed top-k FIRST (TakeOrderedAndProject: per-partition
    # partial top-k, merged at the driver), THEN rank the bounded k
    # rows — a bare global row_number window would sort the whole
    # corpus in one task
    top = scored.orderBy(F.desc("pc1_proj"), F.asc(id_col)).limit(k_top)
    w_rank = Window.orderBy(F.desc("pc1_proj"), F.asc(id_col))
    return top.withColumn("rank", F.row_number().over(w_rank))


def _exact_covariance(
    df: DataFrame, vec_col: str, dim: int, quant_scale: int
) -> list[list[float]]:
    """The exact covariance-numerator matrix ``n*S_ij - S_i*S_j`` of
    the ``1/quant_scale``-grid-snapped vectors, as IEEE doubles —
    the shared pass behind :func:`power_iteration_pc` and
    :func:`pca_project` (exactness/scale argument documented there).
    One Arrow-batched scan: per batch an exact int64 ``Q.T @ Q``,
    ``dim(dim+3)/2 + 1`` (idx, value) partial rows, a DECIMAL(38,0)
    groupBy fold, ONE bounded collect."""
    import numpy as np
    import pandas as pd

    v = V.as_double(vec_col)
    src = fan_out(df.select(v.alias("__v")))
    n_sums = 1 + dim + dim * (dim + 1) // 2

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.array([list(x) for x in pdf["__v"]], dtype=np.float64)
            Q = np.floor(X * quant_scale + 0.5).astype(np.int64)
            S = Q.T @ Q  # exact int64 integer matmul
            vals = np.empty(n_sums, dtype=np.int64)
            vals[0] = len(Q)
            vals[1 : 1 + dim] = Q.sum(axis=0)
            k = 1 + dim
            for i in range(dim):
                vals[k : k + dim - i] = S[i, i:]
                k += dim - i
            yield pd.DataFrame(
                {"idx": np.arange(n_sums, dtype=np.int32), "val": vals}
            )

    parts = src.mapInPandas(gen, schema="idx int, val long")
    sums = (
        parts.groupBy("idx")
        .agg(F.sum(F.col("val").cast("decimal(38,0)")).alias("s"))
        .collect()
    )  # bounded: n_sums scalar rows
    by_idx = {r["idx"]: int(r["s"]) for r in sums}
    n = by_idx.get(0, 0)
    si = [by_idx.get(1 + i, 0) for i in range(dim)]
    C = [[0.0] * dim for _ in range(dim)]
    k = 1 + dim
    for i in range(dim):
        for j in range(i, dim):
            # exact integer arithmetic, ONE correctly-rounded float()
            c = float(n * by_idx.get(k, 0) - si[i] * si[j])
            C[i][j] = c
            C[j][i] = c
            k += 1
    return C


def _power_steps(
    C: list[list[float]], dim: int, iterations: int
) -> list[float]:
    """``iterations`` power steps from ``e_1`` in IEEE doubles —
    every matvec a sequential fold, the norm a sqrt of the
    self-fold: exactly the chains DuckDB's ``list_dot_product``
    replays, so the direction is bit-reproducible cross-engine."""
    import math

    vec = [1.0] + [0.0] * (dim - 1)
    for _ in range(iterations):
        w = []
        for i in range(dim):
            acc = 0.0
            for j in range(dim):  # sequential fold == list_dot_product
                acc = acc + C[i][j] * vec[j]
            w.append(acc)
        acc = 0.0
        for x in w:
            acc = acc + x * x
        nrm = math.sqrt(acc)
        if nrm == 0.0:
            # rank-0 covariance (empty / single-row / all-identical
            # corpus): C @ vec is the zero vector and there is no
            # direction to normalize — keep the current vector (e_1 on
            # the first step) as the defined, deterministic answer
            # instead of a ZeroDivisionError
            return vec
        vec = [x / nrm for x in w]
    return vec


def pca_project(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    n_components: int = 2,
    iterations: int = 3,
    round_scale: int = 6,
    quant_scale: int = 1_000_000,
) -> DataFrame:
    """Project every vector onto its corpus's top ``n_components``
    principal directions — the 2-D (or k-D) spectral map used for
    embedding-space QA, cluster visualization and whitening-style
    feature reduction.

    Components come from :func:`power_iteration_pc`'s machinery plus
    HOTELLING DEFLATION: after extracting direction ``v_m`` the
    matrix is updated ``C <- C - lam * v_m v_m^T`` with
    ``lam = v_m . (C v_m)`` (the Rayleigh quotient), and the next
    power run starts from ``e_1`` again.  Every deflation entry is
    the fixed chain ``c - lam*v_i*v_j`` and lam is two sequential
    folds, so the whole component stack replays bit-for-bit in SQL
    (the oracle unrolls deflation as one more matrix CTE).  With
    only ``iterations`` steps per component the directions are the
    DETERMINISTIC approximations the operator defines — on spectra
    with real gaps they converge, on isotropic noise they are still
    reproducible (same argument as the single-component op).

    One covariance pass (Arrow-batched exact integer sums), a
    driver-side dim x dim iteration per component, then ONE
    projection scan emitting all components — corpus cost is two
    scans regardless of n_components.  Returns
    ``(id_col, pc1_proj .. pc{n}_proj)`` for EVERY row (no top-k:
    the projection IS the product)."""
    C = _exact_covariance(df, vec_col, dim, quant_scale)
    dirs = []
    for _ in range(n_components):
        vec = _power_steps(C, dim, iterations)
        # Rayleigh quotient, sequential folds (== list_dot_product)
        w = []
        for i in range(dim):
            acc = 0.0
            for j in range(dim):
                acc = acc + C[i][j] * vec[j]
            w.append(acc)
        lam = 0.0
        for a, b in zip(vec, w):
            lam = lam + a * b
        dirs.append(vec)
        # Hotelling deflation, fixed chain c - lam*v_i*v_j
        C = [
            [C[i][j] - lam * vec[i] * vec[j] for j in range(dim)]
            for i in range(dim)
        ]
    v = V.as_double(vec_col)
    cols = [F.col(id_col)]
    for m, d in enumerate(dirs):
        cols.append(
            F.round(
                F.aggregate(
                    F.zip_with(v, _darray(d), lambda a, b: a * b),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
                round_scale,
            ).alias(f"pc{m + 1}_proj")
        )
    return df.select(*cols)


# ---------------------------------------------------------------------------
# binary sign quantization + Hamming search — the 1-bit end of the
# compression spectrum (flat float64 -> int8 SDC 4x -> PQ-ADC 128x ->
# sign bits at 64x fewer BYTES than float64 and pure integer scoring)
# ---------------------------------------------------------------------------


def binary_sign_pack(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    out_col: str = "code",
) -> DataFrame:
    """Pack per-dimension sign bits (``v[j] > 0``, strict — a zero
    coordinate is a 0 bit on both engines) into 32-bit words stored
    as ``array<long>``: word ``w`` holds dims ``[32w, 32w+32)``, bit
    ``i`` of word ``w`` is dim ``32w+i``.

    The word value is a left fold ``acc*2 + bit`` over descending bit
    index — arithmetically ``sum(bit_i << i)``, a sum of distinct
    powers of two, so it replays in DuckDB as
    ``list_sum([bit << i FOR i IN range(32)])`` exactly.  Words are
    32-bit ON PURPOSE: a 64-bit pack would set the sign bit of the
    containing BIGINT, and while Spark's non-ANSI long arithmetic
    wraps silently, DuckDB raises on BIGINT overflow — 32-bit words
    keep every intermediate positive and identical cross-engine.

    Sign packing is a pure per-row map over the scan (no shuffle, no
    UDF — whole-stage codegen folds), so at 100 TB the pack runs at
    scan speed and the packed corpus is ``dim/8`` bytes per vector.
    """
    n_words = (dim + 31) // 32
    v = V.as_double(vec_col)

    def _word(vv: Column, base: int):
        # closure factory, NOT a default arg: F.aggregate inspects the
        # lambda's arity and a bound default would read as 3 params
        return F.aggregate(
            F.sequence(F.lit(31), F.lit(0), F.lit(-1)),
            F.lit(0).cast("long"),
            lambda acc, i: acc * 2
            + F.when(
                F.element_at(vv, (i + F.lit(base + 1)).cast("int")) > 0,
                F.lit(1),
            ).otherwise(F.lit(0)),
        )

    # the cast vector is BOUND as a lambda variable: element_at on the
    # as_double() expression from inside the fold re-casts the whole
    # vector once per BIT (dim² — interpreted HOF bodies, r14)
    packed = F.element_at(
        F.transform(
            F.array(v),
            lambda vv: F.array(*[_word(vv, 32 * w) for w in range(n_words)]),
        ),
        1,
    )
    return df.select(F.col(id_col), packed.alias(out_col))


def binary_hamming_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    k: int = 10,
    max_queries: int | None = 100_000,
) -> DataFrame:
    """Exact top-k by Hamming distance over sign-quantized vectors —
    the cheapest useful ANN scorer (XOR + popcount per word pair,
    both single-instruction JVM intrinsics inside whole-stage
    codegen; nothing leaves integer arithmetic, so the result is
    bit-exact cross-engine with no rounding argument needed at all).

    Shape mirrors :func:`cosine_topk` (the family contract): the
    bounded query side broadcasts (``max_queries``-guarded), the
    PACKED corpus — ``dim/8`` bytes a row, 64x smaller than the
    float64 scan — streams past it without ever shuffling, and the
    per-query rank window breaks distance ties by ``neighbor_id``
    for a deterministic result set.  At 100 TB this is the
    first-pass filter in a rerank pipeline: Hamming top-(10k) from
    packed codes, then exact cosine on the survivors.

    Returns ``(query_id, neighbor_id, hamming, rank)``.
    """
    if max_queries is not None:
        _bounded_collect(queries.select(id_col), max_queries, "binary_hamming_topk")
    n_words = (dim + 31) // 32
    q = binary_sign_pack(queries, id_col, vec_col, dim).select(
        F.col(id_col).alias("query_id"), F.col("code").alias("qc")
    )
    c = binary_sign_pack(
        fan_out(corpus.select(id_col, vec_col)), id_col, vec_col, dim
    ).select(F.col(id_col).alias("neighbor_id"), F.col("code").alias("cc"))
    ham = None
    for w in range(n_words):
        term = F.bit_count(
            F.element_at("qc", w + 1).bitwiseXOR(F.element_at("cc", w + 1))
        )
        ham = term if ham is None else ham + term
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", ham.cast("long").alias("hamming"))
    )
    # per-query rank via the salted TWO-LEVEL top-k: a plain window
    # PARTITION BY query_id would colocate the ENTIRE scored corpus
    # for each query in one task (the brute-force paths' hot-window
    # trap — the LSH/IVF paths don't have it because their per-query
    # candidate sets are bounded by design).  Identical output by the
    # subset identity under the total (hamming, neighbor_id) order.
    from hospital_data_engineering_pipeline_end_to_end_project_spark.operators.skew import salted_grouped_topk

    return salted_grouped_topk(
        scored,
        ["query_id"],
        "hamming",
        "neighbor_id",
        k=k,
        descending=False,
    )


# ---------------------------------------------------------------------------
# Johnson-Lindenstrauss sign projection — dimensionality reduction as
# a scan-speed map
# ---------------------------------------------------------------------------


def jl_sign_matrix(dim: int, out_dim: int, seed: str = "jl") -> list[list[float]]:
    """The deterministic ±1 JL projection matrix: sign of component
    ``(k, j)`` is the parity of the first hex digit of
    ``md5("{seed}:{k}:{j}")``.  Data-independent (depends only on
    ``seed`` and the shape), so the SAME literal matrix can be
    embedded in a static oracle SQL string without any SF coupling.
    """
    import hashlib

    return [
        [
            1.0
            if int(hashlib.md5(f"{seed}:{k}:{j}".encode()).hexdigest()[0], 16) < 8
            else -1.0
            for j in range(dim)
        ]
        for k in range(out_dim)
    ]


def jl_project(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    out_dim: int = 16,
    seed: str = "jl",
    round_scale: int = 6,
) -> DataFrame:
    """Johnson-Lindenstrauss random-sign projection:
    ``p_k = dot(v, s_k) / sqrt(out_dim)`` with ``s_k in {-1,+1}^dim``
    (Achlioptas 2003's database-friendly variant — signs instead of
    Gaussians, so the projection is exact integer-weighted sums).

    Everything is a correctly-rounded IEEE chain the oracle replays:
    each component is the sequential zip-fold dot (≡ DuckDB
    ``list_dot_product``), one division by ``sqrt(out_dim)``, and
    the reported norm ratio is ``sqrt(fold of squares)`` over the
    UNROUNDED components divided by the original norm
    (nullif-guarded for zero vectors).

    Scale shape: a pure per-row map — the projection matrix is a
    literal in the plan (ONE parsed expression via :func:`_dmatrix`,
    never per-element ``F.lit``), no shuffle, no UDF; at 100 TB this
    is the cheap front of an ANN pipeline (project 64->16, then
    bucket/search in the reduced space at 4x less compute and I/O).

    Returns ``(id_col, p1..p{out_dim} rounded, norm_ratio)``.
    """
    signs = jl_sign_matrix(dim, out_dim, seed)
    inv = 1.0 / math.sqrt(float(out_dim))
    v = V.as_double(vec_col)
    comps = [
        (V.dot(v, _darray(s)) * F.lit(inv)).alias(f"__p{k}")
        for k, s in enumerate(signs)
    ]
    base = df.select(F.col(id_col), V.norm(v).alias("__vn"), *comps)
    pn = F.sqrt(
        F.aggregate(
            F.array(*[F.col(f"__p{k}") for k in range(out_dim)]),
            F.lit(0.0),
            lambda acc, x: acc + x * x,
        )
    )
    return base.select(
        F.col(id_col),
        *[
            F.round(F.col(f"__p{k}"), round_scale).alias(f"p{k + 1}")
            for k in range(out_dim)
        ],
        F.round(pn / F.nullif(F.col("__vn"), F.lit(0.0)), round_scale).alias(
            "norm_ratio"
        ),
    )


# ---------------------------------------------------------------------------
# two-stage Hamming-shortlist -> exact-cosine rerank, and ANN recall
# evaluation — the operators that close the tiering loop (round 10)
# ---------------------------------------------------------------------------


def hamming_rerank_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    shortlist: int = 20,
    k: int = 5,
    round_scale: int = 6,
    max_queries: int | None = 100_000,
) -> DataFrame:
    """Two-stage ANN: a packed-code Hamming top-``shortlist`` over the
    whole corpus (:func:`binary_hamming_topk` — dim/8 bytes per row,
    XOR+popcount in whole-stage codegen), then EXACT unit-cosine
    scoring of only the shortlist survivors and a rerank to ``k``.

    This is the 100 TB tiering story as a first-class operator rather
    than a harness composition: the float embeddings are read for
    ~``shortlist / |corpus|`` of all (query, neighbor) pairs — the
    measured recall_check composition scored ~4% of pairs for a
    0.13 -> 0.596 recall@5 lift on noise embeddings — and the exact
    stage's arithmetic is the :func:`cosine_topk` grammar (unit
    normalize, sequential dot fold, rounded score, id tiebreak), so a
    SQL oracle replays the entire two-stage pipeline bit-for-bit.

    Plan shape: stage 1 never shuffles the corpus (broadcast queries);
    stage 2 joins the small (nq x shortlist) candidate frame back to
    the corpus as a BROADCAST (the corpus side again never shuffles),
    and the rerank window is bounded to <= ``shortlist`` rows per
    query BY CONSTRUCTION — the one place a one-level window is the
    right plan (nothing to salt; the partition cannot be hot).

    Returns ``(query_id, neighbor_id, cos_sim, rank)``.
    """
    short = binary_hamming_topk(
        queries, corpus, id_col, vec_col, dim=dim, k=shortlist,
        max_queries=max_queries,
    )
    cand = short.select("query_id", "neighbor_id")
    c = _with_unit(
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            V.as_double(vec_col).alias("cv"),
        ),
        F.col("cv"),
        "cnv",
    ).drop("cv")
    q = _with_unit(
        queries.select(
            F.col(id_col).alias("query_id"), V.as_double(vec_col).alias("qv")
        ),
        F.col("qv"),
        "qnv",
    ).drop("qv")
    scored = (
        c.join(F.broadcast(cand), "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(V.dot(F.col("qnv"), F.col("cnv")), round_scale).alias(
                "cos_sim"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def ann_recall_at_k(
    approx: DataFrame,
    exact: DataFrame,
    k: int,
    round_scale: int = 6,
) -> DataFrame:
    """Per-query recall@k of an approximate neighbor frame against the
    exact one — the evaluation loop every ANN deployment runs, as an
    operator over the standard ``(query_id, neighbor_id, rank)``
    contract all of this repo's top-k paths emit.

    ``recall = |approx_topk ∩ exact_topk| / k`` — intersection and
    count are integers (one left-semi probe + a map-side-combinable
    count), the single division is correctly rounded, so the score
    replays exactly in SQL.  Queries whose approx list is shorter than
    ``k`` (tiny corpus) still divide by ``k`` — the standard
    definition penalizes a short list rather than renormalizing.

    Returns ``(query_id, n_hits, recall)``, one row per query present
    in ``approx``.
    """
    a = approx.filter(F.col("rank") <= k).select("query_id", "neighbor_id")
    e = exact.filter(F.col("rank") <= k).select("query_id", "neighbor_id")
    # both sides are <= nq x k rows by the top-k contract — broadcast
    # them so the evaluator adds no sort-merge exchange of its own
    hits = (
        a.join(F.broadcast(e), ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    )
    base = a.select("query_id").distinct()
    return (
        base.join(F.broadcast(hits), "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_hits"), F.lit(0).cast("long")).alias(
                "n_hits"
            ),
            F.round(
                F.coalesce(F.col("n_hits"), F.lit(0)).cast("double")
                / F.lit(float(k)),
                round_scale,
            ).alias("recall"),
        )
    )
