"""Connected components over candidate-pair edges (dedup clustering).

The last stage of a near-duplicate pipeline: LSH banding emits
candidate *pairs* (`dedupe.near_dup_candidates`), but a corpus
cleaner needs *clusters* — the transitive closure of the pair
relation — so it can keep one canonical document per cluster.
That is connected components on the pair graph.

Algorithm: iterative min-label propagation (the "hash-to-min" /
large-star family used by GraphX and map-reduce CC literature).
Each round every node adopts the minimum label in its closed
neighborhood; rounds repeat until a fixpoint.  Convergence takes
O(diameter) rounds — near-dup graphs are unions of small
quasi-cliques, so the diameter is tiny (2-4) even at corpus scale.

Long-chain insurance: if the graph has NOT converged after a few
plain rounds (a diameter the quasi-clique assumption says shouldn't
exist — but composed pair-unions over synthetic or boilerplate-heavy
corpora produce it, found by ``scale_check.py`` on the 10x q93
graph), every later round adds a POINTER-JUMPING step — each node's
label is replaced by its label's label — which doubles the effective
propagation distance per round and makes convergence O(log diameter)
(the standard shortcutting idea from the MapReduce-CC literature).
The fixpoint and the returned labels are identical; only the round
count changes.

Scale shape per round: one join + one groupBy-min over the
self-loop-augmented edge list (the closed neighborhood lives in the
edge frame, so no second join folds the node's own label back in);
labels are re-derived, never collected.  The driver-side loop only
ever pulls back a single scalar — the exact sum of labels, which is
strictly decreasing until the fixpoint — and that probe job doubles
as the materialization of the round's lazy `localCheckpoint`, so a
plain round costs exactly one Spark job and lineage never grows.
Shortcut rounds (>= ``_SHORTCUT_AFTER``) cost one extra job: the
propagated labels materialize eagerly before the pointer-jump
self-join (two branches would otherwise re-run the propagation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hospital_data_engineering_pipeline_end_to_end_project_spark.operators.materialize import materialize, release

#: Plain propagation rounds before pointer-jumping engages.  Near-dup
#: graphs (diameter 2-4) converge before this and never pay the
#: shortcut's extra join+materialization; anything deeper switches to
#: the O(log diameter) regime.
_SHORTCUT_AFTER = 4


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Component label per node of the undirected edge list.

    Returns ``(node, component)`` where ``component`` is the minimum
    node id reachable from ``node`` (a canonical, deterministic
    representative — the property the DuckDB recursive-CTE oracle
    recomputes).  Nodes only appear if they occur in ``edges``;
    callers union in singletons if isolated ids must be kept.

    With pointer-jumping engaged from round ``_SHORTCUT_AFTER`` on,
    ``max_iter = 25`` covers diameters beyond 2^20 — ``RuntimeError``
    on non-convergence now genuinely indicates a bug, not a long
    chain.
    """
    # CLOSED neighborhood (symmetrized edges + self-loops) built in
    # ONE pass over the edge plan: a branch-per-direction union
    # (select(u,v) ∪ select(v,u) ∪ nodes) would evaluate the —
    # possibly expensive — edge-producing pipeline once per branch
    # (q61 feeds the whole LSH banding self-join in here).  With
    # (u, u) edges in the frame, one join + one groupBy-min per round
    # computes min(own label, neighbor labels) directly — the pre-r7
    # shape needed a second (left) join per round to fold the node's
    # own label back in.  The edge frame is materialized ONCE;
    # everything below derives from the materialized frame.
    closed = materialize(
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col(src).alias("u"), F.col(dst).alias("v")),
                    F.struct(F.col(dst).alias("u"), F.col(src).alias("v")),
                    F.struct(F.col(src).alias("u"), F.col(src).alias("v")),
                    F.struct(F.col(dst).alias("u"), F.col(dst).alias("v")),
                )
            ).alias("e")
        )
        .select("e.u", "e.v")
        .distinct()
    )
    labels = closed.filter(F.col("u") == F.col("v")).select(
        F.col("u").alias("node"), F.col("u").alias("component")
    )

    # fixpoint probe: labels only ever DECREASE (min over a closed
    # neighborhood), so sum(component) is strictly decreasing until
    # the fixpoint — a stable sum means no label moved.  The probe is
    # a scalar agg on the new labels (no join against the previous
    # round), and the SAME job materializes the round's lazy
    # checkpoint: exactly one Spark job per round.
    prev_sum: int | None = None
    converged_empty = False
    for i in range(max_iter):
        labels = (
            closed.join(labels, F.col("v") == F.col("node"))
            .groupBy("u")
            .agg(F.min("component").alias("component"))
            .withColumnRenamed("u", "node")
            # per-round lineage cap, not an index: no policy may drop it
            .localCheckpoint(eager=False)
        )
        if i >= _SHORTCUT_AFTER:
            # pointer-jump: component <- label(component).  Labels are
            # node ids and every node has a label row, so the inner
            # self-join is total.  The propagated frame is
            # materialized first (one extra job per shortcut round):
            # the self-join's two branches would otherwise each rerun
            # the propagation pipeline (the AQE ReusedExchange
            # failure, same as the dedup indexes).  Monotone: every
            # label satisfies label(x) <= x after round one, so sums
            # still strictly decrease until the fixpoint.
            shortcut = labels = materialize(labels)
            l2 = labels.select(
                F.col("node").alias("__n"), F.col("component").alias("__c")
            )
            labels = (
                labels.join(l2, F.col("component") == F.col("__n"))
                .select("node", F.col("__c").alias("component"))
                # per-round lineage cap, not an index: no policy may drop it
                .localCheckpoint(eager=False)
            )
        # decimal(38,0) sum: exact at any node count / id magnitude, so
        # a wrapped long sum can never alias two distinct label states
        cur = labels.agg(
            F.sum(F.col("component").cast("decimal(38,0)")).alias("s")
        ).collect()[0]["s"]
        # the collect materialized this round's checkpoint: nothing
        # reads the persisted shortcut frame any more
        if i >= _SHORTCUT_AFTER:
            release(shortcut)
        if cur == prev_sum and (cur is not None or converged_empty):
            release(closed)
            return labels
        converged_empty = cur is None
        prev_sum = cur
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds"
    )


def cluster_stats(labels: DataFrame) -> DataFrame:
    """Per-component size summary: ``(component, n_members)``."""
    return labels.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("n_members")
    )


def triangle_counts(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_degree: int | None = None,
) -> DataFrame:
    """Per-node triangle participation over an undirected edge list —
    the standard graph-quality diagnostic for a near-dup pair graph
    (triangles = mutually-confirming duplicate evidence; a node with
    many pair edges but no triangles is the classic false-positive
    hub shape).

    Enumeration joins ordered edges (a < b) twice: a triangle
    {a < b < c} is counted exactly once as e(a,b) ⋈ e(b,c) ⋈ e(a,c)
    — the orientation makes every wedge test unique, so no /3 or /6
    correction and no double counting.  Join volume is Σ deg(v)² over
    the ordered graph (each node's out-neighbors pair up), the same
    bucket-squared shape as the banded dedup joins — never all
    triples.  The edge frame feeds three join branches, so it is
    materialized once (``operators/materialize.py``); input edges
    are normalized to (min, max) and deduped first, so callers may
    pass raw pair lists in either orientation.

    ``max_degree`` is the hub guard: the false-positive hub this
    diagnostic exists to detect has deg ~ n, making the unguarded
    enumeration quadratic exactly when it is needed.  With a cap, a
    node keeps only its ``max_degree`` lowest-md5 ordered out-edges
    (a DETERMINISTIC sample — same trick as the q26 hot-shingle cap),
    bounding join volume to ``max_degree x |E|``; counts become a
    documented underestimate ONLY for nodes over the cap.  The cap
    itself is enforced through :func:`~hospital_data_engineering_pipeline_end_to_end_project_spark.
    operators.skew.salted_grouped_topk` (bottom-``max_degree`` by the
    edge md5), so even the hub's own sampling sort is bounded to
    ~deg/64 per task rather than one O(deg log deg) straggler.
    Graphs whose ordered out-degrees are all at or under the cap —
    every banded near-dup graph in this repo, measured max 3 — are
    byte-identical to the exact path.

    Returns ``(node, n_triangles)`` for nodes in at least one
    triangle.
    """
    a, b = F.col(src), F.col(dst)
    e = (
        edges.select(
            F.least(a, b).alias("u"), F.greatest(a, b).alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    if max_degree is not None:
        from hospital_data_engineering_pipeline_end_to_end_project_spark.operators.skew import salted_grouped_topk

        m = F.md5(
            F.concat_ws(
                "\x1f",
                F.col("u").cast("string"),
                F.col("v").cast("string"),
            )
        )
        # bottom-max_degree by edge md5 (unique per distinct edge, so
        # the order is total and the two-level subset identity gives
        # byte-identical output to the one-level window)
        e = salted_grouped_topk(
            e.withColumn("__m", m),
            ["u"],
            "__m",
            "v",
            k=max_degree,
            descending=False,
        ).select("u", "v")
    e = materialize(e)
    tri = (
        e.alias("e1")
        .join(e.alias("e2"), F.col("e1.v") == F.col("e2.u"))
        .join(
            e.alias("e3"),
            (F.col("e1.u") == F.col("e3.u"))
            & (F.col("e2.v") == F.col("e3.v")),
        )
        .select(
            F.col("e1.u").alias("a"),
            F.col("e1.v").alias("b"),
            F.col("e2.v").alias("c"),
        )
    )
    return (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )


def pagerank_fixed(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    iterations: int = 3,
    scale: int = 10**12,
) -> DataFrame:
    """Fixed-point PageRank over an undirected edge list — the
    centrality score a dedup pipeline uses to pick the CANONICAL
    document of a near-dup cluster (the member most corroborated by
    pair evidence), and the general "which node anchors this
    component" primitive.

    Arithmetic is INTEGER fixed point throughout, which is what makes
    an iterative float algorithm oracle-replayable: ranks live as
    ``floor(pr * scale)`` int64s, each step is
    ``r'(v) = (3*scale) div (20*N)  +  (17 * sum_{u->v} (r(u) div deg(u))) div 20``
    — the damping d = 0.85 = 17/20 written as integer products and
    FLOOR divisions at fixed points (Spark ``div`` == DuckDB ``//``
    on non-negative int64), so every engine computes bit-identical
    ranks with no accumulation-order or libm concern.  Integer sums
    are order-independent; nothing exceeds 17*scale < 2^63.  The
    deliberate cost is a deterministic floor at each step (ranks sum
    to slightly under ``scale``) — a DEFINED algorithm, not an
    approximation of one.

    The step count is part of the operator's definition (the q114
    rule: a data-dependent convergence test would be unreplayable);
    3 steps on damping 0.85 is within ~15% of the fixpoint ordering
    on the small-diameter graphs this targets.

    Scale shape: the graph is symmetrized once and joined with its
    out-degrees ONCE, and that (u, v, deg) frame — read by every
    iteration — materializes under the caller's policy; each
    iteration is then exactly one equi-join (ranks on u) + one
    groupBy(v) integer sum.  Undirected symmetrization guarantees
    deg >= 1 and in-edges for every node, so there is no dangling
    mass to redistribute and no node drops out of the groupBy.  The
    one driver action is the bounded node-count scalar N (needed as
    an integer-division literal).

    Returns ``(node, pr)`` with ``pr`` the scaled int64 rank after
    ``iterations`` steps.
    """
    a, b = F.col(src), F.col(dst)
    und = (
        edges.select(F.least(a, b).alias("u"), F.greatest(a, b).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    sym = und.union(und.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    ed = materialize(sym.join(deg, "u"))

    n_nodes = ed.select("u").distinct().count()
    base = (3 * scale) // (20 * n_nodes)
    ranks = ed.select(F.col("u").alias("node")).distinct().select(
        "node", F.lit(scale // n_nodes).cast("long").alias("pr")
    )
    for _ in range(iterations):
        ranks = (
            ed.join(ranks, ed["u"] == ranks["node"])
            .select("v", F.expr("pr div deg").alias("__c"))
            .groupBy("v")
            .agg(F.sum("__c").alias("__s"))
            .select(
                F.col("v").alias("node"),
                (F.lit(base) + F.expr("(17 * __s) div 20"))
                .cast("long")
                .alias("pr"),
            )
        )
    return ranks


def label_propagation_min(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    rounds: int = 3,
) -> DataFrame:
    """Synchronous min-label propagation over an undirected edge list
    — the bounded-round community/labeling primitive: after ``t``
    rounds every node carries the MINIMUM node id within ``t`` hops
    (label(v, 0) = v; label(v, t+1) = min(label(v, t), min over
    neighbors u of label(u, t))).

    This is the deterministic skeleton of label-propagation community
    detection (frequency voting replaced by ``min``, which makes the
    fixed round count a DEFINED algorithm instead of a
    convergence-dependent one — the q114/q123 rule), and at full
    convergence it IS connected components; with small ``rounds`` it
    is the cheap local variant used to label mostly-small clusters
    without paying pointer-jumping's full machinery.

    Everything is an integer/string ``min`` — order-independent and
    map-side combinable, so hub nodes cost no straggler window — and
    the oracle unrolls the rounds as CTEs (the q123 pattern).  The
    symmetrized edge frame, read by every round, materializes once
    under the caller's policy; each round is ONE equi-join + one
    combinable groupBy-min.  Per-round shuffle volume is O(|E|), and
    ``rounds`` is a constant: total cost ``rounds * O(|E|)`` with no
    growth term, at 100 TB the same as any bounded-iteration graph op
    in this repo.

    Returns ``(node, label)`` for every node with at least one edge.
    """
    a, b = F.col(src), F.col(dst)
    und = (
        edges.select(F.least(a, b).alias("u"), F.greatest(a, b).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    sym = materialize(
        und.union(und.select(F.col("v").alias("u"), F.col("u").alias("v")))
    )
    labels = sym.select("u").distinct().select(
        F.col("u").alias("node"), F.col("u").alias("label")
    )
    for _ in range(rounds):
        labels = (
            labels.select("node", "label")
            .union(
                sym.join(labels, sym["u"] == labels["node"]).select(
                    sym["v"].alias("node"), F.col("label")
                )
            )
            .groupBy("node")
            .agg(F.min("label").alias("label"))
        )
    return labels


def incremental_labels(
    labels: DataFrame,
    new_edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    rounds: int = 4,
) -> DataFrame:
    """Incremental cluster-label maintenance — fold a batch's new
    near-dup edges into EXISTING labels without recomputing the
    corpus graph: the production companion of the incremental join
    (``dedupe.lsh_incremental_join``), which yields exactly such
    edges daily.

    The stored label table is itself a COLLAPSED form of the old
    graph: rewriting each ``(node, label)`` row as an edge
    ``node — label`` turns every existing cluster into a star of
    diameter <= 2 around its representative, which preserves
    connectivity and min-reachability while discarding the original
    edge set entirely.  Union those star edges with the batch's new
    edges and re-run :func:`label_propagation_min`: a new doc joins
    its cluster in one hop, and a batch doc that BRIDGES two existing
    clusters merges them through a <= 4-hop path (rep_a — member_a —
    bridge doc — member_b — rep_b) — hence the default ``rounds=4``,
    one per hop of that worst single-bridge path.  Chained merges
    (several clusters daisy-linked by several batch docs in ONE
    batch) can exceed any constant bound; as everywhere in this repo
    the fixed round count is the DEFINED algorithm (min label within
    ``rounds`` hops), and at convergence it equals a from-scratch
    labeling of (old graph + new edges), which the star collapse
    makes dramatically cheaper than on the raw accumulated graph
    (test-pinned against converged connected components on the
    benchmark fixture).

    Cost ∝ (|labels| + |new edges|) x rounds — per-batch work scales
    with the LABEL TABLE (one row per clustered doc), never with the
    corpus's accumulated edge multiset; same combinable-min,
    hub-proof shape as the underlying primitive.

    The star collapse is LOSSLESS only for converged input labels: a
    non-converged table can hold a node whose label equals itself yet
    is referenced by no other node (e.g. one bounded round over edges
    1-5, 2-5 yields (1,1),(5,1),(2,2) — node 2 self-labels while 5
    already reached 1).  Its star edge is a self-loop, which the
    propagation primitive drops (``u != v``), so the node would vanish
    from the maintained table — and a downstream
    ``leakage_free_split`` would silently fall back to a per-doc split
    for it, permanently.  The propagation result is therefore
    full-outer-joined back onto the input node set, coalescing to the
    old label: every previously-labeled node keeps a row no matter
    what.  (For converged inputs the join is a no-op — every input
    node reappears with a <= label — so the converged-path output is
    unchanged; for non-converged inputs the retained old label is the
    node's best-known label, refreshed the next time an edge touches
    it.)

    Returns ``(node, label)`` for every node on some edge plus every
    previously-labeled node (isolated batch docs — no near-dup
    anywhere — carry no label, matching the primitive's contract).
    """
    star = labels.select(
        F.col("node").alias(src), F.col("label").alias(dst)
    )
    edges = star.union(new_edges.select(F.col(src), F.col(dst)))
    prop = label_propagation_min(edges, src, dst, rounds)
    prev = labels.select("node", F.col("label").alias("_prev_label"))
    return (
        prop.join(prev, "node", "full_outer")
        .select(
            "node",
            F.coalesce("label", "_prev_label").alias("label"),
        )
    )


def hits_bipartite_fixed(
    edges: DataFrame,
    hub_col: str,
    auth_col: str,
    iterations: int = 3,
    scale: int = 10**9,
) -> DataFrame:
    """Fixed-point HITS (hubs & authorities) over a bipartite edge
    list — the "which suppliers anchor the popular parts" /
    "which crawl hosts feed the high-value documents" primitive that
    complements PageRank's single-role centrality.

    Bipartite HITS update (Kleinberg): ``a'(p) = sum over edges
    (s, p) of h(s)``; ``h'(s) = sum over edges (s, p) of a(p)``,
    L1-normalizing after every half-step.  Like ``pagerank_fixed``,
    all arithmetic is INTEGER fixed point so the iterative algorithm
    stays oracle-replayable: scores are int64 at ``scale`` = 1e9 and
    normalization is ``x * scale div sum(x)`` — after it every score
    is <= scale and the L1 mass is ~scale, so the next half-step's
    products obey ``x * scale <= scale^2 = 1e18 < 2^63`` REGARDLESS
    of graph size, and the un-normalized sums obey
    ``sum <= max_degree * scale`` (safe to max_degree ~9e9).  The
    floor divisions are deterministic in both engines (Spark ``div``
    == DuckDB ``//`` on non-negative int64); integer sums are
    order-independent.  The iteration count is part of the operator
    definition (the q114/q123 rule).

    Scale shape: the distinct edge frame — read by all ``2 *
    iterations`` half-steps — materializes once under the caller's
    policy; each half-step is ONE equi-join + one map-side-combinable
    integer groupBy-sum, and each L1 normalizer is a one-row aggregate
    cross-joined back in-plan (AQE broadcasts it) — no driver collect
    in the loop.  Per-iteration shuffle volume is O(|E|).

    Returns ``(side, id, score)`` with side in {hub, auth} and score
    the scaled int64 after ``iterations`` full iterations.
    """
    if iterations < 1:
        # the final select dereferences the last authority frame, so
        # at least one full iteration is part of the contract
        raise ValueError("hits_bipartite_fixed requires iterations >= 1")
    ed = materialize(
        edges.select(
            F.col(hub_col).alias("s"), F.col(auth_col).alias("p")
        ).distinct()
    )

    def _l1_normalize(df: DataFrame, key: str, val: str) -> DataFrame:
        # the frame is consumed TWICE (the L1 total and the row-wise
        # rescale) and the half-steps nest — left lazy, each extra
        # consumer would re-run the whole upstream iteration chain
        # (the same double-eval hazard operators/materialize.py
        # documents for self-joins), compounding per half-step.
        # Materialize the node-sized aggregate once; the normalized
        # output is then a cheap projection over it.
        dfm = materialize(df)
        tot = dfm.agg(F.sum(val).alias("_tot"))
        return dfm.crossJoin(F.broadcast(tot)).select(
            key, F.expr(f"({val} * {scale}L) div _tot").alias(val)
        )

    # the init normalize has a closed form (r15): every hub starts at
    # `scale`, so its L1 total is exactly n*scale and the normalized
    # score (scale*scale) div (n*scale) == scale div n for every hub
    # (scale² = (scale div n)·n·scale + r·scale with r·scale < n·scale
    # — an exact int64 identity, value-identical to the materialized
    # aggregate+broadcast it replaces; one bounded driver scalar, the
    # q123/pagerank init pattern, minus one checkpoint job and one
    # broadcast per call).
    hub_ids = ed.select("s").distinct()
    n_hubs = hub_ids.count()
    hubs = hub_ids.select(
        "s", F.lit(scale // max(1, n_hubs)).cast("long").alias("h")
    )
    auths: DataFrame | None = None
    for _ in range(iterations):
        auths = _l1_normalize(
            ed.join(hubs, "s")
            .groupBy("p")
            .agg(F.sum("h").alias("a")),
            "p",
            "a",
        )
        hubs = _l1_normalize(
            ed.join(auths, "p")
            .groupBy("s")
            .agg(F.sum("a").alias("h")),
            "s",
            "h",
        )
    return hubs.select(
        F.lit("hub").alias("side"),
        F.col("s").cast("long").alias("id"),
        F.col("h").cast("long").alias("score"),
    ).unionByName(
        auths.select(
            F.lit("auth").alias("side"),
            F.col("p").cast("long").alias("id"),
            F.col("a").cast("long").alias("score"),
        )
    )
