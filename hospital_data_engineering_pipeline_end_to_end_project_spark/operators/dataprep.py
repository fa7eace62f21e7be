"""Training-data preparation operators (LLM-pipeline extensions).

The ops a pretraining corpus pipeline runs after dedup/quality
filtering: deterministic train/val/test splitting, per-group caps
(class balancing), fixed-window sequence packing, document chunking,
and TF-IDF term scoring.  All are pure Column-expression plans —
no Python row path, one shuffle each (or none), so they hold at
100 TB — and every one is deterministic via md5-derived ordering,
never ``rand()``/``hash()`` (engine-specific, non-replayable).

Cross-engine exactness notes (the DuckDB oracles recompute these
bit-for-bit):

- split buckets are md5 *hex-prefix strings* compared
  lexicographically — avoids hex->int conversion, which the two
  engines expose differently;
- tf-idf uses the rational idf ``(N+1)/(df+1)`` — a single IEEE
  division, bit-identical everywhere, unlike ``ln`` whose libm
  rounding differs across engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hospital_data_engineering_pipeline_end_to_end_project_spark.operators.materialize import materialize

#: 4 hex chars = 65536 buckets; thresholds are cumulative-weight
#: boundaries rendered as zero-padded hex strings
SPLIT_PREFIX_LEN = 4


def split_thresholds(weights: dict[str, float]) -> list[tuple[str, str]]:
    """[(split_name, upper_bound_hex_exclusive)] in declaration order;
    the last split's bound is None (catch-all)."""
    total = sum(weights.values())
    n_buckets = 16**SPLIT_PREFIX_LEN
    out: list[tuple[str, str]] = []
    acc = 0.0
    names = list(weights)
    for name in names[:-1]:
        acc += weights[name] / total
        if acc >= 1.0:
            # cumulative fraction hit 1.0 early (trailing zero weights
            # or FP rounding): this split absorbs the whole bucket
            # space, so it becomes the catch-all and the empty
            # remainder is dropped.  Formatting 1.0 would yield the
            # 5-char hex '10000', which compares lexicographically
            # BELOW most 4-char buckets and silently misassigns rows
            # (fraction_bound guards the same edge for sampling).
            out.append((name, None))
            return out
        bound = format(int(acc * n_buckets), f"0{SPLIT_PREFIX_LEN}x")
        out.append((name, bound))
    out.append((names[-1], None))
    return out


def hash_split(
    df: DataFrame,
    id_col: str,
    weights: dict[str, float] | None = None,
    salt: str = "",
) -> DataFrame:
    """Stable train/val/test assignment by md5 bucket of the id.

    The assignment is a pure function of the id (+ optional salt), so
    it is reproducible across runs, engines, and re-shards — the
    property that actually matters for split integrity at corpus
    scale (a ``rand()`` split re-rolls membership every run).  Adds
    ``bucket`` (hex prefix) and ``split``.  No shuffle at all: this is
    a narrow projection.
    """
    weights = weights or {"train": 0.8, "val": 0.1, "test": 0.1}
    bucket = F.substring(F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string"))), 1, SPLIT_PREFIX_LEN)
    expr: Column | None = None
    for name, bound in split_thresholds(weights):
        if bound is None:
            expr = expr.otherwise(F.lit(name)) if expr is not None else F.lit(name)
        else:
            cond = bucket < bound
            expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    return df.withColumn("bucket", bucket).withColumn("split", expr)


def group_cap(
    df: DataFrame,
    group_cols: list[str],
    id_col: str,
    cap: int,
) -> DataFrame:
    """Deterministic per-group downsample to at most ``cap`` rows —
    class balancing for over-represented sources/languages.

    Selection order is md5(id) (a stable uniform shuffle within the
    group), id as total tiebreak.  Adds ``sample_rank`` (1-based
    within group).

    TWO-LEVEL (the salted-top-k identity): a one-level
    ``row_number() OVER (PARTITION BY group)`` colocates and sorts
    the ENTIRE over-represented class — the group this operator
    exists to cap — in one unsplittable task.  Here rank-to-cap runs
    per (group, md5-prefix salt bucket) first (partitions bounded to
    ~1/64 of the class), then the <= 64*cap survivors re-rank per
    group.  Output identical by the subset identity under the total
    (md5(id), id) order — the oracle's one-level SQL is unchanged.
    """
    h = F.md5(F.col(id_col).cast("string"))
    d = df.withColumn("__h", h).withColumn(
        "__salt",
        (F.conv(F.substring("__h", 1, 2), 16, 10).cast("int") % 64),
    )
    w_part = Window.partitionBy(*group_cols, "__salt").orderBy(
        "__h", F.col(id_col)
    )
    survivors = (
        d.withColumn("__rn", F.row_number().over(w_part))
        .filter(F.col("__rn") <= cap)
        .drop("__rn", "__salt")
    )
    w_merge = Window.partitionBy(*group_cols).orderBy("__h", F.col(id_col))
    return (
        survivors.withColumn("sample_rank", F.row_number().over(w_merge))
        .filter(F.col("sample_rank") <= cap)
        .drop("__h")
    )


#: Two-level prefix-sum span: documents whose order keys share a
#: ``DIV _PACK_BUCKET_SPAN`` bucket prefix-sum together; one level of
#: bucketing bounds every fine window partition to <= span rows.
_PACK_BUCKET_SPAN = 4096


def pack_sequences(
    df: DataFrame,
    order_col: str,
    token_col: str,
    budget: int,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Concat-then-chunk sequence packing (pretraining batch layout).

    Documents are laid out consecutively in deterministic ``order_col``
    order (per group); a document belongs to the fixed-size token
    window its START offset falls in: ``pack_id = start_offset DIV
    budget``.  This is the streaming concatenation layout (documents
    may straddle window boundaries, exactly like GPT-style pretraining
    token streams) — not bin packing, which is iterative and
    data-dependent.  Integer window cumsum: exact in both engines.
    Adds ``start_offset`` and ``pack_id``.

    The prefix sum is TWO-LEVEL (the q124/KMV identity pattern): a
    one-level ``sum OVER (PARTITION BY group ORDER BY order)`` window
    colocates and sorts a group's ENTIRE document set in one task —
    the per-group total-sort trap, unsplittable by AQE.  Here the
    order key buckets by ``floor(order / 4096)`` — a NON-DECREASING
    function of the order key, so ordering by (bucket, order) IS
    ordering by order and the offsets are identical by construction
    (the oracle replays the one-level SQL; equality to the naive
    window is test-pinned):

    1. token totals per (group, bucket) — map-side combinable;
    2. bucket-level exclusive prefix sums per group — a window over
       n/4096 bucket rows, 4096x smaller than the doc stream;
    3. within-bucket exclusive prefix sums — every partition bounded
       to <= 4096 rows (``order_col`` must be unique per group, which
       the packing layout requires anyway — with duplicate keys even
       the ONE-level cumsum would be tie-order-dependent);
    4. ``start_offset`` = bucket prefix + within-bucket prefix.

    ``order_col`` must be integral for the bucket ``floor`` (doc ids
    here); ``F.floor`` keeps the bucket monotonic for negative keys
    too (``DIV`` truncates toward zero and would reorder around 0).
    """
    keys = group_cols or []
    toks = F.col(token_col).cast("long")
    b = F.floor(F.col(order_col) / F.lit(_PACK_BUCKET_SPAN)).cast("long")
    d = df.withColumn("__pb", b)
    bt = d.groupBy(*keys, "__pb").agg(F.sum(toks).alias("__bt"))
    w_b = (
        Window.partitionBy(*keys)
        .orderBy("__pb")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    bt = bt.withColumn(
        "__boff", F.coalesce(F.sum("__bt").over(w_b), F.lit(0))
    ).drop("__bt")
    w_in = (
        Window.partitionBy(*keys, "__pb")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        d.join(bt, [*keys, "__pb"])
        .withColumn(
            "start_offset",
            F.col("__boff") + F.sum(toks).over(w_in) - toks,
        )
        .withColumn("pack_id", F.expr(f"start_offset DIV {int(budget)}"))
        # the equi-join reorders columns (join keys first); restore
        # the caller's layout + appended outputs, as the one-level
        # form produced
        .select(*df.columns, "start_offset", "pack_id")
    )


def chunk_documents(
    df: DataFrame,
    id_col: str,
    token_col: str,
    window: int,
) -> DataFrame:
    """Split each document into fixed-size token windows.

    Emits one row per chunk: ``chunk_id`` (0-based), ``tok_start``
    inclusive, ``tok_end`` exclusive (capped at the doc's token
    count).  Zero-token documents emit nothing.  Narrow explode — no
    shuffle; output row count is sum(ceil(n/window)).
    """
    n = F.col(token_col).cast("long")
    w = int(window)
    # ceil-div on positive ints (token counts << 2^53, double is exact)
    n_chunks = F.floor((n + (w - 1)) / F.lit(w)).cast("long")
    return (
        df.filter(n > 0)
        .withColumn(
            "chunk_id", F.explode(F.sequence(F.lit(0).cast("long"), n_chunks - 1))
        )
        .withColumn("tok_start", F.col("chunk_id") * w)
        .withColumn("tok_end", F.least(F.col("tok_start") + w, n))
    )


def contamination(
    df: DataFrame,
    id_col: str,
    text_col: str,
    is_bench: Column,
    shingle_n: int = 5,
) -> DataFrame:
    """Benchmark decontamination probe: per training doc, how many of
    its distinct word ``shingle_n``-grams appear anywhere in the
    benchmark slice (``is_bench`` rows).

    The benchmark side is an eval suite — small by definition — so it
    is BROADCAST into a shingle equi-join: the corpus side never
    shuffles; each partition streams past the benchmark shingle set.
    Docs with zero overlap are absent from the output (join, not
    left join): the common case produces no rows at all.
    """
    from hospital_data_engineering_pipeline_end_to_end_project_spark.functions import text as TX
    from hospital_data_engineering_pipeline_end_to_end_project_spark.operators.parallelism import fan_out

    # balance the compact scans before the shingle row expansion (a
    # small parquet arrives as ONE partition and would shingle on one
    # core); the training side is the corpus, so this matters there
    # most, but the bench slice shingles serially too without it
    bench_sh = (
        fan_out(df.filter(is_bench).select(id_col, text_col), by=id_col)
        .select(F.explode(F.array_distinct(F.expr(TX.shingles(text_col, shingle_n)))).alias("s"))
        .distinct()
    )
    train_sh = fan_out(
        df.filter(~is_bench).select(id_col, text_col), by=id_col
    ).select(
        id_col,
        F.explode(F.array_distinct(F.expr(TX.shingles(text_col, shingle_n)))).alias("s"),
    )
    return (
        train_sh.join(F.broadcast(bench_sh), "s")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("long").alias("n_contaminated_shingles"))
    )


def tfidf_top_terms(
    docs: DataFrame,
    id_col: str,
    term_col: str,
    k: int = 3,
) -> DataFrame:
    """Top-k characteristic terms per document by tf-idf.

    ``docs`` must already be exploded to (id, term) rows (one per
    token occurrence).  Score = ``tf * (N + 1) / (df + 1)`` — the
    rational idf form: integer-valued numerator and denominator, one
    IEEE double division, so Spark and any SQL engine produce the
    identical float64 (``ln``-based idf differs in the last ulp across
    libms and breaks exact comparison; the ranking is the same).

    Shape: two shuffles (doc-term tf, then term df) + a term-keyed
    join; the df side is |vocab|-sized.  Deterministic top-k ties
    break on the term string.
    """
    tf = docs.groupBy(id_col, term_col).agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy(term_col).agg(F.count(F.lit(1)).alias("df"))
    # corpus size as a broadcast scalar, not a driver-side .count():
    # the whole plan stays one lazy job
    n_docs = docs.agg(F.countDistinct(id_col).alias("n_docs"))
    scored = (
        tf.join(dfreq, term_col)
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col(id_col),
            F.col(term_col),
            F.col("tf"),
            F.col("df"),
            (F.col("tf") * (F.col("n_docs") + 1) / (F.col("df") + 1)).alias("tfidf"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), F.asc(term_col))
    return (
        scored.withColumn("term_rank", F.row_number().over(w))
        .filter(F.col("term_rank") <= k)
    )


def fraction_bound(fraction: float) -> str | None:
    """Exclusive md5 hex-prefix upper bound for a sampling fraction,
    or None for fraction >= 1 (keep everything — a 5-hex-char bound
    would compare wrong lexicographically against 4-char buckets)."""
    if fraction >= 1.0:
        return None
    n_buckets = 16**SPLIT_PREFIX_LEN
    return format(int(fraction * n_buckets), f"0{SPLIT_PREFIX_LEN}x")


def stratified_sample(
    df: DataFrame,
    id_col: str,
    stratum_col: str,
    fractions: dict[str, float],
    salt: str = "",
) -> DataFrame:
    """Deterministic per-stratum sampling (corpus mixing).

    Keeps a row iff its md5-hex bucket falls under the stratum's
    fraction threshold; strata absent from ``fractions`` are dropped.
    Membership is a pure function of the id, so the mixture is
    reproducible across runs/engines and stable under re-sharding —
    the properties ``df.sampleBy`` (rand-based) cannot give a
    pretraining pipeline.  Narrow plan: filter + projection, no
    shuffle, predicate evaluated scan-side.
    """
    bucket = F.substring(
        F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string"))),
        1,
        SPLIT_PREFIX_LEN,
    )
    keep: Column | None = None
    for stratum, frac in fractions.items():
        bound = fraction_bound(frac)
        cond = F.lit(True) if bound is None else bucket < bound
        keep = (
            F.when(F.col(stratum_col) == stratum, cond)
            if keep is None
            else keep.when(F.col(stratum_col) == stratum, cond)
        )
    keep = keep.otherwise(F.lit(False)) if keep is not None else F.lit(False)
    return df.withColumn("bucket", bucket).filter(keep)


#: BM25 score for one (doc, term) pair, as ONE expression string
#: shared verbatim by the Spark plan (``selectExpr``) and the DuckDB
#: oracle — byte-identical text means byte-identical parse trees, so
#: both engines run the same sequence of correctly-rounded IEEE
#: double ops and produce the same float64 bit pattern.  The idf is
#: the log-free Robertson odds ratio ``(N - df + 0.5) / (df + 0.5)``:
#: the ``ln`` damping is omitted because libm ``ln`` differs in the
#: last ulp across engines (the same trade, documented, as
#: :func:`tfidf_top_terms`); within a term the ranking is identical.
#: All fractional literals are CAST(... AS DOUBLE) on both sides —
#: bare ``1.2`` parses as DECIMAL in both Spark and DuckDB and their
#: decimal arithmetic rules differ.
_BM25_SCORE_TMPL = (
    "({idf})"
    " * ((tf * CAST({k1p1} AS DOUBLE))"
    " / (tf + CAST({k1} AS DOUBLE)"
    " * (CAST({one_minus_b} AS DOUBLE)"
    " + CAST({b} AS DOUBLE) * (dl / avgdl))))"
)

#: Robertson odds ratio WITHOUT the log damping — the bit-exact
#: cross-engine default (see the deviation note on :func:`bm25_topk`).
_BM25_IDF_RAW = (
    "((n_docs - df + CAST(0.5 AS DOUBLE)) / (df + CAST(0.5 AS DOUBLE)))"
)

#: Standard (Lucene/Elasticsearch) idf: ``ln(1 + odds)``.  Correct
#: BM25 semantics, but libm ``ln`` differs across engines in the last
#: ulp, so oracles comparing it need a small tolerance, not bit
#: equality.
_BM25_IDF_LOG = f"ln(CAST(1 AS DOUBLE) + {_BM25_IDF_RAW})"

#: average document length as a shared expression: exact BIGINT
#: inputs, ONE correctly-rounded double division.
_BM25_AVGDL = "CAST(total_tokens AS DOUBLE) / n_docs"


def bm25_score_sql(
    k1: float = 1.2, b: float = 0.75, log_idf: bool = False
) -> str:
    """The per-(doc, term) BM25 scoring expression with ``k1``/``b``
    bound — exposed so oracles interpolate the identical text.

    ``log_idf=False`` (default) uses the log-free Robertson odds
    ratio; ``log_idf=True`` uses the standard Lucene ``ln(1 + odds)``
    idf (see the deviation note on :func:`bm25_topk`)."""
    return _BM25_SCORE_TMPL.format(
        idf=_BM25_IDF_LOG if log_idf else _BM25_IDF_RAW,
        k1p1=repr(k1 + 1.0),
        k1=repr(k1),
        one_minus_b=repr(1.0 - b),
        b=repr(b),
    )


def bm25_topk(
    docs: DataFrame,
    id_col: str,
    term_col: str,
    query_terms: tuple[str, ...],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    doc_lengths: DataFrame | None = None,
    log_idf: bool = False,
) -> DataFrame:
    """Top-k documents for a bag-of-terms query by BM25 (Robertson/
    Sparck Jones probabilistic ranking — the default lexical scorer in
    Lucene/Elasticsearch and the standard hard-negative miner /
    retrieval baseline in training-data pipelines).

    **DEVIATION FROM STANDARD BM25 (default scorer):** with the
    default ``log_idf=False`` the idf term is the RAW Robertson odds
    ratio ``(N - df + 0.5) / (df + 0.5)`` — the ``ln`` damping that
    Lucene/Elasticsearch apply is omitted so the score is a sequence
    of correctly-rounded IEEE ops reproducible bit-for-bit across
    engines (libm ``ln`` differs in the last ulp).  The consequence is
    real: at N=1e6 a df=1 term outweighs a df=500k term by ~1e6×
    instead of ~14×, so MULTI-term rankings can diverge materially
    from standard BM25 (per-term rankings are unaffected — the idf is
    constant within a term).  Pass ``log_idf=True`` for the standard
    Lucene ``ln(1 + odds)`` idf; compare those scores with a small
    tolerance, not bit equality.

    Zero-token documents (``dl = 0``) are EXCLUDED from the corpus
    statistics (``n_docs`` / ``total_tokens``) — the semantics a
    tokenize-and-explode pipeline produces naturally, applied here
    uniformly so a caller-supplied ``doc_lengths`` frame that kept
    empty docs agrees with the derived path.

    ``docs`` is exploded (id, term) rows, one per token occurrence.

    Scale shape: ONE corpus-wide pass builds per-doc lengths ``dl``;
    corpus stats (N, total tokens) reduce from ``dl`` — not a second
    scan — and enter the plan as a broadcast 1-row frame.  Term
    frequencies are computed only for rows matching ``query_terms``
    (an ``isin`` filter that reaches the scan), so the scored side is
    |docs containing a query term|, never the corpus; document
    frequencies are a |query|-row broadcast.  Per-doc combination
    pivots each term's score into a fixed column via ``max`` (each
    (doc, term) is unique post-aggregation, so ``max`` is just an
    order-insensitive pick) and sums the columns in FIXED textual
    order — a float ``sum()`` over term rows would be partial-order
    dependent and break the oracle hash.  Final top-k is
    ``ORDER BY .. LIMIT k`` (per-partition heaps, no global sort),
    rank attached over the k survivors.

    ``doc_lengths`` — optional pre-computed (id, dl) frame.  The
    default derives lengths by counting ``docs`` rows per id, which
    shuffles the full exploded corpus; a caller holding the raw text
    can supply ``size(tokens(text))`` instead (no explode, no
    shuffle) and pre-filter ``docs`` to the query terms — the only
    reason the full corpus would otherwise flow through here.
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    dl = (
        doc_lengths.select(F.col(id_col), F.col("dl"))
        if doc_lengths is not None
        else docs.groupBy(id_col).agg(F.count(F.lit(1)).alias("dl"))
    ).filter(F.col("dl") > 0)
    totals = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("total_tokens"),
    )
    tf = (
        docs.filter(F.col(term_col).isin(*query_terms))
        .groupBy(id_col, term_col)
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy(term_col).agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(F.broadcast(dfreq), term_col)
        .join(dl, id_col)
        .crossJoin(F.broadcast(totals))
        .withColumn("avgdl", F.expr(_BM25_AVGDL))
        .withColumn("score", F.expr(bm25_score_sql(k1, b, log_idf)))
    )
    pivots = [
        F.max(
            F.when(F.col(term_col) == t, F.col("score"))
        ).alias(f"__s{i}")
        for i, t in enumerate(query_terms)
    ]
    total = None
    for i in range(len(query_terms)):
        part = F.coalesce(F.col(f"__s{i}"), F.lit(0.0))
        total = part if total is None else total + part
    ranked = (
        scored.groupBy(id_col)
        .agg(*pivots)
        .withColumn("bm25", total)
        .select(id_col, "bm25")
        .orderBy(F.desc("bm25"), F.asc(id_col))
        .limit(k)
    )
    w = Window.orderBy(F.desc("bm25"), F.asc(id_col))
    return ranked.withColumn("rank", F.row_number().over(w).cast("long"))


def quality_filter(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    min_tokens: int = 20,
    max_punct: float = 0.2,
    min_stopword: float = 0.02,
    max_top_shingle: float = 0.10,
    shingle_n: int = 5,
) -> DataFrame:
    """Composite document quality filter (the Gopher / C4 rule-list
    shape): each doc gets a keep/drop verdict plus the FIRST failed
    rule as a ``reason``, so the filter is auditable — a corpus
    cleaner can report drop counts per rule, not just a pass rate.

    Rules, in fixed evaluation order (first failure wins):

    1. ``too_short``   — fewer than ``min_tokens`` whitespace tokens
    2. ``high_punct``  — punctuation chars > ``max_punct`` of chars
    3. ``low_stopword``— English stopword fraction < ``min_stopword``
       (fluent natural text always contains function words; its
       absence signals boilerplate/lists/code — the Gopher heuristic)
    4. ``repetitive``  — most frequent word ``shingle_n``-gram
       accounts for > ``max_top_shingle`` of all shingles

    Scale shape: rules 1-3 are pure Column expressions on the scan
    (codegen, no shuffle).  Rule 4 needs the per-doc top-shingle
    ratio — one explode + doc-keyed aggregation joined back by id;
    docs too short to shingle skip rule 4 (they fail rule 1 anyway
    when ``min_tokens >= shingle_n``).  All ratios are count/count
    divisions — single correctly-rounded IEEE ops any engine
    reproduces bit-for-bit, so the verdicts need no rounding or
    tolerance.
    """
    from hospital_data_engineering_pipeline_end_to_end_project_spark.functions import text as TX

    n_chars = F.length(text_col)
    punct = (
        n_chars - F.length(F.regexp_replace(F.col(text_col), r"[\.,;:!\?]", ""))
    ).cast("double") / n_chars
    # tokenize ONCE per row: the single-projection form re-ran the
    # split per reference (n_tokens + the stop ratio's numerator and
    # denominator = 3 linear splits/row); the bound __t column is a
    # cheap attribute, and CollapseProject keeps the projections
    # separate because the alias is non-cheap and multiply-referenced
    # (r15; the linear cousin of the r14 HOF-binding class)
    stop = f"CAST({TX.hits('__t', TX.LANG_STOPWORDS['en'])} AS DOUBLE) / size(__t)"
    base = docs.select(
        F.col(id_col), F.expr(TX.tokens(text_col)).alias("__t"), punct.alias("__punct")
    ).select(
        F.col(id_col),
        F.size("__t").cast("long").alias("n_tokens"),
        F.col("__punct"),
        F.expr(stop).alias("__stop"),
    )
    # shingling is a ~50x row expansion over an interpreted HOF: a
    # compact single-file scan would run it on ONE core — balance the
    # (id, text) rows across the cluster first (no-op when the scan
    # is already parallel)
    from hospital_data_engineering_pipeline_end_to_end_project_spark.operators.parallelism import fan_out

    rep = (
        fan_out(docs.select(F.col(id_col), F.col(text_col)), by=id_col)
        .select(
            F.col(id_col), F.explode(F.expr(TX.shingles(text_col, shingle_n))).alias("s")
        )
        .groupBy(id_col, "s")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy(id_col)
        .agg(
            (F.max("c").cast("double") / F.sum("c")).alias("__top_ratio")
        )
    )
    joined = base.join(rep, id_col, "left")
    top = F.coalesce(F.col("__top_ratio"), F.lit(0.0))
    reason = (
        F.when(F.col("n_tokens") < min_tokens, "too_short")
        .when(F.col("__punct") > max_punct, "high_punct")
        .when(F.col("__stop") < min_stopword, "low_stopword")
        .when(top > max_top_shingle, "repetitive")
    )
    return joined.select(
        F.col(id_col),
        F.col("n_tokens"),
        F.round("__punct", 6).alias("punct_ratio"),
        F.round("__stop", 6).alias("stopword_ratio"),
        F.round(top, 6).alias("top_shingle_ratio"),
        reason.alias("reason"),
        reason.isNull().alias("keep"),
    )


def temperature_resample(
    df: DataFrame,
    group_col: str,
    id_col: str,
    alpha: float = 0.5,
    salt: str = "",
) -> DataFrame:
    """Temperature-based corpus resampling (the multilingual
    pretraining mix: XLM/mT5-style ``q_g ∝ n_g^alpha`` with
    ``alpha < 1`` flattening the group distribution toward uniform).

    Implemented as a DETERMINISTIC downsample: every group's keep
    probability is scaled so the smallest group keeps 100% —
    ``keep_g = (n_g / n_min)^(alpha - 1)`` — and each row's verdict is
    a pure function of its id (md5-bucket < per-group bound), so the
    sample is reproducible across runs, engines, and re-shards, and a
    re-run with one more group never re-rolls existing rows within an
    unchanged group.

    Physical shape: one group-count aggregation (tiny — |groups|
    rows), a 1-row global min broadcast into it, and ONE broadcast
    join of the per-group keep probabilities back onto the corpus —
    the corpus itself is touched once and never shuffles.

    Cross-engine exactness: with the default ``alpha = 0.5`` the keep
    probability is ``sqrt(n_min / n_g)`` — a correctly-rounded IEEE
    division and square root, bit-identical in any engine — and the
    bucket comparison renders the bound as a zero-padded hex string
    (Spark ``hex`` / DuckDB ``to_hex``), so the q94 oracle replays
    verdicts exactly.  Any other ``alpha`` routes through ``pow``,
    whose libm rounding is engine-specific — fine for production, not
    for bit-exact oracles (same trade as the BM25 idf).

    Adds ``keep_prob`` (rounded for display) and ``is_kept``; rows are
    NOT filtered, so callers can audit both sides of the verdict.
    """
    n_buckets = 16**SPLIT_PREFIX_LEN
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("__n"))
    nmin = counts.agg(F.min("__n").alias("__nmin"))
    if alpha == 0.5:
        keep = F.sqrt(F.col("__nmin").cast("double") / F.col("__n"))
    else:
        keep = F.pow(
            F.col("__n").cast("double") / F.col("__nmin"), F.lit(alpha - 1.0)
        )
    probs = counts.join(F.broadcast(nmin), F.lit(True)).select(
        F.col(group_col), keep.alias("__keep")
    )
    bucket = F.substring(
        F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string"))),
        1,
        SPLIT_PREFIX_LEN,
    )
    # the bound is formatted IN-PLAN (it is data-derived, unlike
    # hash_split's driver-known thresholds); keep >= 1.0 short-circuits
    # because its 5-hex-char bound would compare lexicographically
    # below most 4-char buckets
    bound = F.lpad(
        F.lower(F.hex(F.floor(F.col("__keep") * n_buckets).cast("bigint"))),
        SPLIT_PREFIX_LEN,
        "0",
    )
    kept = F.when(F.col("__keep") >= 1.0, F.lit(True)).otherwise(
        bucket < bound
    )
    # NULL-SAFE group join: groupBy counts a NULL group like any
    # other, so a null-rejecting equi-join here would silently drop
    # every NULL-group row (while their count still skewed n_min) —
    # breaking the "rows are NOT filtered" audit contract
    probs = probs.withColumnRenamed(group_col, "__g")
    return (
        df.join(
            F.broadcast(probs),
            F.col(group_col).eqNullSafe(F.col("__g")),
        )
        .withColumn("keep_prob", F.round("__keep", 6))
        .withColumn("is_kept", kept)
        .drop("__keep", "__g")
    )


def boilerplate_stats(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    hot_df: int = 50,
) -> DataFrame:
    """Corpus-level boilerplate exposure per document: the fraction of
    a doc's distinct word n-grams that are corpus-frequent (document
    frequency >= ``hot_df``) — the RefinedWeb/C4 "frequent line
    removal" signal generalized to n-grams (this corpus has no line
    structure).  A doc made of navigation chrome / license headers
    scores near 1; original prose near 0.

    Document frequency comes from ``groupBy(s).count()`` — NOT a
    ``count(*) OVER (PARTITION BY s)`` window (the r08 shape):
    boilerplate shingles are by definition the hottest keys in the
    corpus, a window partition cannot be split, so at 100 TB one
    license-header shingle would be billions of rows in a single
    task.  The groupBy's map-side partial aggregation absorbs the hot
    key before the shuffle.  Only the HOT shingle set (df >=
    ``hot_df`` — small by the boilerplate definition) flows back:
    per-doc hot counts come from a left-semi join of the stream
    against it (AQE-splittable, broadcastable when small), per-doc
    totals from a plain doc-keyed count, and the two doc-sized
    aggregates join at the end — the full per-shingle count frame is
    never attached to the exploded rows.  Values are identical to the
    window formulation, so the q95 oracle replays the window SQL
    unchanged.

    The exploded stream feeds three consumers (df counts, the
    semi-probe, per-doc totals), so it is materialized once
    (``operators/materialize.py``).  Docs shorter than ``shingle_n``
    tokens emit no shingles and are absent from the output (no ratio
    to report).
    """
    from hospital_data_engineering_pipeline_end_to_end_project_spark.functions import text as TX
    from hospital_data_engineering_pipeline_end_to_end_project_spark.operators.parallelism import fan_out

    ex = fan_out(docs.select(F.col(id_col), F.col(text_col)), by=id_col).select(
        F.col(id_col),
        F.explode(F.array_distinct(F.expr(TX.shingles(text_col, shingle_n)))).alias(
            "s"
        ),
    )
    ex = materialize(ex)
    hot = (
        ex.groupBy("s")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") >= hot_df)
        .select("s")
    )
    totals = ex.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_shingles")
    )
    hots = (
        ex.join(hot, "s", "left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("__nh"))
    )
    return (
        totals.join(hots, id_col, "left")
        .select(
            F.col(id_col),
            "n_shingles",
            F.coalesce(F.col("__nh"), F.lit(0)).cast("long").alias("n_hot"),
            F.round(
                F.coalesce(F.col("__nh"), F.lit(0)).cast("double")
                / F.col("n_shingles"),
                6,
            ).alias("boilerplate_ratio"),
        )
    )


def _positional_grams(frame: DataFrame, id_col: str, gram_k: int) -> DataFrame:
    """``(id, pos, g)`` — every k-token gram of every doc WITH its
    start offset (overlapping, position-keyed — unlike the distinct
    shingle sets of the Jaccard family).  ``frame`` carries the token
    array as ``__t`` and is pre-filtered to ``size >= gram_k``
    (``sequence`` would run descending otherwise).  Shared by
    :func:`duplicated_passage_stats` and :func:`contamination_scrub`."""
    return frame.select(
        F.col(id_col),
        F.explode(
            F.expr(
                f"transform(sequence(0, size(__t) - {gram_k}), i -> "
                f"struct(i AS pos, concat_ws(' ', slice(__t, i + 1, {gram_k})) AS g))"
            )
        ).alias("__e"),
    ).select(id_col, "__e.pos", "__e.g")


def duplicated_passage_stats(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    gram_k: int = 5,
    min_count: int = 2,
) -> DataFrame:
    """Per-document duplicated-PASSAGE coverage: the fraction of a
    doc's token positions covered by at least one k-token gram that
    occurs ``min_count``-or-more times in the corpus — the
    exact-substring-duplication signal (the span-level complement of
    doc-level MinHash: it localizes how much of each doc is verbatim
    repeated text, which is what actually gets memorized).

    Unlike :func:`boilerplate_stats` (fraction of DISTINCT shingles
    that are corpus-hot), this measures POSITIONAL coverage with
    overlapping grams: every occurrence keeps its offset, duplicated
    occurrences become intervals ``[pos, pos + k)``, and per-doc
    coverage is the exact interval-union length — two abutting or
    overlapping duplicated passages never double-count.

    Plan shape (same de-skew grammar as ``boilerplate_stats``): one
    positional gram explode, ``groupBy(g).count()`` for corpus
    frequency (map-side combine absorbs hot grams — never a window
    over the gram), a left-semi probe to keep duplicated occurrences,
    then the interval union per doc via a bounded per-DOC window
    (running max of interval ends over preceding rows; partition size
    is one document's gram count).  All arithmetic is integer until
    the single final division, so the DuckDB oracle replays
    bit-for-bit.  Docs shorter than ``gram_k`` tokens emit no grams
    and are absent from the output.
    """
    from hospital_data_engineering_pipeline_end_to_end_project_spark.functions import text as TX
    from hospital_data_engineering_pipeline_end_to_end_project_spark.operators.parallelism import fan_out

    toks = docs.select(
        F.col(id_col), F.expr(TX.tokens(text_col)).alias("__t")
    ).filter(F.size("__t") >= gram_k)
    grams = materialize(
        _positional_grams(fan_out(toks, by=id_col), id_col, gram_k)
    )
    dup = (
        grams.groupBy("g")
        .agg(F.count(F.lit(1)).alias("__c"))
        .filter(F.col("__c") >= min_count)
        .select("g")
    )
    cov = grams.join(dup, "g", "left_semi")
    w = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    end = F.col("pos") + gram_k
    covered = (
        cov.withColumn("__prev_e", F.max(F.col("pos") + gram_k).over(w))
        .groupBy(id_col)
        .agg(
            F.sum(
                F.greatest(
                    F.lit(0),
                    end
                    - F.greatest(
                        F.coalesce(F.col("__prev_e"), F.col("pos")),
                        F.col("pos"),
                    ),
                )
            )
            .cast("long")
            .alias("__cov")
        )
    )
    totals = toks.select(
        F.col(id_col), F.size("__t").cast("long").alias("n_tokens")
    )
    return totals.join(covered, id_col, "left").select(
        F.col(id_col),
        "n_tokens",
        F.coalesce(F.col("__cov"), F.lit(0)).alias("n_dup_tokens"),
        F.round(
            F.coalesce(F.col("__cov"), F.lit(0)).cast("double")
            / F.col("n_tokens"),
            6,
        ).alias("dup_ratio"),
    )


def contamination_scrub(
    df: DataFrame,
    id_col: str,
    text_col: str,
    is_bench,
    gram_k: int = 5,
) -> DataFrame:
    """SURGICAL benchmark decontamination: instead of flagging or
    dropping whole training documents (:func:`contamination` / q55),
    remove exactly the token SPANS that collide with the benchmark —
    every token covered by a ``gram_k``-gram that appears anywhere in
    the benchmark slice is masked out, and the rest of the document
    survives.  The span-level policy keeps the ~99% of a lightly
    contaminated doc that doc-level dropping would throw away.

    Shape: benchmark k-grams (an eval suite — small by definition)
    broadcast into a left-semi probe of the training side's
    positional gram stream (:func:`_positional_grams` — the corpus
    never shuffles); hit intervals ``[pos, pos + k)`` explode to
    covered positions, collect per doc (order-independent: the set is
    only probed), and the cleaned text re-joins the surviving tokens.
    Returns every TRAINING row's ``(id, n_tokens, n_masked,
    clean_text)`` — zero-hit docs pass through with their tokens
    re-joined (single-space normalized, like every token-level
    operator here); benchmark rows are excluded from the output.
    """
    from hospital_data_engineering_pipeline_end_to_end_project_spark.functions import text as TX
    from hospital_data_engineering_pipeline_end_to_end_project_spark.operators.parallelism import fan_out

    bench_grams = (
        df.filter(is_bench)
        .select(F.explode(F.expr(TX.shingles(text_col, gram_k))).alias("g"))
        .distinct()
    )
    train = df.filter(~is_bench).select(
        F.col(id_col), F.expr(TX.tokens(text_col)).alias("__t")
    )
    grams = _positional_grams(
        fan_out(train.filter(F.size("__t") >= gram_k), by=id_col),
        id_col,
        gram_k,
    )
    hits = grams.join(F.broadcast(bench_grams), "g", "left_semi")
    cov = (
        hits.select(
            F.col(id_col),
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + (gram_k - 1))
            ).alias("p"),
        )
        .distinct()
        .groupBy(id_col)
        .agg(F.collect_set("p").alias("__cov"))
    )
    joined = train.join(cov, id_col, "left").withColumn(
        "__cov", F.coalesce(F.col("__cov"), F.array().cast("array<int>"))
    )
    return joined.select(
        F.col(id_col),
        F.size("__t").cast("long").alias("n_tokens"),
        F.size("__cov").cast("long").alias("n_masked"),
        F.expr(
            "array_join(filter(__t, (__kx, __ki) -> NOT array_contains(__cov, __ki)), ' ')"
        ).alias("clean_text"),
    )


def source_divergence(
    docs: DataFrame,
    group_col: str,
    text_col: str,
) -> DataFrame:
    """Per-group total-variation distance between the group's token
    distribution and the corpus-wide one — the data-mixing diagnostic
    that flags a source/shard whose text distribution drifted (dup
    floods, template spam, language shifts) before it skews training.

    TVD(s) = 1/2 * Σ_t |p_s(t) - p(t)| over the FULL vocabulary,
    including tokens the group never emits.  Computed with exact
    integer cross-multiplication — ``Σ_t |c_st*T - C_t*T_s|`` plus the
    missing-token term ``T_s*(T - Σ_{t∈s} C_t)`` — so the whole
    reduction is integer-exact and order-independent; the ONLY
    floating-point step is the final single division, which both
    engines round identically (operands stay under 2^53 here; at true
    corpus scale swap the final step to decimal division and accept
    engine-specific last-digit rounding).

    Shape: ONE corpus pass (explode + (group, token) count), then the
    count frame — vocabulary-sized, text-free — is materialized once
    and every downstream reduction (token totals, group totals, the
    cross-multiplied numerator) derives from it; without the
    materialization the three consumers would each re-tokenize the
    corpus (the AQE multi-branch reuse failure, same as the dedup
    indexes).
    """
    from hospital_data_engineering_pipeline_end_to_end_project_spark.functions import text as TX
    from hospital_data_engineering_pipeline_end_to_end_project_spark.operators.parallelism import fan_out

    # round-robin fan_out: ``by=group_col`` would collapse the
    # expansion onto |groups| partitions (groups are few by
    # definition); the (group, token) aggregate's map-side combine
    # absorbs the scattered groups
    tok = fan_out(docs.select(F.col(group_col), F.col(text_col))).select(
        F.col(group_col), F.explode(F.expr(TX.tokens(text_col))).alias("t")
    )
    c_st = materialize(
        tok.groupBy(group_col, "t").agg(F.count(F.lit(1)).alias("c"))
    )
    c_t = c_st.groupBy("t").agg(F.sum("c").alias("ct"))
    totals = c_t.agg(F.sum("ct").alias("bigT"))
    per_group = (
        c_st.join(c_t, "t")
        .groupBy(group_col)
        .agg(
            F.sum("c").alias("ts"),
            F.sum(F.col("ct")).alias("ct_in"),
        )
    )
    # |present| term needs bigT and ts bound per row of c_st: join the
    # group totals back (small), broadcast the 1-row grand total
    present = (
        c_st.join(c_t, "t")
        .join(F.broadcast(per_group.select(group_col, "ts")), group_col)
        .crossJoin(F.broadcast(totals))
        .groupBy(group_col)
        .agg(
            F.sum(
                F.abs(
                    F.col("c") * F.col("bigT") - F.col("ct") * F.col("ts")
                )
            ).alias("num_present")
        )
    )
    return (
        per_group.join(present, group_col)
        .crossJoin(F.broadcast(totals))
        .select(
            F.col(group_col),
            F.col("ts").alias("n_tokens"),
            F.round(
                (
                    F.col("num_present")
                    + F.col("ts") * (F.col("bigT") - F.col("ct_in"))
                ).cast("double")
                / (F.lit(2.0) * F.col("ts") * F.col("bigT")),
                6,
            ).alias("tvd"),
        )
    )


def token_budget_mix(
    df: DataFrame,
    group_col: str,
    id_col: str,
    token_col: str,
    budget: int,
) -> DataFrame:
    """Token-budgeted corpus mix: per group, keep documents in
    deterministic ``(md5(id), id)`` order while the running token
    total stays within ``budget`` — the "cut each source to its token
    quota" step of assembling a pretraining mix (the budget usually
    comes from a mix-weights solve; here it is the caller's number).

    Semantics are the greedy PREFIX: a document is kept iff the
    cumulative token count through itself (in hash order) is
    <= budget.  A large document at the boundary blocks later small
    ones — a deliberate, replayable definition (knapsack-style
    backfill would be order-dependent in a way no engine replays
    cheaply).

    The naive form is one prefix-sum window ``PARTITION BY group
    ORDER BY md5`` — a per-group TOTAL SORT, the exact hot-key shape
    the KMV/boilerplate rewrites removed elsewhere in this repo.
    This implementation is the two-phase quota cut, and its output
    is IDENTICAL BY CONSTRUCTION because the md5-prefix bucket IS a
    prefix of the sort key (ordering by (bucket, md5, id) == ordering
    by (md5, id)):

    1. per (group, 256-way md5-prefix bucket) token totals — one
       map-side-combinable aggregate;
    2. bucket-level prefix sums per group — a <= 256-row window per
       group, bounded regardless of corpus size;
    3. buckets whose inclusive prefix fits the budget are kept WHOLE
       (semi join, no per-doc ordering work); buckets past the budget
       are dropped whole; exactly ONE boundary bucket per group —
       where the budget lands — gets the per-document prefix-sum
       window, over ~1/256 of the group's rows.

    So the only per-document ordered work is the boundary bucket, and
    the oracle replays the ONE-LEVEL definition (a single window) —
    the same prove-by-identity pattern as the two-level KMV sketch.

    Returns kept rows ``(group_col, id_col, token_col)``.
    """
    h = F.md5(F.col(id_col).cast("string"))
    d = df.select(
        F.col(group_col),
        F.col(id_col),
        F.col(token_col).cast("long").alias("__tok"),
        h.alias("__h"),
        F.conv(F.substring(h, 1, 2), 16, 10).cast("int").alias("__b"),
    )
    bt = d.groupBy(group_col, "__b").agg(F.sum("__tok").alias("__bt"))
    w_b = (
        Window.partitionBy(group_col)
        .orderBy("__b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    bt = bt.withColumn(
        "__cum_excl", F.coalesce(F.sum("__bt").over(w_b), F.lit(0))
    )
    full = bt.filter(F.col("__cum_excl") + F.col("__bt") <= budget).select(
        group_col, "__b"
    )
    # <= (not <): when a bucket's exclusive prefix EQUALS the budget,
    # zero-token docs at its head still satisfy the one-level
    # definition (cum <= budget) and must get the per-doc window —
    # dropping the bucket whole would diverge from the oracle on
    # empty-text documents.  Still at most ONE boundary bucket per
    # group: any bucket after it has cum_excl > budget (its __bt > 0),
    # and zero-total buckets never match (__bt = 0 fails the right
    # inequality — they are kept whole by the filter above).
    boundary = bt.filter(
        (F.col("__cum_excl") <= budget)
        & (F.col("__cum_excl") + F.col("__bt") > budget)
    ).select(group_col, "__b", "__cum_excl")

    kept_whole = d.join(full, [group_col, "__b"], "left_semi")
    w_d = (
        Window.partitionBy(group_col)
        .orderBy("__h", id_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    kept_boundary = (
        d.join(boundary, [group_col, "__b"])
        .withColumn("__cum", F.col("__cum_excl") + F.sum("__tok").over(w_d))
        .filter(F.col("__cum") <= budget)
        .select(group_col, id_col, "__tok", "__h", "__b")
    )
    return (
        kept_whole.select(group_col, id_col, "__tok")
        .union(kept_boundary.select(group_col, id_col, "__tok"))
        .select(
            group_col, id_col, F.col("__tok").alias(token_col)
        )
    )


def bigram_fluency(
    df: DataFrame,
    id_col: str,
    text_col: str,
    round_scale: int = 6,
) -> DataFrame:
    """Corpus-conditioned bigram fluency score per document: the
    arithmetic mean of ``p(w_i | w_{i-1})`` over the document's
    bigrams, where the conditional is the corpus's own maximum-
    likelihood estimate ``count(w_{i-1}, w_i) / count(w_{i-1}, *)``.
    The statistical-fluency quality signal of a training-data
    pipeline (gibberish and boilerplate-shuffled text score low; text
    whose transitions look like the corpus scores high) in its
    RATIONAL form — an arithmetic mean of count ratios, deliberately
    no log-perplexity so there is no libm call to diverge cross-engine
    (the repo's no-libm oracle rule).

    Exactness: each probability is ONE correctly-rounded division of
    two int64 counts; the per-document sum folds those doubles in
    POSITION order (``array_sort`` on the collected (pos, num, den)
    structs, then a sequential ``aggregate`` fold — the same chain
    DuckDB replays with ``list_sum`` over a position-ordered list),
    and the mean is one final division, rounded.

    Scale shape: the bigram and prefix count frames are plain
    map-side-combinable groupBys (the hot word "the" is combined per
    partition, never collected); the two count joins are equi-joins
    AQE can skew-split; the only per-document state is the collected
    bigram list — bounded by document length, the same bound every
    chunker in this file already relies on.  No UDF anywhere.

    Returns ``(id_col, n_bigrams, fluency)`` for documents with at
    least one bigram (>= 2 tokens).
    """
    from hospital_data_engineering_pipeline_end_to_end_project_spark.functions import text as TX

    toks = df.select(
        F.col(id_col), F.expr(TX.tokens(text_col)).alias("__t")
    ).filter(F.size("__t") >= 2)
    bg = toks.select(
        id_col,
        F.posexplode(
            F.arrays_zip(
                F.slice(F.col("__t"), 1, F.size("__t") - 1).alias("prev"),
                F.slice(F.col("__t"), 2, F.size("__t") - 1).alias("cur"),
            )
        ).alias("__pos", "__bg"),
    ).select(
        id_col,
        "__pos",
        F.col("__bg.prev").alias("__prev"),
        F.col("__bg.cur").alias("__cur"),
    )
    bgc = bg.groupBy("__prev", "__cur").agg(
        F.count(F.lit(1)).cast("long").alias("__num")
    )
    pc = bg.groupBy("__prev").agg(
        F.count(F.lit(1)).cast("long").alias("__den")
    )
    joined = bg.join(bgc, ["__prev", "__cur"]).join(pc, ["__prev"])
    return (
        joined.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.expr("array_sort(collect_list(struct(__pos, __num, __den)))").alias("__ps"),
        )
        .select(
            id_col,
            "n_bigrams",
            F.round(
                F.expr(
                    "aggregate(__ps, CAST(0.0 AS DOUBLE), (acc, x) -> "
                    "acc + CAST(x.__num AS DOUBLE) / CAST(x.__den AS DOUBLE))"
                )
                / F.col("n_bigrams").cast("double"),
                round_scale,
            ).alias("fluency"),
        )
    )


def deterministic_reservoir(
    df: DataFrame,
    group_col: str,
    id_col: str,
    k: int,
) -> DataFrame:
    """Deterministic per-group ``k``-sample — the reservoir-sampling
    use case (fixed-size representative draw per stratum for eval
    sets, spot-checks, per-source quota fills) made replayable: the
    "random" order is ``(md5(id), id)``, so every engine and every
    retry draws the SAME k rows, and the draw composes with the
    repo's hash-split/stratified-sample family (disjoint md5 prefixes
    never correlate two draws).

    Unlike :func:`stratified sampling <hash_split>` by RATE, the
    output size per group is exactly ``min(k, |group|)`` regardless
    of group skew — the property an eval-set builder needs.  The rank
    runs on the salted two-level top-k (``operators/skew.py``), so a
    mega-group costs no single-task sort; output is identical to the
    one-level window by the subset identity under the total
    ``(md5(id), id)`` order, which is exactly what the oracle replays.

    Returns ``(group_col, id_col, rank)`` with rank in [1, k] by hash
    order.
    """
    from hospital_data_engineering_pipeline_end_to_end_project_spark.operators.skew import salted_grouped_topk

    d = df.select(
        group_col,
        id_col,
        F.md5(F.col(id_col).cast("string")).alias("__h"),
    )
    out = salted_grouped_topk(
        d, [group_col], "__h", id_col, k=k, descending=False
    )
    return out.select(
        group_col, id_col, F.col("rank").cast("long").alias("rank")
    )


def percentile_calibrate(
    df: DataFrame,
    group_col: str,
    value_col: str,
    *,
    pct_col: str = "pct",
) -> DataFrame:
    """Per-group empirical-CDF calibration: ``pct = cume_dist() OVER
    (PARTITION BY group ORDER BY value)`` — the mix-curation step
    that puts heterogeneous sources' quality scores on a common
    [0, 1] scale before a GLOBAL threshold (so no source dominates a
    corpus cut just because its raw score distribution sits higher).

    NOT a per-group rank window: ``cume_dist`` over a source
    partition colocates and sorts the source's entire document set
    in one task — the per-group total-sort trap (a handful of
    sources = a handful of giant unsplittable window partitions).
    This is the value-domain form (the q49 order-statistics
    identity): aggregate to (group, value) counts — map-side
    combinable, absorbs any hot value — then one running total over
    the DISTINCT-VALUE frame (bounded by the value domain, e.g. a
    few hundred distinct token counts, regardless of corpus size)
    and an equi-join back.  ``cume_dist`` of a row with ties is the
    count of rows <= its value, so the (group, value)-level cumsum
    is VALUE-IDENTICAL to the row-level window.

    Exactness: integer counts end-to-end, one correctly-rounded
    division per row; round-6 so downstream threshold compares are
    engine-portable.  Appends ``pct_col``.
    """
    vc = df.groupBy(group_col, value_col).agg(F.count(F.lit(1)).alias("__c"))
    w = (
        Window.partitionBy(group_col)
        .orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = vc.withColumn("__cum", F.sum("__c").over(w)).drop("__c")
    n = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("__gn"))
    return (
        df.join(cum, [group_col, value_col])
        .join(F.broadcast(n), group_col)
        .withColumn(
            pct_col,
            F.round(
                F.col("__cum").cast("double") / F.col("__gn").cast("double"), 6
            ),
        )
        .select(*df.columns, pct_col)
    )


def token_gini(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Per-document token diversity: Gini impurity of the unigram
    distribution, ``1 - sum(c_i^2)/n^2`` — a distribution-WIDE
    repetitiveness signal (near 0 = one token dominates / spam,
    near 1 = diverse prose).  Complements :func:`quality_filter`'s
    top-shingle ratio (a max-statistic) and stays libm-free where
    Shannon entropy would need ``ln``: Gini is rational — integer
    token counts, integer sum of squares, ONE final division — so
    it replays bit-for-bit on any engine.

    Scale shape: explode -> groupBy (doc, token) -> groupBy doc, both
    map-side combinable, group keys include the doc id so partitions
    are bounded by document length (no corpus-level hot key).  Sum of
    squares fits a long: c <= n <= document length, so ``sum(c^2) <=
    n^2`` — ~10^8 for a 10^4-token doc, far under 2^63.  Zero-token
    documents emit nothing (no distribution to score).

    Output: ``id_col, n_tokens, n_distinct, distinct_ratio, gini``.
    """
    from hospital_data_engineering_pipeline_end_to_end_project_spark.functions import text as TX

    tok = df.select(
        F.col(id_col), F.explode(F.expr(TX.tokens(text_col))).alias("__t")
    )
    c = F.col("__c")
    per = tok.groupBy(id_col, "__t").agg(F.count(F.lit(1)).alias("__c"))
    agg = per.groupBy(id_col).agg(
        F.sum(c).cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
        F.sum(c * c).cast("long").alias("__ssq"),
    )
    n = F.col("n_tokens")
    return agg.select(
        id_col,
        "n_tokens",
        "n_distinct",
        F.round(
            F.col("n_distinct").cast("double") / n.cast("double"), 6
        ).alias("distinct_ratio"),
        F.round(
            (n * n - F.col("__ssq")).cast("double") / (n * n).cast("double"), 6
        ).alias("gini"),
    )


def leakage_free_split(
    df: DataFrame,
    labels: DataFrame,
    id_col: str,
    weights: dict[str, float] | None = None,
    salt: str = "",
) -> DataFrame:
    """Cluster-aware train/val/test split — :func:`hash_split` with
    the near-dup CLUSTER as the split unit, closing the leakage hole
    a per-document split leaves open: a test document whose near-twin
    sits in train is evaluation contamination no decontamination scrub
    catches, because both copies are legitimately in-corpus.  Every
    member of a cluster hashes the same unit key (its label), so a
    cluster lands in exactly one split by construction; documents
    with no near-dup anywhere (absent from ``labels``) fall back to
    their own id — for them the per-doc split IS leakage-free.

    ``labels`` is ``(node, label)`` from
    :func:`~hospital_data_engineering_pipeline_end_to_end_project_spark.operators.components.label_propagation_min`
    or connected components — the same table
    :func:`~hospital_data_engineering_pipeline_end_to_end_project_spark.operators.components.incremental_labels`
    maintains per batch.  Stability under growth: labels are min ids,
    so with monotonically assigned doc ids a newly admitted member
    never lowers its cluster's label — it lands in the cluster's
    unchanged split, and only genuinely-new clusters roll fresh
    buckets.  When a batch doc BRIDGES two existing clusters the
    merged cluster takes the lower label and the higher-label side's
    documents move into its split — not an instability but the
    definition doing its job: a leakage-free split cannot leave one
    cluster straddling two splits, so one side must move, and
    hashing the (deterministic) min label picks which side once and
    reproducibly (pinned by ``test_leakage_free_split_merge_moves_
    one_side_coherently``).

    Cost: one equi-join against the label table + the q50 narrow
    projection — no extra shuffle beyond the join.  Adds ``unit``,
    ``bucket``, ``split``.
    """
    unit = (
        df.join(
            labels.select(
                F.col("node").alias(id_col), F.col("label").alias("__lbl")
            ),
            id_col,
            "left",
        )
        .withColumn(
            "unit", F.coalesce(F.col("__lbl"), F.col(id_col)).cast("long")
        )
        .drop("__lbl")
    )
    return hash_split(unit, "unit", weights, salt)


def weighted_minhash_sample(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    k: int,
    unit: int = 8,
    salt: str = "",
) -> DataFrame:
    """Weight-proportional sample WITHOUT replacement — deterministic
    bottom-k minwise hashing over unit copies.

    The curation move behind "sample 10M docs for annotation,
    preferring longer / higher-quality ones": each row gets
    ``copies = 1 + weight div unit`` virtual tickets, every ticket
    draws the md5-hex key ``md5(salt || id || ':' || ticket)``, the
    row keeps its MINIMUM key, and the sample is the k smallest keys
    (ties broken by id).  Duplicating a row c times and taking the
    min of c uniform draws is the classic exact reduction of
    weight-proportional-without-replacement to bottom-k sampling —
    and unlike ``rand()`` weighting it is a pure function of
    (salt, id, weight), so the sample is reproducible across runs,
    engines, and re-shards, and any node can answer "is row X in the
    sample?" without coordination.

    Everything is md5-hex STRING comparison (the repo's split/bucket
    parity pattern — no hex->int, no float pow/log whose libm
    rounding differs across engines).

    Scale shape: the ticket explode is ``sum(copies)`` rows — the
    same cost class as one tokenize pass (weights are quantized by
    ``unit`` precisely to keep it there); the per-row min is a
    map-side-combinable groupBy; the final cut is ``ORDER BY key
    LIMIT k``, which Spark executes as TakeOrderedAndProject (per-
    partition top-k + a k-row driver merge), never a full sort.

    Returns ``(id_col, wkey)`` for the k sampled rows.
    """
    # clamp at one ticket: a zero/negative weight still participates
    # (uniformly) rather than producing a DESCENDING sequence() range
    copies = F.greatest(
        F.lit(1).cast("long"),
        (
            F.lit(1) + F.floor(F.col(weight_col).cast("long") / F.lit(unit))
        ).cast("long"),
    )
    tickets = df.select(
        F.col(id_col),
        F.explode(F.sequence(F.lit(0).cast("long"), copies - 1)).alias("_j"),
    )
    key = F.md5(
        F.concat(
            F.lit(salt),
            F.col(id_col).cast("string"),
            F.lit(":"),
            F.col("_j").cast("string"),
        )
    )
    per_row = tickets.select(id_col, key.alias("_k")).groupBy(id_col).agg(
        F.min("_k").alias("wkey")
    )
    return per_row.orderBy(F.asc("wkey"), F.asc(id_col)).limit(k)
