"""Deduplication operators for training-data pipelines.

Five strategies, cheapest to richest:

- exact: md5 over normalized text, hash-groupBy (one shuffle)
- fingerprint: md5 over the sorted distinct token set (order/dup
  insensitive)
- MinHash + LSH: shingle -> keyed-md5 min signature -> banding ->
  bucket self-join; candidate pairs only ever compare within a bucket,
  so cost is sum of bucket sizes squared, not n^2 — the 100 TB path
- SimHash: per-bit majority over token hashes; near-dups differ in
  few bits (Hamming ball lookup)
- n-gram Jaccard: exact set similarity, used to confirm LSH candidates

All hashing is md5-derived => deterministic and engine-portable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hospital_data_engineering_pipeline_end_to_end_project_spark.functions import text as TX
from hospital_data_engineering_pipeline_end_to_end_project_spark.functions.sqltext import bind
from hospital_data_engineering_pipeline_end_to_end_project_spark.operators.materialize import materialize
from hospital_data_engineering_pipeline_end_to_end_project_spark.operators.parallelism import fan_out


def normalize_text(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.lower(F.trim(F.regexp_replace(c, r"\s+", " ")))


def exact_dup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-doc content hash + copy count; ``n_copies > 1`` marks exact
    duplicate groups.

    groupBy + join-back rather than ``count(*) OVER (PARTITION BY
    hash)``: the count's hot key is BY DEFINITION the most-duplicated
    text in the corpus, a window partition cannot be split by AQE,
    and a boilerplate page copied 10^8 times would be one task.  The
    aggregate map-side combines the hot group away and the join back
    is AQE-skew-splittable; values are identical (the same trick as
    q95's boilerplate de-skew)."""
    h = F.md5(normalize_text(text_col)).alias("text_hash")
    d = df.select(F.col(id_col), h)
    counts = d.groupBy("text_hash").agg(F.count(F.lit(1)).alias("n_copies"))
    return d.join(counts, "text_hash").select(id_col, "text_hash", "n_copies")


def keep_first_exact(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep the lowest-id representative of each exact-dup group.

    min-aggregate + two-column equi-join rather than
    ``row_number() OVER (PARTITION BY hash)``: the window form
    colocates every copy of the most-duplicated text in one task
    (see :func:`exact_dup_groups`).  ``min(id)`` map-side combines;
    the join keys on (hash, id) — BOTH columns — so even the hottest
    duplicate group spreads across the id dimension in the exchange,
    and exactly one row per group survives."""
    d = df.withColumn("__h", F.md5(normalize_text(text_col)))
    firsts = d.groupBy("__h").agg(F.min(F.col(id_col)).alias("__min_id"))
    return (
        d.alias("d")
        .join(
            firsts.alias("f"),
            (F.col("d.__h") == F.col("f.__h"))
            & (F.col(f"d.{id_col}") == F.col("f.__min_id")),
        )
        .select(*[f"d.{c}" for c in df.columns])
    )


#: affine universal-hash family for one-hash MinHash: member hash j is
#: ``(A[j]*h + B[j]) mod P`` over the md5-derived base value.  P is the
#: largest 32-bit prime; A/B are odd primes < 2^30 so ``A*h`` stays
#: under 2^62 — no overflow in either engine's signed 64-bit multiply
#: (DuckDB errors on BIGINT overflow rather than wrapping).
MINHASH_P = 4294967291
MINHASH_A = (
    1000000007, 998244353, 754974721, 167772161,
    469762049, 1004535809, 715827883, 536870909,
)
MINHASH_B = (
    972663749, 386489309, 911382323, 787433101,
    655360001, 592951213, 354879467, 131071211,
)


def minhash_bands(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 5,
) -> DataFrame:
    """(id, band_id, band_hash) — the LSH index.

    Explode-aggregate formulation: shingles are exploded once and each
    (doc, shingle) row is hashed ONCE with md5; the ``num_hashes``
    member hashes are affine universal hashes of that base value
    (``(a_j*h + b_j) mod P``, the standard one-hash MinHash family) —
    integer multiply/add instead of ``num_hashes`` md5 passes over the
    shingle string, and the signature becomes ``num_hashes``
    map-side-combined LONG ``min`` aggregates in ONE groupBy (long
    mins also beat 32-char hex-string mins).  (The array-expression
    formulation recomputes the shingle array per signature entry after
    Catalyst's CollapseProject; at corpus scale the explode+partial-agg
    shape is also what bounds memory per row.)
    Docs too short to shingle get no bands (cannot near-dup-match).
    """
    rows_per_band = num_hashes // bands
    if num_hashes > len(MINHASH_A):
        raise ValueError(f"num_hashes > {len(MINHASH_A)} not parameterized")
    # shingling is a ~50x row expansion: balance the compact input
    # across cores first (no-op on an already-parallel scan)
    src = fan_out(df.select(F.col(id_col), F.col(text_col)), by=id_col)
    exploded = src.select(
        F.col(id_col), F.explode(F.expr(TX.shingles(text_col, shingle_n))).alias("s")
    )
    # 60 bits of the md5, reduced mod P; conv()'s decimal string fits
    # a long.  Every op here exists verbatim in the DuckDB oracle.
    base = (
        F.conv(F.substring(F.md5("s"), 1, 15), 16, 10).cast("long")
        % MINHASH_P
    )
    hashed = exploded.select(id_col, base.alias("h"))
    sigs = hashed.groupBy(id_col).agg(
        *[
            F.min(
                (F.lit(MINHASH_A[j]) * F.col("h") + F.lit(MINHASH_B[j]))
                % MINHASH_P
            ).alias(f"sig{j}")
            for j in range(num_hashes)
        ]
    )
    band_cols = [
        F.md5(
            F.concat_ws(
                "|",
                F.lit(str(b)),
                *[
                    F.col(f"sig{b * rows_per_band + r}").cast("string")
                    for r in range(rows_per_band)
                ],
            )
        ).alias(f"band{b}")
        for b in range(bands)
    ]
    return sigs.select(
        F.col(id_col),
        F.posexplode(F.array(*band_cols)).alias("band_id", "band_hash"),
    )


def near_dup_candidates(
    bands_df: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Distinct candidate pairs (a < b) sharing any LSH band.

    The self-join key is (band_id, band_hash): shuffle co-locates each
    bucket, pair fan-out is per-bucket — the property that keeps this
    sub-quadratic at corpus scale.

    The band frame is materialized once (the LSH index build, see
    ``operators/materialize.py``):
    Catalyst does not reuse the banding subtree across the two join
    branches when AQE broadcasts one side, so without it the whole
    shingle+MinHash pipeline runs twice.
    """
    bands_df = materialize(bands_df)
    a = bands_df.alias("a")
    b = bands_df.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


def jaccard_pair_counts(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
) -> DataFrame:
    """Exact INTEGER shingle-set sizes for candidate pairs:
    ``(id_a, id_b, n_inter, n_union)``.  The integer form is the
    parity-proof primitive — a similarity threshold becomes a
    cross-multiplication (``n_inter * den >= n_union * num``) with no
    float rounding surface at all; :func:`jaccard_pairs` derives the
    rounded ratio from it for human-facing output."""
    # balance the compact scan first: the shingle HOF otherwise runs
    # in the scan stage, serially for a single-file input
    sh = fan_out(df.select(F.col(id_col), F.col(text_col)), by=id_col).select(
        F.col(id_col),
        F.array_distinct(F.expr(TX.shingles(text_col, shingle_n))).alias("sh"),
    )
    a = sh.alias("a")
    b = sh.alias("b")
    joined = (
        pairs.join(a, pairs.id_a == F.col(f"a.{id_col}"))
        .join(b, pairs.id_b == F.col(f"b.{id_col}"))
    )
    inter = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh")))
    union = F.size(F.col("a.sh")) + F.size(F.col("b.sh")) - inter
    return joined.select(
        "id_a",
        "id_b",
        inter.cast("long").alias("n_inter"),
        union.cast("long").alias("n_union"),
    )


def jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
) -> DataFrame:
    """Exact n-gram Jaccard for candidate pairs (verification stage
    after LSH).  Shingle sets are deduped before set math."""
    counts = jaccard_pair_counts(df, pairs, id_col, text_col, shingle_n)
    return counts.select(
        "id_a",
        "id_b",
        F.round(
            F.col("n_inter").cast("double") / F.col("n_union"), 6
        ).alias("jaccard"),
    )


def _sparse_pair_counts(
    df: DataFrame,
    id_col: str,
    text_col: str,
    key_col: str,
    shingle_n: int,
    df_max: int | None,
) -> DataFrame:
    """Shared sparse-set intersection pipeline of
    :func:`jaccard_within_key` and :func:`containment_pairs`:
    ``(id_a, id_b, n_inter, n_a, n_b)`` for every within-key doc pair
    with at least one shared (surviving) shingle — id_a < id_b, set
    sizes counted BEFORE any pruning.  See the public wrappers for
    the measure semantics and the ``df_max`` trade."""
    exploded = fan_out(df.select(id_col, key_col, text_col), by=id_col).select(
        F.col(id_col),
        F.col(key_col),
        F.explode(F.array_distinct(F.expr(TX.shingles(text_col, shingle_n)))).alias("s"),
    )
    # one pass over the exploded stream computes BOTH per-doc set size
    # (window over the doc) and per-(key, shingle) document frequency
    # (window over the shingle) — n_sh then rides along through the
    # self-join, so the corpus is shingled once instead of four times
    # (two join sides + two size-lookup joins in the naive shape).
    # Window order matters: the (key, s) window runs last so its
    # shuffle IS the join partitioning, and the two identical join
    # sides collapse into one ReusedExchange.
    exploded = exploded.withColumn(
        "n_sh", F.count(F.lit(1)).over(Window.partitionBy(id_col))
    ).withColumn(
        "__n", F.count(F.lit(1)).over(Window.partitionBy(key_col, "s"))
    )
    # co-occurrence pruning: a shingle seen in only one doc of a key
    # can never contribute to an intersection — drop it before the
    # self-join; with df_max also drop the hot ones (see above).
    # Per-doc sizes are already bound to each row, so pruning never
    # changes a surviving pair's union term.
    keep = F.col("__n") > 1
    if df_max is not None:
        keep = keep & (F.col("__n") <= df_max)
    # materialize the pruned shingle stream once: both join sides read
    # it (the AQE hazard in operators/materialize.py)
    exploded = materialize(exploded.filter(keep).drop("__n"))
    a, b = exploded.alias("a"), exploded.alias("b")
    inter = (
        a.join(
            b,
            (F.col(f"a.{key_col}") == F.col(f"b.{key_col}"))
            & (F.col("a.s") == F.col("b.s"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_inter"),
            F.min("a.n_sh").alias("n_a"),
            F.min("b.n_sh").alias("n_b"),
        )
    )
    return inter


def jaccard_within_key(
    df: DataFrame,
    id_col: str,
    text_col: str,
    key_col: str,
    shingle_n: int = 3,
    df_max: int | None = None,
) -> DataFrame:
    """All within-key pair Jaccard similarities via sparse-set
    intersection: explode distinct shingles, equi-join on
    (key, shingle), count shared shingles per pair, derive the union
    from per-doc set sizes.  Only intersecting pairs materialize, and
    work scales with shingle co-occurrence — the corpus-scale
    formulation (the array-intersect cross-pair form ships whole
    shingle arrays through the join and compares them pairwise).

    ``df_max`` caps per-key shingle document frequency: a shingle
    shared by d docs fans out d^2/2 join rows, so one hot boilerplate
    shingle is a quadratic blow-up on its key.  Capping drops such
    shingles from the intersection (per-doc set sizes keep counting
    them), the standard MinHash-pipeline trade: jaccard is slightly
    under-counted for pairs sharing capped shingles, and pairs whose
    ONLY shared shingles are capped disappear.  ``None`` = exact.
    """
    inter = _sparse_pair_counts(df, id_col, text_col, key_col, shingle_n, df_max)
    return inter.select(
        "id_a",
        "id_b",
        F.round(
            F.col("n_inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
            6,
        ).alias("jaccard"),
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    key_col: str,
    threshold: float = 0.6,
    shingle_n: int = 3,
    df_max: int | None = None,
) -> DataFrame:
    """Asymmetric near-duplication: shingle-set containment
    ``C = |S_a ∩ S_b| / min(|S_a|, |S_b|)`` — the quote-inclusion /
    subset-document signal symmetric Jaccard systematically misses
    (a short doc fully embedded in a long one has
    ``J = |S_small| / |S_big| ~ 0`` but ``C = 1``; the classic
    example is a paragraph quoted inside an article, or a README
    pasted into a monorepo dump).  Standard corpus-curation
    diagnostic alongside MinHash Jaccard.

    Same sparse-intersection pipeline (and ``df_max`` hot-shingle
    trade) as :func:`jaccard_within_key`; only the final measure
    differs.  Returns ``(id_contained, id_container, containment)``
    for pairs at or above ``threshold``, oriented so ``id_contained``
    is the doc with the SMALLER shingle set (ties keep the lower id
    first — deterministic).
    """
    inter = _sparse_pair_counts(df, id_col, text_col, key_col, shingle_n, df_max)
    small_first = F.col("n_a") <= F.col("n_b")
    return (
        inter.select(
            F.when(small_first, F.col("id_a"))
            .otherwise(F.col("id_b"))
            .alias("id_contained"),
            F.when(small_first, F.col("id_b"))
            .otherwise(F.col("id_a"))
            .alias("id_container"),
            F.round(
                F.col("n_inter").cast("double")
                / F.least("n_a", "n_b"),
                6,
            ).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


def simhash16(col: str) -> Column:
    """16-bit SimHash from md5 nibbles of the tokens of the SQL text
    ``col``, as one expression.

    For bit ``i``: nibble = hex digit ``i DIV 4`` of md5(token),
    bit = ``(nibble >> (i mod 4)) & 1``; the simhash bit is set when
    the (+1/-1) balance over all tokens is strictly positive.
    16 bits keeps the expression tree codegen-friendly; at scale the
    same construction widens via an explode-aggregate formulation.
    The md5 array is BOUND so the 16 per-bit folds share one
    evaluation (each fold re-hashing every token would cost 16x).
    """
    bits = " + ".join(
        "CASE WHEN aggregate(__hx, 0, (__hacc, __h) -> __hacc + CASE WHEN"
        f" ((instr('0123456789abcdef', substring(__h, {i // 4 + 1}, 1)) - 1)"
        f" & {1 << (i % 4)}) != 0 THEN 1 ELSE -1 END) > 0 THEN {1 << i} ELSE 0 END"
        for i in range(16)
    )
    return F.expr(bind(f"transform({TX.tokens(col)}, __ht -> md5(__ht))", "__hx", bits))


#: Two's-complement value of a set bit 63 in a signed 64-bit long —
#: ``1 << 63`` itself overflows, so the top SimHash bit contributes
#: the (negative) min-long instead; XOR/bit_count hamming math is
#: unaffected by the signed interpretation.
_TOP_BIT_63 = -(1 << 63)


def simhash_agg(
    df: DataFrame, id_col: str, text_col: str, bits: int = 64
) -> DataFrame:
    """SimHash via explode + ``bits`` conditional sums in one groupBy.

    For bit ``i``: nibble = hex digit ``i DIV 4`` of md5(token), bit =
    ``(nibble >> (i mod 4)) & 1``; the simhash bit is set when the
    (+1/-1) balance over all tokens is strictly positive.  Each token
    is md5-hashed ONCE (the Column-expression form :func:`simhash16`
    re-evaluates the hash array per bit after projection collapsing)
    and the per-bit balances combine map-side, so the shuffle carries
    ``bits`` small ints per document.  Returns (id_col, simhash:long).

    Default width is 64 (16 of md5's 32 hex chars): 16-bit fingerprints
    birthday-collide around ~10^4 documents, far below corpus scale,
    while 64 bits distinguishes ~10^9 docs and still fits one long —
    hamming distance stays a single ``bit_count(a ^ b)``.  Bit 63 maps
    to the sign bit of the long (two's complement); the DuckDB oracle
    replays the identical signed arithmetic.
    """
    if not 1 <= bits <= 64:
        raise ValueError(f"simhash width must be 1..64, got {bits}")
    hx = fan_out(df.select(id_col, text_col), by=id_col).select(
        F.col(id_col), F.explode(F.expr(TX.tokens(text_col))).alias("tok")
    ).select(F.col(id_col), F.md5("tok").alias("h"))

    # Decode the 16-hex-char md5 prefix to ONE signed 64-bit long per
    # token instead of 64 separate substring+instr nibble probes: the
    # historical bit layout is bit i = (nibble_{i DIV 4} >> (i MOD 4))
    # & 1 with nibble 0 = the FIRST hex char, i.e. little-endian
    # nibbles — exactly conv(reverse(prefix), 16, -10) (negative
    # toBase = signed two's-complement, so nibble 15's top bit lands
    # on the long's sign bit without overflow).  Bit i of the long is
    # then a shiftright+AND pair — cheap long ops inside codegen,
    # ~20x less per-row expression work than the nibble-probe form.
    hv = hx.selectExpr(
        id_col,
        "cast(conv(reverse(substring(h, 1, 16)), 16, -10) as bigint) AS v",
    )

    # The per-bit aggregates and the final weight sum are built as SQL
    # expr STRINGS, not Column-call chains: with `bits` = 64 the
    # Column form costs ~1000 py4j round trips (~1.2 s of pure
    # DataFrame-construction time per call, measured) while expr
    # strings are one JVM parse each.  Arithmetic shiftright keeps bit
    # i in position 0 for all i, including the sign bit (i = 63).
    bals = hv.groupBy(id_col).agg(
        *[F.expr(f"sum(shiftright(v, {i}) & 1) AS s{i}") for i in range(bits)],
        F.expr("count(1) AS n"),
    )
    # +1/-1 balance over n tokens with s set-bits is 2s - n; the
    # simhash bit is set when the balance is strictly positive.  Bit
    # 63's weight is min-long via the non-overflowing two's-complement
    # form (see _TOP_BIT_63).
    terms = " + ".join(
        f"if(s{i} * 2 > n, "
        + (
            "cast(-9223372036854775807 as bigint) - cast(1 as bigint)"
            if i == 63
            else f"cast({1 << i} as bigint)"
        )
        + ", cast(0 as bigint))"
        for i in range(bits)
    )
    return bals.selectExpr(id_col, f"cast({terms} as bigint) AS simhash")


def simhash16_agg(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """16-bit compatibility wrapper over :func:`simhash_agg` (same
    bit layout as the inline :func:`simhash16`)."""
    return simhash_agg(df, id_col, text_col, bits=16)


def _check_band_knobs(bits: int, bands: int, max_hamming: int) -> None:
    """Shared validation for every banded-SimHash construction: the
    pigeonhole exactness argument needs equal-width slices and
    ``max_hamming < bands``."""
    if bits % bands != 0:
        raise ValueError(f"bands must divide bits ({bits} % {bands})")
    if max_hamming >= bands:
        raise ValueError(
            f"banded blocking is only exact for max_hamming < bands "
            f"(got hamming {max_hamming}, bands {bands})"
        )


def _band_slices(sh: DataFrame, id_col: str, bits: int, bands: int) -> DataFrame:
    """(id, simhash, band_id, band_val): one row per equal-width bit
    slice of each fingerprint — the single banding construction shared
    by the within-corpus self-join (:func:`simhash_near_dups`) and the
    batch-vs-corpus membership test (:func:`simhash_novel`); any
    change to the slice layout must stay common to both or their
    pigeonhole-exactness parity silently breaks."""
    width = bits // bands
    mask = (1 << width) - 1
    return sh.select(
        F.col(id_col),
        F.col("simhash"),
        F.posexplode(
            F.array(
                *[
                    F.shiftright("simhash", b * width).bitwiseAND(F.lit(mask))
                    for b in range(bands)
                ]
            )
        ).alias("band_id", "band_val"),
    )


def simhash_near_dups(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 64,
    bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-duplicate pairs by banded SimHash (Manku/Jain/Sarma,
    WWW'07 — the production web-dedup construction): fingerprint each
    doc with :func:`simhash_agg`, block on ``bands`` equal-width bit
    slices, and keep candidate pairs whose full-fingerprint hamming
    distance is at most ``max_hamming``.

    EXACT, not approximate, for the default knobs: by pigeonhole, two
    64-bit fingerprints within hamming ``k`` of each other must agree
    on at least one of ``bands`` slices whenever ``k < bands`` — so
    the band blocking provably recalls EVERY qualifying pair while
    only ever joining within band buckets.  (``k >= bands`` would
    make blocking lossy; rejected up front.)

    Scale shape — the reason this exists next to MinHash-LSH (q25):
    the corpus is reduced to ONE long per doc before any join, so the
    self-join input is |corpus| rows of (id, simhash) x ``bands``,
    and join cost is sum of band-bucket sizes squared, never
    all-pairs.  Fingerprinting itself is one explode + map-side
    combined groupBy (see :func:`simhash_agg`).  Verification is a
    single ``bit_count(a XOR b)`` per candidate — no second pass over
    the text, which is what makes SimHash the cheapest verify of the
    three dedup families here (vs shingle-set Jaccard in q26).

    Complement-of-reference note: the reference pipeline has no
    near-dup stage at all (SURVEY.md section 2 — its dedup is
    ``dropDuplicates`` only); this is part of the training-data
    extension family.
    """
    _check_band_knobs(bits, bands, max_hamming)
    # materialize the fingerprint index ONCE (16 bytes/doc): both
    # sides of the band self-join derive from it
    sh = materialize(simhash_agg(df, id_col, text_col, bits))
    banded = _band_slices(sh, id_col, bits, bands)
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.simhash").alias("__sa"),
            F.col("b.simhash").alias("__sb"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("__sa").bitwiseXOR(F.col("__sb")))
    return (
        pairs.withColumn("hamming", hamming.cast("long"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def simhash_novel(
    corpus: DataFrame,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 64,
    bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """Incremental-ingest novelty filter: flag each BATCH document as
    novel iff no EXISTING-corpus document is within ``max_hamming`` of
    its SimHash — the membership test a continuously-growing corpus
    runs on every incoming crawl shard before admitting it (the
    batch-vs-state complement of :func:`simhash_near_dups`'s
    within-corpus pair search).

    Same banded construction, EXACT by the same pigeonhole argument
    (``max_hamming < bands``).  The join is batch-vs-corpus — two
    distinct inputs, so the CORPUS pipeline runs once with no
    materialization; the BATCH fingerprints feed both the band join
    and the final verdict join, so they materialize once.  Only band
    slices + one fingerprint per doc flow through the join: at 100 TB
    the corpus side is a 16-byte-per-doc index you keep warm, never
    the text.  Batch docs matching only
    THEMSELVES cannot occur (the sides are disjoint by contract; ids
    shared across sides are the caller's bug and will flag non-novel,
    which is the safe direction for dedup).

    Returns every batch row's (id, simhash, is_novel).
    """
    csh = simhash_agg(corpus, id_col, text_col, bits)
    return simhash_novel_against_index(
        csh, batch, id_col, text_col, bits, bands, max_hamming,
    )


def simhash_novel_against_index(
    index: DataFrame,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 64,
    bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """:func:`simhash_novel` against a PRE-COMPUTED fingerprint index
    ``(id_col, simhash)`` — the form a continuously-ingesting corpus
    actually runs: the 16-byte-per-doc index is stored state (see
    ``streaming/corpus_ingest.py``), updated per admitted batch, and
    the corpus text is never re-fingerprinted.  Semantics and the
    pigeonhole exactness argument are identical to
    :func:`simhash_novel` (which delegates here after fingerprinting
    its corpus side)."""
    _check_band_knobs(bits, bands, max_hamming)
    bsh = materialize(simhash_agg(batch, id_col, text_col, bits))
    csh = index
    matched = (
        _band_slices(bsh, id_col, bits, bands)
        .alias("b")
        .join(
            _band_slices(csh, id_col, bits, bands).alias("c"),
            (F.col("b.band_id") == F.col("c.band_id"))
            & (F.col("b.band_val") == F.col("c.band_val")),
        )
        .filter(
            F.bit_count(
                F.col("b.simhash").bitwiseXOR(F.col("c.simhash"))
            )
            <= max_hamming
        )
        .select(F.col(f"b.{id_col}"))
        .distinct()
        .withColumn("__hit", F.lit(True))
    )
    return bsh.join(matched, id_col, "left").select(
        F.col(id_col),
        F.col("simhash"),
        F.col("__hit").isNull().alias("is_novel"),
    )


def exact_dup_groups_small(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """One-level window form of :func:`exact_dup_groups` — the
    small-corpus ESCAPE HATCH (r09 review): ``count(*) OVER
    (PARTITION BY hash)`` is one exchange + one window where the
    groupBy+join-back default pays an extra exchange, so on inputs
    where no duplicate group can be large (bounded batches,
    already-capped frames) this recovers that constant.  Identical
    output by construction (same hash, same count per group;
    equality is test-pinned).  The default stays
    :func:`exact_dup_groups`: a window partition cannot be split by
    AQE, and the hot key of THIS operator is by definition the
    most-duplicated text in the corpus."""
    h = F.md5(normalize_text(text_col)).alias("text_hash")
    w = Window.partitionBy("text_hash")
    return (
        df.select(F.col(id_col), h)
        .withColumn("n_copies", F.count(F.lit(1)).over(w))
        .select(id_col, "text_hash", "n_copies")
    )


def exact_dup_groups_auto(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    window_max_rows: int = 2_000_000,
    approx_rows: int | None = None,
) -> DataFrame:
    """Size-dispatched exact dedup (r10 review follow-up): probe the
    input's row count and pick the plan.  ``approx_rows`` is the
    caller's hint (e.g. parquet footer metadata — a driver-side
    millisecond read, no Spark job); without it the probe is one
    metadata-cheap ``count()`` action (the scan prunes to zero
    columns).  The hint only steers PLAN choice — an inaccurate one
    costs performance, never correctness, since both plans are pinned
    equal:

    - ``n <= window_max_rows`` → :func:`exact_dup_groups_small`.  A
      duplicate group can never exceed the row count, so the bound
      caps the largest possible window partition at a size one task
      handles comfortably, and the one-level window saves the
      two-level form's extra exchange (measured 0.61 s → 0.25 s at
      sf0.1).
    - above it → :func:`exact_dup_groups`, the skew-proof
      groupBy+join-back: at corpus scale the hot key is BY DEFINITION
      the most-duplicated text, a window partition cannot be split by
      AQE, and only the two-level form survives a boilerplate page
      copied 10^8 times.

    Output identical either way (test-pinned equality)."""
    n = approx_rows if approx_rows is not None else df.count()
    if n <= window_max_rows:
        return exact_dup_groups_small(df, id_col, text_col)
    return exact_dup_groups(df, id_col, text_col)


def prefix_jaccard_join(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    *,
    shingle_n: int = 5,
    t_num: int = 4,
    t_den: int = 5,
    max_df: int | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """EXACT set-similarity self-join via prefix filtering — the
    deterministic counterpart to the MinHash family (which is
    probabilistic and can miss pairs).  Returns every unordered doc
    pair whose distinct-shingle-set Jaccard is >= ``t_num/t_den``,
    with the exact intersection/union sizes.

    Algorithm (the classic prefix-filter of Chaudhuri et al. /
    PPJoin, public literature): order all shingles by a COMMON total
    order — corpus document frequency ascending, shingle text as the
    tiebreak — and keep only each doc's first ``p = n - ceil(t*n) +
    1`` shingles (its "prefix", the rarest ones).  Completeness: if
    J(A,B) >= t then |A inter B| >= ceil(t*max(|A|,|B|)); were the
    globally-smallest common shingle outside A's prefix, all common
    shingles would sit in A's last ceil(t*|A|) - 1 positions — a
    contradiction, and symmetrically for B.  So every qualifying
    pair shares a shingle in BOTH prefixes and the prefix equi-join
    loses nothing.  Every arithmetic step is INTEGER (threshold test
    by cross-multiplication: ``(t_den + t_num)*inter >=
    t_num*(na + nb)``), so the result is bit-exact and the oracle
    can replay the brute-force postings join.

    Scale shape (100 TB): the prefix keeps the RAREST shingles, so
    posting lists in the candidate self-join are small by
    construction for diverse corpora (boilerplate shingles have high
    df and fall out of prefixes); a size-ratio filter (``t_den*min
    >= t_num*max``, implied by J >= t) prunes candidates before
    verification; verification is two equi-joins bounded by
    candidates x doc-size, never an all-pairs product.  The per-doc
    shingle ranking window partitions by doc id — bounded by
    document length, no hot key.  groupBy (map-side combinable)
    computes the df table.

    ``max_df`` is the boilerplate-degenerate escape (r10 review): on
    a corpus whose every doc is near-pure boilerplate, prefixes still
    carry frequent shingles (there is nothing rarer to keep) and the
    candidate self-join's posting lists blow up — the same regime
    where MinHash banding degenerates.  The cap drops shingles with
    ``df > max_df`` from CANDIDATE GENERATION ONLY; verification
    still runs against the FULL shingle sets, so every emitted pair
    carries its exact intersection/union/Jaccard and the threshold
    filter is exact (precision 1.0 always).  What the cap trades is
    RECALL on capped pairs: a qualifying pair whose every shared
    prefix shingle exceeds the cap is never generated — the standard
    stop-shingle trade, stated rather than hidden.  On corpora where
    no prefix shingle exceeds the cap the output is IDENTICAL
    (test-pinned), because the guarantee's witness shingle survives.

    ``stats`` (diagnostic hook, triggers counting jobs — tests and
    measurement harnesses only): filled with ``n_prefix_rows`` and
    ``n_candidates``.

    Output: ``doc_a < doc_b, inter_size, union_size, jaccard``
    (round-6 display value; the FILTER is integer-exact).
    """
    if not (0 < t_num <= t_den):
        raise ValueError(f"threshold must be in (0, 1]: {t_num}/{t_den}")
    sh = docs.select(
        F.col(id_col).alias("__doc"),
        F.explode(F.array_distinct(F.expr(TX.shingles(text_col, shingle_n)))).alias("__s"),
    )
    # consumed by FIVE subtrees (sizes, df table, ranking, both
    # verification probes) — materialize once (trap: AQE's one-side
    # broadcast otherwise defeats ReusedExchange and recomputes the
    # explode per consumer)
    sh = materialize(sh)
    sz = sh.groupBy("__doc").agg(F.count(F.lit(1)).alias("__n"))
    dfreq = sh.groupBy("__s").agg(F.count(F.lit(1)).alias("__df"))
    ranked = (
        sh.join(dfreq, "__s")
        .join(sz, "__doc")
        .withColumn(
            "__rank",
            F.row_number().over(
                Window.partitionBy("__doc").orderBy("__df", "__s")
            ),
        )
    )
    # p = n - ceil(t*n) + 1, integer ceil on positive ints
    ceil_tn = F.expr(f"({t_num} * __n + {t_den} - 1) DIV {t_den}")
    prefix = ranked.filter(F.col("__rank") <= F.col("__n") - ceil_tn + 1)
    if max_df is not None:
        # candidate-generation-only cap: verification below still
        # probes the FULL sh frame, so surviving pairs stay exact
        prefix = prefix.filter(F.col("__df") <= max_df)
    prefix = prefix.select("__doc", "__s", "__n")
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (
        a.join(b, "__s")
        .filter(F.col("a.__doc") < F.col("b.__doc"))
        # size-ratio filter: J >= t implies t_den*min >= t_num*max
        .filter(
            t_den * F.least("a.__n", "b.__n")
            >= t_num * F.greatest("a.__n", "b.__n")
        )
        .select(
            F.col("a.__doc").alias("doc_a"), F.col("b.__doc").alias("doc_b")
        )
        .distinct()
    )
    if stats is not None:
        stats["n_prefix_rows"] = prefix.count()
        stats["n_candidates"] = cand.count()
    inter = (
        cand.join(sh.withColumnsRenamed({"__doc": "doc_a"}), "doc_a")
        .join(sh.withColumnsRenamed({"__doc": "doc_b"}), ["doc_b", "__s"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter_size"))
    )
    na = sz.withColumnsRenamed({"__doc": "doc_a", "__n": "__na"})
    nb = sz.withColumnsRenamed({"__doc": "doc_b", "__n": "__nb"})
    u = F.col("__na") + F.col("__nb") - F.col("inter_size")
    return (
        inter.join(na, "doc_a")
        .join(nb, "doc_b")
        .filter(
            (t_den + t_num) * F.col("inter_size")
            >= t_num * (F.col("__na") + F.col("__nb"))
        )
        .select(
            "doc_a",
            "doc_b",
            F.col("inter_size").cast("long").alias("inter_size"),
            u.cast("long").alias("union_size"),
            F.round(
                F.col("inter_size").cast("double") / u.cast("double"), 6
            ).alias("jaccard"),
        )
    )


def cluster_keepers(
    labels: DataFrame,
    docs: DataFrame,
    id_col: str,
    quality_col: str,
) -> DataFrame:
    """Dedup-cluster canonicalization — the step that makes a dedup
    report ACTIONABLE: given cluster labels (``(node, label)`` from
    :func:`~hospital_data_engineering_pipeline_end_to_end_project_spark.operators.components.label_propagation_min`
    or connected components) and a per-doc quality score, pick ONE
    keeper per cluster — highest quality, lowest id on ties (a total
    order, so the choice is deterministic and engine-replayable; use
    an INTEGER quality like token count to avoid any rounding
    argument).

    The per-cluster argmax routes through the salted two-level top-k
    (``operators/skew.py``): the biggest duplicate cluster is by
    definition the hottest group, exactly the partition a one-level
    ``row_number() OVER (PARTITION BY label)`` window cannot split.
    Member counts come from a map-side-combinable groupBy.  Returns
    ``(label, keeper_doc, keeper_quality, n_members)``.
    """
    from hospital_data_engineering_pipeline_end_to_end_project_spark.operators import skew

    scored = labels.join(
        docs.select(F.col(id_col).alias("node"), F.col(quality_col)), "node"
    )
    top = skew.salted_grouped_topk(
        scored, ["label"], quality_col, "node", k=1, descending=True
    )
    members = labels.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_members")
    )
    return (
        top.join(members, "label")
        .select(
            "label",
            F.col("node").alias("keeper_doc"),
            F.col(quality_col).cast("long").alias("keeper_quality"),
            "n_members",
        )
    )


def _winnow_fp_arrays(
    docs: DataFrame, id_col: str, text_col: str, k: int, w: int
) -> DataFrame:
    """Per-doc winnowing selection (shared by
    :func:`winnowing_fingerprints` and :func:`winnowing_pairs`):
    ``(id_col, __nh, __fps)`` — k-gram count and the DISTINCT selected
    fingerprints, entirely per-document array work on the scan.  See
    :func:`winnowing_fingerprints` for the selection-rule derivation
    and the short-doc guard ordering."""
    toks = TX.tokens(text_col)
    # sequence ends are CLAMPED to 1 so every expression here is
    # TOTAL: the short-doc guard below still excludes docs without a
    # full window, but Catalyst's InferFiltersFromGenerate can place
    # an inferred `size(__fps) > 0` predicate BESIDE the guard (same
    # Filter node, conjunct order unspecified), evaluating __fps on
    # short docs — an unclamped sequence(1, n <= 0) runs DESCENDING
    # into slice(start=0) and aborts the job.  For clamped short
    # docs the junk single-element arrays are dropped by the guard;
    # for guarded docs the clamp is inert (n_grams >= w >= 1).
    # The token array and the hash array are both BOUND, so the whole
    # selection is a single expression in which each is evaluated
    # once per row.  Referencing an `__hs` COLUMN instead lets
    # CollapseProject + InferFiltersFromGenerate inline the ~600-md5
    # transform once per reference — measured 30.3 s vs 1.1 s on the
    # sf0.001 explode (the streaming index writer hit it;
    # winnowing_pairs had always been shielded by materialize()
    # cutting the plan).  Each window's rightmost minimum position is
    # ``j + w - position-in-reversed-window``; try_element_at keeps the
    # expression TOTAL on guarded-out short docs, where that position
    # can exceed the (junk, clamped) array.
    select = (
        f"array_distinct(transform(array_distinct(transform(sequence(1,"
        f" greatest(size(__whs) - {w - 1}, 1)), __wj -> __wj + {w} -"
        f" array_position(reverse(slice(__whs, __wj, {w})), array_min(slice(__whs, __wj, {w}))))),"
        " __wp -> try_element_at(__whs, CAST(__wp AS INT))))"
    )
    fps = bind(toks, "__gtk", bind(_gram_hashes("__gtk", k), "__whs", select))
    return docs.filter(F.expr(f"size({toks}) >= {w + k - 1}")).select(
        F.col(id_col),
        F.expr(f"CAST(size({toks}) - {k - 1} AS INT)").alias("__nh"),
        F.expr(fps).alias("__fps"),
    )


def _gram_hashes(tk: str, k: int) -> str:
    """60-bit md5-derived hash of every ``k``-token window of the bound
    token array ``tk`` (1-based positions; the sequence end is clamped
    to 1, see ``_winnow_fp_arrays``)."""
    return (
        f"transform(sequence(1, greatest(size({tk}) - {k - 1}, 1)), __gi ->"
        f" CAST(conv(substring(md5(array_join(slice({tk}, __gi, {k}), ' ')), 1, 15), 16, 10) AS BIGINT))"
    )


def winnowing_fingerprints(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 4,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken
    2003, the MOSS algorithm — public literature): hash every token
    ``k``-gram, slide a window of ``w`` consecutive hashes, and
    select each window's RIGHTMOST minimum.  The guarantee: any
    shared token run of length >= ``w + k - 1`` between two documents
    produces at least one shared selected fingerprint, while only
    ~``2/(w+1)`` of hashes are kept — detection without storing every
    gram (the whole-doc :func:`~hospital_data_engineering_pipeline_end_to_end_project_spark.functions.text.fingerprint`
    detects only full-content matches; the positional grams of
    q104 keep EVERY gram).

    Engine-portable selection rule with no fold: the rightmost min of
    a slice is ``start + w - position(reverse(slice), min(slice))``
    (first occurrence in the reversed slice IS the last in the
    original; positions 1-based in both Spark and DuckDB) — so the
    oracle replays the identical expression and ties on equal hashes
    break identically.  Hashes are the 60-bit md5 prefix as a long
    (the MinHash base-hash grammar).  All integers end-to-end.

    Scale shape: selection is per-document array work on the scan
    (no shuffle, no explode until the sharing stage); the sharing
    stage is two map-side-combinable groupBys and one semi-join
    against the duplicated-fingerprint set (hot boilerplate
    fingerprints are absorbed by the groupBy and AQE-splittable in
    the semi probe — the q95 shape).  Documents with fewer than
    ``w`` k-grams (< ``w + k - 1`` tokens) have no full window and
    emit no row — they cannot meet the guarantee length anyway.

    Returns ``(id_col, n_kgrams, n_fingerprints, n_shared)`` where
    ``n_shared`` counts the doc's distinct fingerprints that appear
    in at least one OTHER document.
    """
    fp = materialize(_winnow_fp_arrays(docs, id_col, text_col, k, w))
    ex = fp.select(F.col(id_col), F.explode("__fps").alias("__fp"))
    dup = (
        ex.groupBy("__fp")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") >= 2)
        .select("__fp")
    )
    shared = (
        ex.join(dup, "__fp", "left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("__shared"))
    )
    return (
        fp.join(shared, id_col, "left")
        .select(
            id_col,
            F.col("__nh").cast("long").alias("n_kgrams"),
            F.size("__fps").cast("long").alias("n_fingerprints"),
            F.coalesce(F.col("__shared"), F.lit(0)).cast("long").alias("n_shared"),
        )
    )


def winnowing_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 8,
    w: int = 9,
    min_shared: int = 1,
    max_df: int | None = None,
) -> DataFrame:
    """Pair-level winnowing — where the MOSS use case actually ends:
    ranked DOC PAIRS, not per-doc counts
    (:func:`winnowing_fingerprints` says *how many* of a doc's
    fingerprints appear elsewhere; this says *which other docs* share
    them and how strongly).

    Same selection as :func:`winnowing_fingerprints`
    (Schleimer/Wilkerson/Aiken winnowing, rightmost-min-per-window as
    a portable expression), at PRODUCTION-class knobs by default:
    ``k=8`` token-grams (specific enough that random collisions are
    nil — MOSS's k≈25 characters is about five tokens; eight is a
    stricter match unit) and ``w=9`` (fingerprint density
    ``2/(w+1) = 0.2``, the cost point where winnowing actually beats
    keeping every gram) — so the guarantee bites: any shared token
    run of length >= ``w + k - 1 = 16`` produces a shared
    fingerprint.

    Sharing becomes pairs through the POSTINGS self-join (the q133
    verification shape): explode each doc's distinct fingerprints,
    equi-join postings on fingerprint with ``doc_a < doc_b``, and a
    map-side-combinable groupBy counts each pair's shared
    fingerprints.  Cost is sum over fingerprints of df^2 — bounded by
    fingerprint specificity for real corpora; a fingerprint shared by
    half the corpus (pure boilerplate) is the same degenerate regime
    as :func:`prefix_jaccard_join`'s, and gets the same escape:
    ``max_df`` drops above-cap fingerprints from pair generation
    (counts then reflect the surviving fingerprints only — stated,
    not hidden).

    ``overlap`` ranks pairs: shared / min(n_fps_a, n_fps_b), round-6
    display value (the ``min_shared`` FILTER is integer-exact).
    Returns ``doc_a < doc_b, n_shared_fps, n_fps_a, n_fps_b,
    overlap``.
    """
    fp = materialize(
        _winnow_fp_arrays(docs, id_col, text_col, k, w).withColumn(
            "__nf", F.size("__fps")
        )
    )
    ex = fp.select(F.col(id_col).alias("__doc"), F.explode("__fps").alias("__fp"))
    if max_df is not None:
        keep = (
            ex.groupBy("__fp")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") <= max_df)
            .select("__fp")
        )
        ex = ex.join(keep, "__fp", "left_semi")
    a = ex.withColumnRenamed("__doc", "doc_a")
    b = ex.withColumnRenamed("__doc", "doc_b")
    pairs = (
        a.join(b, "__fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared_fps"))
        .filter(F.col("n_shared_fps") >= min_shared)
    )
    na = fp.select(F.col(id_col).alias("doc_a"), F.col("__nf").alias("__nfa"))
    nb = fp.select(F.col(id_col).alias("doc_b"), F.col("__nf").alias("__nfb"))
    return (
        pairs.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_shared_fps",
            F.col("__nfa").cast("long").alias("n_fps_a"),
            F.col("__nfb").cast("long").alias("n_fps_b"),
            F.round(
                F.col("n_shared_fps").cast("double")
                / F.least("__nfa", "__nfb").cast("double"),
                6,
            ).alias("overlap"),
        )
    )


def lsh_incremental_join(
    corpus: DataFrame,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    *,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 5,
    t_num: int = 7,
    t_den: int = 10,
) -> DataFrame:
    """Incremental (batch-vs-corpus) MinHash-LSH near-dup join — the
    shape production dedup actually runs daily: not "dedupe the
    corpus against itself" (:func:`near_dup_candidates`, a one-time
    job) but "which of today's arriving documents near-duplicate
    something ALREADY IN the corpus".

    Candidates come from the band equi-join of the batch's LSH bands
    against the corpus's — the batch side is broadcast (a daily shard
    is always small next to the accumulated corpus), so the corpus is
    NEVER shuffled: at 100 TB this is one scan of the stored band
    index with a map-side hash probe per row.  In a deployed pipeline
    the corpus bands are the PERSISTED index, maintained per-batch
    exactly like the novelty gate's fingerprint shards
    (``streaming/corpus_ingest.py``) — recomputing them here keeps
    the operator self-contained; the candidate/verify plan is
    identical either way.

    Verification is exact: candidate pairs probe the full distinct
    shingle sets and the threshold test is the integer
    cross-multiplication ``(t_den + t_num) * inter >= t_num *
    (na + nb)`` — so emitted pairs are exactly the banded candidates
    with true Jaccard >= t (same recall semantics as any MinHash
    pipeline: a qualifying pair missed by all bands is missed; the
    banding collision probability is the standard S-curve).

    The verify side shingles only CANDIDATE corpus docs — the
    candidate frame (batch-bounded, materialized once) semi-prunes the
    corpus BEFORE the shingle arrays are built, the same idiom the
    index-served variant uses (``streaming/lsh_index.py``): verification cost is candidates x
    doc length, never corpus x doc length.  (The corpus is still
    scanned once for banding — that scan is the candidate generator —
    but its heavy shingle-array build no longer runs for
    non-candidate rows.)

    Returns ``(batch_doc, corpus_doc, inter_size, union_size,
    jaccard)`` — round-6 display value, integer-exact filter.
    """
    cb = minhash_bands(corpus, id_col, text_col, num_hashes, bands, shingle_n)
    bb = minhash_bands(batch, id_col, text_col, num_hashes, bands, shingle_n)
    cand = materialize(
        cb.alias("c")
        .join(
            F.broadcast(bb.alias("b")),
            (F.col("c.band_id") == F.col("b.band_id"))
            & (F.col("c.band_hash") == F.col("b.band_hash")),
        )
        .select(
            F.col(f"b.{id_col}").alias("batch_doc"),
            F.col(f"c.{id_col}").alias("corpus_doc"),
        )
        .distinct()
    )
    return _lsh_verify(
        cand, corpus, batch, id_col, text_col, shingle_n, t_num, t_den
    )


def _lsh_verify(
    cand: DataFrame,
    corpus: DataFrame,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int,
    t_num: int,
    t_den: int,
) -> DataFrame:
    """Exact verify stage of the incremental LSH joins
    (:func:`lsh_incremental_join` and the index-served
    ``streaming/lsh_index.incremental_join_against_index``): the
    ``(batch_doc, corpus_doc)`` candidates semi-prune the corpus to
    its candidate docs (ids broadcast) BEFORE the shingle arrays are
    built, so verification costs candidates x doc length; the
    integer cross-multiplied Jaccard test keeps pairs with true
    Jaccard >= ``t_num / t_den``.  Returns ``(batch_doc, corpus_doc,
    inter_size, union_size, jaccard)``."""
    corpus_cand = corpus.join(
        F.broadcast(cand.select(F.col("corpus_doc").alias(id_col)).distinct()),
        id_col,
        "left_semi",
    )
    shc = corpus_cand.select(
        F.col(id_col).alias("corpus_doc"),
        F.array_distinct(F.expr(TX.shingles(text_col, shingle_n))).alias("__shc"),
    )
    shb = batch.select(
        F.col(id_col).alias("batch_doc"),
        F.array_distinct(F.expr(TX.shingles(text_col, shingle_n))).alias("__shb"),
    )
    inter = F.size(F.array_intersect("__shb", "__shc"))
    union = F.size("__shb") + F.size("__shc") - inter
    return (
        cand.join(F.broadcast(shb), "batch_doc")
        .join(shc, "corpus_doc")
        .withColumn("inter_size", inter.cast("long"))
        .withColumn("union_size", union.cast("long"))
        .filter(
            (t_den + t_num) * F.col("inter_size")
            >= t_num * (F.size("__shb") + F.size("__shc"))
        )
        .select(
            "batch_doc",
            "corpus_doc",
            "inter_size",
            "union_size",
            F.round(
                F.col("inter_size").cast("double") / F.col("union_size"), 6
            ).alias("jaccard"),
        )
    )


def tf_cosine_join(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    *,
    term_n: int = 3,
    t_num: int = 8,
    t_den: int = 10,
    max_df: int | None = None,
) -> DataFrame:
    """EXACT cosine-similarity self-join over integer term-frequency
    vectors — the weighted (bag-of-words) counterpart of
    :func:`prefix_jaccard_join`'s distinct-set Jaccard: repetition
    counts, so a doc that copies another's vocabulary at different
    multiplicities scores differently than set Jaccard sees.

    ``term_n`` picks the vector dimension: 1 = unigram counts (the
    textbook form — on small-vocabulary corpora every doc shares
    every term and the join degenerates), n > 1 = token n-gram
    counts, whose natural sparsity keeps posting lists short (the
    default 3 measures ~30x fewer candidate rows than bigrams on the
    benchmark corpus).

    Entirely INTEGER until the display column: with ``c`` the raw
    token counts, ``S = sum(ca*cb)``, ``n2 = sum(c^2)``, the
    threshold ``cos >= t`` is tested as ``t_den^2 * S^2 >= t_num^2 *
    n2_a * n2_b`` (valid since ``S >= 0``) — no float comparison in
    the filter, so the oracle replays it bit-for-bit.  The round-6
    ``cosine`` display divides by ``sqrt(n2_a * n2_b)`` (sqrt and
    division are correctly-rounded IEEE ops; the product stays exact
    in a double for ``n2 < 2^26`` — any doc under ~8M tokens).
    64-bit headroom: ``t_den^2 * S^2 < 2^63`` holds for docs up to
    ~100k tokens at ``t_den <= 30``.

    Candidates: any pair with ``cos > 0`` shares a term, so the
    postings equi-join on tokens is COMPLETE; it is also the cost
    center — a term in ``d`` docs fans out ``d^2/2`` rows, so at
    corpus scale stopword-class terms are the quadratic failure mode.
    ``max_df`` is the q133-style escape: above-cap terms are dropped
    from candidate generation ONLY (verification recomputes ``S``
    over ALL shared terms of each candidate pair, so precision and
    scores stay exact; the documented trade is recall on pairs
    sharing nothing but above-cap terms).  The verification re-probe
    reads the term frame SEMI-PRUNED to candidate docs — the inner
    probe joins restrict to candidates anyway, so output is identical
    by construction, but the prune keeps the shuffled frame bounded
    by candidates' terms instead of the whole corpus vocabulary; and
    the whole capped path keys its joins on ``xxhash64(term)`` rather
    than the gram string, so every exchange moves fixed-width
    ``(long, long, long)`` rows (see the in-code collision analysis —
    a false match needs a 64-bit collision INSIDE one candidate
    pair's shared vocabulary).

    Returns ``doc_a < doc_b, dot, norm2_a, norm2_b, cosine``.
    """
    if not (0 < t_num <= t_den):
        raise ValueError(f"threshold must be in (0, 1]: {t_num}/{t_den}")
    terms = F.expr(TX.tokens(text_col) if term_n == 1 else TX.shingles(text_col, term_n))
    cnt = (
        fan_out(docs.select(F.col(id_col), F.col(text_col)), by=id_col)
        .select(F.col(id_col).alias("__doc"), F.explode(terms).alias("__t"))
        .groupBy("__doc", "__t")
        .agg(F.count(F.lit(1)).cast("long").alias("__c"))
    )
    # consumed by the norm table, candidate generation and both
    # verification probes — materialize once (the q133 trap: AQE's
    # one-side broadcast defeats ReusedExchange)
    cnt = materialize(cnt)
    n2 = cnt.groupBy("__doc").agg(F.sum(F.col("__c") * F.col("__c")).alias("__n2"))
    if max_df is None:
        # uncapped fast path: S accumulates DIRECTLY in the postings
        # self-join's groupBy (map-side combinable) — no candidate
        # materialization, no distinct, no re-probe: one shuffle on
        # the term, one on the pair.  Complete because every pair
        # with cos > 0 shares a term.
        dot = (
            cnt.alias("a")
            .join(cnt.alias("b"), "__t")
            .filter(F.col("a.__doc") < F.col("b.__doc"))
            .groupBy(
                F.col("a.__doc").alias("doc_a"),
                F.col("b.__doc").alias("doc_b"),
            )
            .agg(F.sum(F.col("a.__c") * F.col("b.__c")).alias("__s"))
        )
    else:
        # capped path: candidates from the CAPPED postings only, then
        # S recomputed over ALL shared terms of each candidate pair —
        # the q133 two-stage shape that keeps surviving scores exact.
        #
        # IDS-ONLY SHUFFLE (r13 review's one weak item): every join
        # below keys on the term, and at the 100x single-node
        # measurement the capped verification legitimately shuffled
        # candidate docs' FULL postings (~0.56 GB per sf0.1 copy,
        # disk-bound) — dominated by the n-gram STRING column (~20-30
        # bytes vs 8 for the count).  So the capped path re-keys the
        # materialized count frame on xxhash64(term) once (a narrow
        # map, no shuffle) and every downstream exchange moves
        # (long, long, long) rows — the r6 LSH ids-only rework
        # applied to the verification join.  Equality on the 64-bit
        # hash stands in for term equality: a false S contribution
        # needs two DISTINCT grams with the SAME xxhash64 inside ONE
        # candidate pair — for a per-pair shared vocabulary of v
        # grams that is ~v^2/2^65 (v = 10^4 -> ~5e-12), and the
        # corpus-wide birthday bound stays ~n^2/2^65 (vocab 10^6 ->
        # ~3e-8).  The uncapped path keeps exact string terms: it is
        # the gate-checked q140 headline and its single postings join
        # has no re-probe to amortize the hashing against.
        hid = cnt.select(
            "__doc", F.xxhash64("__t").alias("__t"), "__c"
        )
        dfreq = hid.groupBy("__t").agg(F.count(F.lit(1)).alias("__df"))
        keep = dfreq.filter(F.col("__df") <= max_df).select("__t")
        gen = hid.join(keep, "__t", "left_semi")
        cand = (
            gen.alias("a")
            .join(gen.alias("b"), "__t")
            .filter(F.col("a.__doc") < F.col("b.__doc"))
            .select(
                F.col("a.__doc").alias("doc_a"), F.col("b.__doc").alias("doc_b")
            )
            .distinct()
        )
        # verification re-probe bounded to CANDIDATE docs' terms: the
        # inner joins below restrict to candidate docs anyway (output
        # identical by construction), but without the semi-prune each
        # probe SHUFFLES the full (doc, term, count) frame — in the
        # saturated-vocabulary regime (the 100x bench row) that frame
        # is the cost center, while candidates' terms stay bounded by
        # the cap's pruning.  The pruning DOC SET comes from the df
        # frame alone: a doc sits in some candidate pair iff it holds
        # >= 1 term with 2 <= df <= cap (df = 1 generates no pair), so
        # no pair enumeration is needed to know the docs.  That keeps
        # the materialized/broadcast unit |docs|-bounded — the first
        # cut of this prune localCheckpointed the candidate PAIR frame
        # and broadcast its distinct doc sides, which in the
        # saturated-vocabulary 100x regime held the (quadratically
        # many) pairs in executor storage and OOMed the JVM; the pair
        # frame must stay lazy with exactly ONE consumer (the dot
        # join), as in the pre-prune shape.
        pairable = dfreq.filter(
            (F.col("__df") >= 2) & (F.col("__df") <= max_df)
        ).select("__t")
        cand_docs = materialize(
            hid.join(pairable, "__t", "left_semi").select("__doc").distinct()
        )
        probe_a = hid.join(
            F.broadcast(cand_docs), "__doc", "left_semi"
        ).select(F.col("__doc").alias("doc_a"), "__t", F.col("__c").alias("__ca"))
        probe_b = hid.join(
            F.broadcast(cand_docs), "__doc", "left_semi"
        ).select(F.col("__doc").alias("doc_b"), "__t", F.col("__c").alias("__cb"))
        dot = (
            cand.join(probe_a, "doc_a")
            .join(probe_b, ["doc_b", "__t"])
            .groupBy("doc_a", "doc_b")
            .agg(F.sum(F.col("__ca") * F.col("__cb")).alias("__s"))
        )
    na = n2.select(F.col("__doc").alias("doc_a"), F.col("__n2").alias("__n2a"))
    nb = n2.select(F.col("__doc").alias("doc_b"), F.col("__n2").alias("__n2b"))
    return (
        dot.join(na, "doc_a")
        .join(nb, "doc_b")
        .filter(
            F.lit(t_den * t_den) * F.col("__s") * F.col("__s")
            >= F.lit(t_num * t_num) * F.col("__n2a") * F.col("__n2b")
        )
        .select(
            "doc_a",
            "doc_b",
            F.col("__s").cast("long").alias("dot"),
            F.col("__n2a").cast("long").alias("norm2_a"),
            F.col("__n2b").cast("long").alias("norm2_b"),
            F.round(
                F.col("__s").cast("double")
                / F.sqrt((F.col("__n2a") * F.col("__n2b")).cast("double")),
                6,
            ).alias("cosine"),
        )
    )


def repeated_span_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 8,
    w: int = 9,
    min_span: int | None = None,
    max_df: int | None = None,
) -> DataFrame:
    """Exact cross-document repeated-SPAN extraction — the operator
    behind suffix-array substring dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"),
    re-expressed as two relational stages instead of a monolithic
    suffix array, which does not distribute:

    1. **Candidates** — :func:`winnowing_pairs` at the same ``(k, w)``
       knobs.  The winnowing guarantee is exactly the right filter:
       any shared token run of length >= ``w + k - 1`` forces a
       shared selected fingerprint, so every pair with a qualifying
       span IS a candidate — the stage is lossless for the spans this
       operator reports (``min_span`` is floored at ``w + k - 1`` and
       a smaller request raises rather than silently under-reporting).
    2. **Span extraction, per candidate pair** — positional k-gram
       hashes ``(doc, pos, h)`` are built ONLY for candidate docs
       (left-semi prune, the lsh_index "re-read only candidates"
       idiom), matched within each pair on hash, and maximal runs of
       consecutive matches fall out of the diagonal identity: matches
       of one contiguous shared span share ``pos_a - pos_b`` (the
       diagonal) and consecutive ``pos_a``, so island id =
       ``pos_a - row_number() OVER (pair, diagonal ORDER BY pos_a)``
       and a combinable groupBy yields each maximal run's length and
       start offsets.  A run of ``L`` matched k-grams is a span of
       ``L + k - 1`` tokens.

    Scale shape: stage-1 cost is winnowing's (fingerprint-specificity
    bounded, ``max_df`` escape passed through); stage-2 volume is
    sum over candidate pairs of matched positions — pair-bounded,
    never corpus-quadratic, and the island window's partition
    ``(pair, diagonal)`` is bounded by the shorter document's length,
    never by corpus size, so no salting is needed.  The one
    data-dependent regime is a mega-duplicated document: a text with
    ``m`` verbatim copies yields ``m(m-1)/2`` candidate pairs, and
    stage 2 replicates its positions per pair.  That regime belongs
    to upstream EXACT dedup (the standard pipeline order — this
    operator's job is partial overlap between distinct docs), and
    ``max_df`` drops the shared fingerprints of whatever boilerplate
    survives it.  All arithmetic is integer; hashes are md5-derived
    and engine-portable.

    Returns ``doc_a < doc_b, start_a, start_b, span_tokens`` — one
    row per maximal shared span of at least ``min_span`` tokens
    (1-based token offsets).
    """
    guarantee = w + k - 1
    if min_span is None:
        min_span = guarantee
    if min_span < guarantee:
        raise ValueError(
            f"min_span={min_span} below the winnowing guarantee bound "
            f"w + k - 1 = {guarantee}: stage 1 could miss qualifying "
            "pairs; lower w or raise min_span"
        )
    min_run = min_span - k + 1
    pairs = materialize(
        winnowing_pairs(
            docs, id_col, text_col, k=k, w=w, min_shared=1, max_df=max_df
        ).select("doc_a", "doc_b")
    )
    cand = (
        pairs.select(F.col("doc_a").alias(id_col))
        .union(pairs.select(F.col("doc_b").alias(id_col)))
        .distinct()
    )
    pos = positional_gram_hashes(
        docs.join(cand, id_col, "left_semi"), id_col, text_col, k
    )
    pa = pos.select(
        F.col(id_col).alias("doc_a"), F.col("__pos").alias("__pa"), "__h"
    )
    pb = pos.select(
        F.col(id_col).alias("doc_b"), F.col("__pos").alias("__pb"), "__h"
    )
    m = pairs.join(pa, "doc_a").join(pb, ["doc_b", "__h"])
    return diagonal_spans(
        m, "doc_a", "doc_b", "__pa", "__pb", k=k, min_run=min_run
    )


def positional_gram_hashes(
    docs: DataFrame, id_col: str, text_col: str, k: int
) -> DataFrame:
    """Positional k-gram hashes ``(id_col, __pos, __h)`` — 1-based
    token position, 60-bit md5-derived hash of the k token window —
    the stage-2 input of :func:`repeated_span_pairs` and its
    streaming index-served counterpart.  Pure per-doc array work on
    the scan (transform + posexplode); the sequence end is CLAMPED
    so the expression is total even when Catalyst's
    InferFiltersFromGenerate evaluates it beside (not after) the
    short-doc guard — see the note in ``_winnow_fp_arrays``."""
    toks = TX.tokens(text_col)
    # bind the token array: slicing the tokens() EXPRESSION from
    # inside the per-gram lambda re-runs the split per gram — O(n²)
    # per document (same trap as _winnow_fp_arrays)
    hs = bind(toks, "__gtk", _gram_hashes("__gtk", k))
    return (
        docs.filter(F.expr(f"size({toks}) >= {k}"))
        .select(F.col(id_col), F.posexplode(F.expr(hs)).alias("__p0", "__h"))
        .select(id_col, (F.col("__p0") + 1).alias("__pos"), "__h")
    )


def diagonal_spans(
    m: DataFrame,
    left_id: str,
    right_id: str,
    pos_left: str,
    pos_right: str,
    *,
    k: int,
    min_run: int,
    out_left: str = "start_a",
    out_right: str = "start_b",
) -> DataFrame:
    """Maximal-run extraction over matched positional k-grams: rows of
    one contiguous shared span share the diagonal ``pos_left -
    pos_right`` and carry consecutive ``pos_left``, so island id =
    ``pos_left - row_number()`` per (pair, diagonal) and a combinable
    groupBy yields each maximal run's length and 1-based start
    offsets.  The window partition is bounded by the shorter
    document's length — never corpus size."""
    isl_w = Window.partitionBy(
        left_id, right_id, F.col(pos_left) - F.col(pos_right)
    ).orderBy(pos_left)
    return (
        m.withColumn("__isl", F.col(pos_left) - F.row_number().over(isl_w))
        .groupBy(
            left_id, right_id, F.col(pos_left) - F.col(pos_right), "__isl"
        )
        .agg(
            F.count(F.lit(1)).alias("__len"),
            F.min(pos_left).alias("__sl"),
            F.min(pos_right).alias("__sr"),
        )
        .filter(F.col("__len") >= min_run)
        .select(
            left_id,
            right_id,
            F.col("__sl").cast("long").alias(out_left),
            F.col("__sr").cast("long").alias(out_right),
            (F.col("__len") + (k - 1)).cast("long").alias("span_tokens"),
        )
    )


#: auto-dispatch threshold for :func:`boundary_stitch_pairs`' anchor
#: broadcast — 50M one-row-per-doc anchors ≈ 1.7 GB (33 bytes/row),
#: comfortably inside Spark's 8 GB broadcast-table ceiling with margin
#: for the driver's copy; above it the probe joins shuffled
ANCHOR_BROADCAST_MAX_DOCS = 50_000_000


def boundary_stitch_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 4,
    min_overlap: int = 8,
    max_df: int | None = None,
    broadcast_anchors: bool | None = None,
    approx_docs: int | None = None,
) -> DataFrame:
    """Crawl-shard boundary stitches: ordered pairs where the LEFT
    document's token suffix equals the RIGHT document's token prefix —
    the artifact a sharded crawler leaves when one logical page is cut
    across two fetch records (the suffix of record N reappears as the
    prefix of record N+1).  Doc-level near-dup passes miss these (the
    overlap is a small fraction of either doc) and span dedup reports
    them only as one span among many; a curation pipeline wants them
    NAMED, because the fix is a merge, not a drop.

    Exact and complete for overlaps ``>= min_overlap`` (which must be
    ``>= k``), by an anchor identity: if ``suffix_m(A) = prefix_m(B)``
    with ``m >= k``, then B's FIRST ``k``-gram occurs in A at position
    ``n_A - m + 1`` — so joining B's single first-gram row against A's
    positional gram postings surfaces every stitch as an anchor
    ``(A, B, p)`` with implied overlap ``m = n_A - p + 1``, and one
    exact token-slice comparison per anchor verifies it.  The reported
    ``overlap_tokens`` is the MAXIMUM verified ``m`` per pair (periodic
    text can verify several anchors).

    Scale shape: the anchor side is ONE row per document — broadcast
    below the auto threshold — so the corpus gram postings are scanned
    once and map-side probed, never shuffled; verification joins token
    arrays only for anchor docs (left-semi before the array is
    shipped).  NOTE the broadcast is ``|docs|``-bounded (33 bytes/row:
    one md5 + one id), NOT candidate-bounded like ``tf_cosine_join``'s
    ``cand_docs`` — fine to ~10^8 docs per corpus shard, but a
    billions-of-docs single frame would exceed Spark's 8 GB
    broadcast-table limit.  The join strategy is therefore
    SIZE-DISPATCHED (the ``exact_dup_groups_auto`` idiom, r13 review —
    a manual flag default was a silent driver-memory cliff): the doc
    count comes from ``approx_docs`` when the caller has it (parquet
    footer metadata — a driver-side millisecond read, no job) and
    otherwise from one column-pruned ``count()``; at or below
    :data:`ANCHOR_BROADCAST_MAX_DOCS` the anchors broadcast, above it
    the probe falls back to a shuffled (sort-merge) join, which keeps
    the same one-pass-over-postings property at the cost of one
    shuffle of the postings keyed by gram.  The hint steers PLAN
    choice only — an inaccurate count costs performance, never
    correctness (both joins produce identical pairs).
    ``broadcast_anchors`` remains as an explicit override
    (``True``/``False``); ``None`` means auto.  The tokenized base
    frame is materialized ONCE: it
    feeds the postings, the anchors and both verification sides, and
    every consumer above it is shuffle-free map work (explode + md5 +
    broadcast probe), so the one checkpoint caps the whole plan at
    one tokenization pass.  ``max_df`` is the boilerplate escape (a
    corpus-ubiquitous OPENING gram — licence headers, templated
    preambles — anchors against every posting of itself): anchor
    grams held by more than ``max_df`` DISTINCT documents leave
    candidate generation only, the span operator's established
    recall-only knob.

    Returns ``(left_doc, right_doc, overlap_tokens)`` with
    ``left_doc != right_doc``; ``overlap_tokens = n_B`` means B is
    entirely a suffix of A (containment — reported, since the merge
    decision is the same).
    """
    from hospital_data_engineering_pipeline_end_to_end_project_spark.operators.parallelism import fan_out

    if min_overlap < k:
        raise ValueError(
            f"min_overlap={min_overlap} below the anchor gram size k={k}"
        )
    if broadcast_anchors is None:
        n_docs = (
            approx_docs
            if approx_docs is not None
            else docs.select(F.col(id_col)).count()
        )
        broadcast_anchors = n_docs <= ANCHOR_BROADCAST_MAX_DOCS
    base = materialize(
        fan_out(docs.select(F.col(id_col), F.col(text_col)), by=id_col)
        .select(F.col(id_col).alias("__id"), F.expr(TX.tokens(text_col)).alias("__t"))
        .withColumn("__n", F.size("__t"))
        .filter(F.col("__n") >= k)
    )
    grams = f"transform(sequence(1, __n - {k - 1}), __ai -> md5(array_join(slice(__t, __ai, {k}), ' ')))"
    post = base.select(
        F.col("__id").alias("left_doc"),
        F.col("__n").alias("__na"),
        F.posexplode(F.expr(grams)).alias("__p0", "__g"),
    ).select(
        "left_doc", "__na", (F.col("__p0") + 1).alias("__p"), "__g"
    )
    anchors = base.select(
        F.col("__id").alias("right_doc"),
        F.expr(f"md5(array_join(slice(__t, 1, {k}), ' '))").alias("__g"),
    )
    if max_df is not None:
        # anti-join the tiny ABOVE-cap set (AQE broadcasts it) — the
        # anchors frame is never reshuffled for the cap
        drop = (
            post.groupBy("__g")
            .agg(F.countDistinct("left_doc").alias("__df"))
            .filter(F.col("__df") > max_df)
            .select("__g")
        )
        anchors = anchors.join(drop, "__g", "left_anti")
    cand = (
        post.join(F.broadcast(anchors) if broadcast_anchors else anchors, "__g")
        .filter(F.col("left_doc") != F.col("right_doc"))
        .withColumn("__m", F.col("__na") - F.col("__p") + 1)
        .filter(F.col("__m") >= min_overlap)
        .select("left_doc", "right_doc", "__p", "__m")
    )
    # exact verification: token arrays shipped only for anchor docs
    ta = base.select(F.col("__id").alias("left_doc"), F.col("__t").alias("__ta"))
    ta = ta.join(cand.select("left_doc").distinct(), "left_doc", "left_semi")
    tb = base.select(
        F.col("__id").alias("right_doc"),
        F.col("__t").alias("__tb"),
        F.col("__n").alias("__nb"),
    )
    tb = tb.join(cand.select("right_doc").distinct(), "right_doc", "left_semi")
    return (
        cand.join(ta, "left_doc")
        .join(tb, "right_doc")
        .filter(F.col("__m") <= F.col("__nb"))
        .filter(
            F.slice("__ta", F.col("__p"), F.col("__m"))
            == F.slice("__tb", F.lit(1), F.col("__m"))
        )
        .groupBy("left_doc", "right_doc")
        .agg(F.max("__m").cast("long").alias("overlap_tokens"))
    )


def stitch_merge(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 4,
    min_overlap: int = 8,
    max_df: int | None = None,
    approx_docs: int | None = None,
) -> DataFrame:
    """Repair the stitches :func:`boundary_stitch_pairs` names: merge
    each UNAMBIGUOUS stitched record pair back into its logical page —
    the curation ACTION for the crawl-shard artifact (the fix is a
    merge, not a drop).

    Unambiguous means the left record stitches to exactly one right
    record and vice versa; a record with several partners (shared
    boilerplate openings, near-dup clusters) is left alone — merging
    on a guess would fabricate text, and the ambiguous cases are
    exactly what ``max_df`` exists to suppress upstream.  CHAINS are
    likewise left alone: a record that survives the pairwise filter
    on BOTH sides (``A -> B`` and ``B -> C``, a page cut into three or
    more fetch records) would have its middle tokens duplicated across
    two pairwise merges, so any stitch touching such a middle record
    is excluded — a 3+-record page is a rarer artifact needing
    iterative chain reconstruction (follow the functional graph to a
    fixpoint), deliberately out of this operator's pairwise contract.
    The merge drops the overlap once: ``merged = left_tokens ++
    right_tokens[overlap+1:]``, with the overlap the operator's
    MAXIMAL verified one.

    Returns ``(left_doc, right_doc, overlap_tokens, merged_text)``.
    """
    st = boundary_stitch_pairs(
        docs,
        id_col,
        text_col,
        k=k,
        min_overlap=min_overlap,
        max_df=max_df,
        approx_docs=approx_docs,
    )
    st = materialize(st)
    lu = (
        st.groupBy("left_doc")
        .agg(F.count(F.lit(1)).alias("__nl"))
        .filter(F.col("__nl") == 1)
        .select("left_doc")
    )
    ru = (
        st.groupBy("right_doc")
        .agg(F.count(F.lit(1)).alias("__nr"))
        .filter(F.col("__nr") == 1)
        .select("right_doc")
    )
    uniq = st.join(lu, "left_doc", "left_semi").join(ru, "right_doc", "left_semi")
    # chain guard: a record on BOTH sides of surviving stitches is the
    # middle of an A->B->C chain — merging pairwise would duplicate its
    # tokens across two pages, so every stitch touching it is excluded.
    mids = (
        uniq.select(F.col("right_doc").alias("__mid"))
        .intersect(uniq.select(F.col("left_doc").alias("__mid")))
    )
    uniq = uniq.join(
        mids.select(F.col("__mid").alias("left_doc")), "left_doc", "left_anti"
    ).join(
        mids.select(F.col("__mid").alias("right_doc")), "right_doc", "left_anti"
    )
    toks = docs.select(
        F.col(id_col).alias("__id"), F.expr(TX.tokens(text_col)).alias("__t")
    )
    ta = toks.select(F.col("__id").alias("left_doc"), F.col("__t").alias("__ta"))
    tb = toks.select(
        F.col("__id").alias("right_doc"),
        F.col("__t").alias("__tb"),
        F.size("__t").alias("__nb"),
    )
    m = F.col("overlap_tokens").cast("int")
    return (
        uniq.join(ta, "left_doc")
        .join(tb, "right_doc")
        .select(
            "left_doc",
            "right_doc",
            "overlap_tokens",
            F.array_join(
                F.concat("__ta", F.slice("__tb", m + 1, F.col("__nb") - m)),
                " ",
            ).alias("merged_text"),
        )
    )


# ---------------------------------------------------------------------------
# content-defined chunking (CDC) — shift-robust exact chunk dedup
# ---------------------------------------------------------------------------


def cdc_chunks(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    *,
    w: int = 4,
    boundary_mod: int = 32,
) -> DataFrame:
    """Content-defined chunks per document: a chunk boundary falls
    AFTER token position ``i`` whenever the hash of the ``w``-token
    window ending at ``i`` lands in the boundary class (``H(gram) %
    boundary_mod == 0`` over the md5-prefix integer, the engine's
    cross-engine hash idiom) — the Rabin-style rolling-boundary
    primitive (LBFS/storage dedup; Gopher/RefinedWeb-era corpus
    pipelines).  Unlike fixed windows (``dataprep.chunk_documents``,
    q53), boundaries are functions of CONTENT, so an insertion near
    a document's head shifts only the chunks up to the next
    boundary: downstream chunks re-align and exact chunk-hash dedup
    still finds the shared tail.

    Scale shape: the chunker is one hundred-percent per-row —
    boundary detection, segment splitting and chunk assembly are
    higher-order array expressions (filter/transform/zip_with) inside
    whole-stage codegen, so there is NO shuffle, NO UDF and NO
    explode-then-window pass; a document's cost is bounded by its
    own token count.  The only exchange in any downstream dedup is
    the final chunk-hash groupBy.

    Returns ``(id_col, chunk_idx, chunk_text, chunk_hash,
    n_tokens)`` — one row per chunk, ``chunk_idx`` 0-based in
    document order; empty documents yield no rows.
    """
    # token array and break list are BOUND (:func:`~.sqltext.bind`):
    # slicing the tokens() EXPRESSION from inside the boundary filter
    # re-runs the split per candidate position — O(n²) per document —
    # and the break list referenced from both the starts and the ends
    # would re-run the whole md5 boundary scan twice.  Candidate
    # boundary positions are w..n-1 (a break at n would open an empty
    # trailing chunk); sequence() descends when start > stop, so the
    # short-doc case is guarded explicitly.
    gram = f"concat_ws('|', slice(__ctk, __ci - {w} + 1, {w}))"
    idxs = (
        f"CASE WHEN size(__ctk) > {w} THEN sequence({w}, size(__ctk) - 1)"
        " ELSE CAST(array() AS array<int>) END"
    )
    breaks = (
        f"filter({idxs}, __ci -> CAST(conv(substring(md5({gram}), 1, 4), 16, 10)"
        f" AS BIGINT) % {boundary_mod} = 0)"
    )
    segs = (
        "zip_with(concat(array(1), transform(__cbr, __cb -> __cb + 1)),"
        " concat(__cbr, array(size(__ctk))),"
        " (__cs, __ce) -> concat_ws(' ', slice(__ctk, __cs, __ce - __cs + 1)))"
    )
    chunks = bind(TX.tokens(text_col), "__ctk", bind(breaks, "__cbr", segs))
    return (
        docs.selectExpr(id_col, f"posexplode({chunks}) AS (chunk_idx, chunk_text)")
        .filter("chunk_text != ''")
        .selectExpr(
            id_col,
            "CAST(chunk_idx AS BIGINT) AS chunk_idx",
            "chunk_text",
            "md5(chunk_text) AS chunk_hash",
            "CAST(size(split(chunk_text, ' ', -1)) AS BIGINT) AS n_tokens",
        )
    )


def cdc_dup_chunks(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    *,
    w: int = 4,
    boundary_mod: int = 32,
    min_copies: int = 2,
) -> DataFrame:
    """Chunk-level exact-duplication report over content-defined
    chunks: for every chunk text occurring at least ``min_copies``
    times, its hash, copy count, distinct-document spread and token
    length.  One combinable groupBy on ``chunk_hash`` — the
    boilerplate/shared-passage detector whose candidate unit is
    insertion-shift-robust (the CDC property ``cdc_chunks``
    documents)."""
    ch = cdc_chunks(docs, id_col, text_col, w=w, boundary_mod=boundary_mod)
    return (
        ch.groupBy("chunk_hash")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_copies"),
            F.countDistinct(id_col).cast("long").alias("n_docs"),
            F.max("n_tokens").cast("long").alias("n_tokens"),
        )
        .filter(F.col("n_copies") >= min_copies)
    )
