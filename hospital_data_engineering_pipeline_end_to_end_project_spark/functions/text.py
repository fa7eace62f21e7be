"""Text-analysis Column library (LLM-data-pipeline extension ops).

Everything here is built-in ``pyspark.sql.functions`` — JVM-side,
whole-stage-codegen'd, no Python in the row path — so the same
expressions run unchanged over 100 TB of documents.  Determinism is
load-bearing: shingles, fingerprints and MinHash signatures use md5
(stable across engines/runs), never ``hash()``/``xxhash64`` whose
values are engine-specific.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: tiny per-language stopword indicator sets for the heuristic
#: language ID (n-gram/stopword approach; deterministic, SQL-mirrorable)
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "for"),
    "es": ("el", "la", "de", "y", "en", "que", "los", "una"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein"),
    "fr": ("le", "la", "de", "et", "les", "des", "une", "est"),
}


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization (single-space split, empties dropped) —
    matches DuckDB ``string_split(text, ' ')`` exactly."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(c, " "), lambda x: x != "")


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col))


def shingles(col: Column | str, n: int = 5) -> Column:
    """Word n-gram shingles: positions ``0 .. len-n`` joined by a
    space.  Empty array when the document is shorter than ``n``
    (guarded — ``sequence`` would otherwise run descending).

    The token array is BOUND as a lambda variable (transform over a
    one-element wrapper) so the window lambda slices an
    already-evaluated array: referencing the ``tokens()`` expression
    from inside the per-position lambda re-runs the split PER
    POSITION (higher-order lambda bodies are interpreted per element,
    no subexpression cache) — O(tokens²) per document, measured 100x
    on 2k-token docs (r14)."""
    return F.element_at(
        F.transform(
            F.array(tokens(col)),
            lambda tk: F.when(
                F.size(tk) >= n,
                F.transform(
                    F.sequence(F.lit(0), F.size(tk) - n),
                    lambda i: F.array_join(F.slice(tk, i + 1, n), " "),
                ),
            ).otherwise(F.array().cast("array<string>")),
        ),
        1,
    )


def fingerprint(col: Column | str) -> Column:
    """Document fingerprint: md5 over the sorted distinct token set —
    a canonical-form content hash (word-order / duplication
    insensitive), the cheap exact-near-dup key."""
    t = tokens(col)
    return F.md5(F.array_join(F.array_sort(F.array_distinct(t)), " "))


def minhash_signature(col: Column | str, num_hashes: int = 8, n: int = 5) -> Column:
    """MinHash signature as an array of ``num_hashes`` hex strings.

    Permutation ``j`` is simulated by ``min(md5(j || '|' || shingle))``
    — the lexicographic min of a keyed cryptographic hash, which is a
    valid min-wise permutation family and, critically, reproducible in
    any engine with md5 (the DuckDB oracle recomputes it bit-for-bit).
    Empty-shingle docs get nulls in the signature.
    """
    def keyed_hash(j: int):
        # closure factory — a default-arg lambda would make PySpark
        # pass the array INDEX as the second parameter
        prefix = f"{j}|"
        return lambda s: F.md5(F.concat(F.lit(prefix), s))

    # bind the shingle array once: the `num_hashes` array_min terms
    # would otherwise each re-evaluate the whole shingle build
    # (8x the tokenize+join work per row — HOF expressions are
    # interpreted, so projection-level CSE never sees them)
    return F.element_at(
        F.transform(
            F.array(shingles(col, n)),
            lambda sh: F.array(
                *[
                    F.array_min(F.transform(sh, keyed_hash(j)))
                    for j in range(num_hashes)
                ]
            ),
        ),
        1,
    )


def quality_features(col: Column | str) -> dict[str, Column]:
    """Deterministic quality-scoring features (length / punctuation /
    stopword ratios) used for corpus filtering.

    Each returned Column tokenizes AT MOST ONCE per row: features
    that reference the token array (or its size) more than once bind
    it as a lambda variable over a one-element wrapper, so placing
    several features in one projection costs one linear split per
    feature instead of one per reference (r15; the dict API means the
    split cannot be shared ACROSS features — callers that need every
    feature and care can bind ``tokens()`` as their own column)."""
    c = F.col(col) if isinstance(col, str) else col
    t = tokens(c)
    n_chars = F.length(c)
    n_punct = n_chars - F.length(F.regexp_replace(c, r"[\.,;:!\?]", ""))

    def bound_tokens(fn):
        return F.element_at(F.transform(F.array(t), fn), 1)

    return {
        "n_chars": n_chars,
        "n_tokens": F.size(t),
        "avg_token_len": bound_tokens(
            lambda tk: F.round(
                (n_chars - F.size(tk) + 1).cast("double") / F.size(tk), 6
            )
        ),
        "punct_ratio": F.round(n_punct.cast("double") / n_chars, 6),
        "stopword_ratio": bound_tokens(
            lambda tk: F.round(
                F.size(F.filter(tk, lambda x: x.isin(*LANG_STOPWORDS["en"])))
                .cast("double")
                / F.size(tk),
                6,
            )
        ),
    }


def lang_hits(col: Column | str, lang: str) -> Column:
    """Stopword-hit count for one language (repeats counted)."""
    return F.size(F.filter(tokens(col), lambda x: x.isin(*LANG_STOPWORDS[lang])))


def lang_guess_from_hits(
    en: Column, es: Column, de: Column, fr: Column
) -> Column:
    """Argmax over precomputed language hit counts, fixed precedence
    en>es>de>fr, 'und' (undetermined) when nothing hits.  Callers
    that already carry hit-count columns (q23) use this directly so
    the when-chain's repeated references stay cheap attribute reads."""
    return (
        F.when((en >= es) & (en >= de) & (en >= fr) & (en > 0), F.lit("en"))
        .when((es >= de) & (es >= fr) & (es > 0), F.lit("es"))
        .when((de >= fr) & (de > 0), F.lit("de"))
        .when(fr > 0, F.lit("fr"))
        .otherwise(F.lit("und"))
    )


def lang_guess(col: Column | str) -> Column:
    """Argmax over language hit counts, fixed precedence en>es>de>fr,
    'und' (undetermined) when nothing hits.

    The token array is bound once and the four hit counts once more
    (nested one-element-array bindings, the r14/r15 idiom): the flat
    form re-split the text per hit count AND re-counted per when-chain
    reference — ~14 linear passes per row; this form does one split +
    four filters."""

    def is_stopword(lang: str):
        # closure factory — a default-arg lambda would make PySpark
        # pass the array INDEX as the second parameter
        words = LANG_STOPWORDS[lang]
        return lambda x: x.isin(*words)

    return F.element_at(
        F.transform(
            F.array(tokens(col)),
            lambda tk: F.element_at(
                F.transform(
                    F.array(
                        F.array(
                            *[
                                F.size(F.filter(tk, is_stopword(L)))
                                for L in ("en", "es", "de", "fr")
                            ]
                        )
                    ),
                    lambda h: lang_guess_from_hits(
                        F.element_at(h, 1),
                        F.element_at(h, 2),
                        F.element_at(h, 3),
                        F.element_at(h, 4),
                    ),
                ),
                1,
            ),
        ),
        1,
    )


def canonical_url(col: Column | str) -> Column:
    """Canonicalize a URL for dedup keying — the crawl-pipeline
    normalizer that makes ``HTTPS://WWW.Site.com:443/a/?utm_x=1&b=2``
    and ``https://site.com/a?b=2`` the same document key.

    Steps (each a portable regexp/array expression with an exact
    DuckDB mirror — see ``plans/wave10.CANON_SQL``):

    1. strip the ``#fragment``;
    2. lowercase the scheme and the authority (host:port) — never the
       path, which is case-sensitive by spec;
    3. drop a default port (``:443`` for https, ``:80`` for http) and
       a leading ``www.``;
    4. drop tracking params (``utm_*``, ``fbclid``), sort the
       remaining query params, re-join;
    5. strip trailing slashes from the path (empty path -> ``/``).

    Pure Column expressions (regexp_extract / regexp_replace / split /
    array_sort / array_join) — scan-speed at any scale, no UDF.
    """
    u = F.col(col) if isinstance(col, str) else col
    u = F.regexp_replace(u, "#.*$", "")
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.\-]*)://", 1))
    rest = F.regexp_replace(u, r"^[A-Za-z][A-Za-z0-9+.\-]*://", "")
    auth = F.lower(F.regexp_extract(rest, r"^([^/?#]*)", 1))
    auth = F.when(scheme == "https", F.regexp_replace(auth, ":443$", "")) \
        .when(scheme == "http", F.regexp_replace(auth, ":80$", "")) \
        .otherwise(auth)
    auth = F.regexp_replace(auth, r"^www\.", "")
    path = F.regexp_extract(rest, r"^[^/?#]*([^?#]*)", 1)
    path = F.regexp_replace(path, "/+$", "")
    path = F.when(path == "", F.lit("/")).otherwise(path)
    query = F.regexp_extract(rest, r"\?([^#]*)", 1)
    params = F.array_sort(
        F.filter(
            F.split(query, "&"),
            lambda p: (p != "")
            & ~p.startswith("utm_")
            & ~p.startswith("fbclid="),
        )
    )
    q2 = F.array_join(params, "&")
    return F.concat(
        scheme,
        F.lit("://"),
        auth,
        path,
        F.when(q2 == "", F.lit("")).otherwise(F.concat(F.lit("?"), q2)),
    )
