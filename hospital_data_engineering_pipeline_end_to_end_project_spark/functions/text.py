"""Text-analysis expression library (LLM-data-pipeline extension ops).

Every builder takes SQL text (a column name is SQL text) and returns
SQL text; an operator wraps the result once with ``F.expr``.  Helpers
therefore compose as strings (tokens -> shingles -> minhash) and a
whole per-row pipeline reaches the JVM in one call instead of one Py4J
round trip per Column node (see :mod:`.sqltext`: a Python-lambda
``F.transform`` costs 24 round trips, its SQL text 3).

Everything here is built-in Spark SQL — JVM-side, whole-stage-codegen'd,
no Python in the row path — so the same expressions run unchanged over
100 TB of documents.  Determinism is load-bearing: shingles,
fingerprints and MinHash signatures use md5 (stable across
engines/runs), never ``hash()``/``xxhash64`` whose values are
engine-specific.

Higher-order lambda bodies are interpreted per element with no
subexpression cache, so every array a body reads more than once (the
token array, the shingle array, the hit counts) is bound once with
:func:`~.sqltext.bind`: referencing the ``tokens()`` expression from
inside a per-position lambda re-runs the split PER POSITION, O(tokens²)
per document, measured 100x on 2k-token docs.
"""

from __future__ import annotations

from hospital_data_engineering_pipeline_end_to_end_project_spark.functions.sqltext import bind, lit

#: tiny per-language stopword indicator sets for the heuristic
#: language ID (n-gram/stopword approach; deterministic, SQL-mirrorable)
#: punctuation class of the quality features' punctuation ratio
PUNCT_RE = lit(r"[\.,;:!\?]")

LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "for"),
    "es": ("el", "la", "de", "y", "en", "que", "los", "una"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein"),
    "fr": ("le", "la", "de", "et", "les", "des", "une", "est"),
}


def tokens(col: str) -> str:
    """Whitespace tokenization (single-space split, empties dropped) —
    matches DuckDB ``string_split(text, ' ')`` exactly."""
    return f"filter(split({col}, ' ', -1), __tok -> __tok != '')"


def token_count(col: str) -> str:
    return f"size({tokens(col)})"


def hits(tk: str, words) -> str:
    """How many elements of the token array ``tk`` are in ``words``
    (repeats counted)."""
    return f"size(filter({tk}, __w -> __w IN ({', '.join(map(lit, words))})))"


def shingles(col: str, n: int = 5) -> str:
    """Word n-gram shingles: positions ``0 .. len-n`` joined by a
    space.  Empty array when the document is shorter than ``n``
    (guarded — ``sequence`` would otherwise run descending)."""
    return bind(
        tokens(col),
        "__stk",
        f"CASE WHEN size(__stk) >= {n} THEN transform(sequence(0, size(__stk) - {n}),"
        f" __si -> array_join(slice(__stk, __si + 1, {n}), ' '))"
        " ELSE CAST(array() AS array<string>) END",
    )


def fingerprint(col: str) -> str:
    """Document fingerprint: md5 over the sorted distinct token set —
    a canonical-form content hash (word-order / duplication
    insensitive), the cheap exact-near-dup key."""
    return f"md5(array_join(array_sort(array_distinct({tokens(col)})), ' '))"


def minhash_signature(col: str, num_hashes: int = 8, n: int = 5) -> str:
    """MinHash signature as an array of ``num_hashes`` hex strings.

    Permutation ``j`` is simulated by ``min(md5(j || '|' || shingle))``
    — the lexicographic min of a keyed cryptographic hash, which is a
    valid min-wise permutation family and, critically, reproducible in
    any engine with md5 (the DuckDB oracle recomputes it bit-for-bit).
    Empty-shingle docs get nulls in the signature.  The shingle array
    is bound once: the ``num_hashes`` terms would otherwise each
    re-run the whole shingle build.
    """
    mins = ", ".join(
        f"array_min(transform(__msh, __ms -> md5(concat('{j}|', __ms))))"
        for j in range(num_hashes)
    )
    return bind(shingles(col, n), "__msh", f"array({mins})")


def quality_features(col: str) -> dict[str, str]:
    """Deterministic quality-scoring features (length / punctuation /
    stopword ratios) used for corpus filtering.

    Each returned expression tokenizes AT MOST ONCE per row: the
    ratios bind the token array (the dict API means the split cannot
    be shared ACROSS features — callers that need every feature and
    care can bind ``tokens()`` as their own column)."""
    n_chars = f"length({col})"
    n_punct = f"({n_chars} - length(regexp_replace({col}, {PUNCT_RE}, '')))"
    return {
        "n_chars": n_chars,
        "n_tokens": token_count(col),
        "avg_token_len": bind(
            tokens(col), "__qtk",
            f"round(CAST({n_chars} - size(__qtk) + 1 AS DOUBLE) / size(__qtk), 6)",
        ),
        "punct_ratio": f"round(CAST({n_punct} AS DOUBLE) / {n_chars}, 6)",
        "stopword_ratio": bind(
            tokens(col), "__qtk",
            f"round(CAST({hits('__qtk', LANG_STOPWORDS['en'])} AS DOUBLE) / size(__qtk), 6)",
        ),
    }


def lang_hits(col: str, lang: str) -> str:
    """Stopword-hit count for one language (repeats counted)."""
    return hits(tokens(col), LANG_STOPWORDS[lang])


def lang_guess_from_hits(en: str, es: str, de: str, fr: str) -> str:
    """Argmax over precomputed language hit counts, fixed precedence
    en>es>de>fr, 'und' (undetermined) when nothing hits.  Callers
    that already carry hit-count columns (q23) use this directly so
    the CASE chain's repeated references stay cheap attribute reads."""
    return (
        f"CASE WHEN {en} >= {es} AND {en} >= {de} AND {en} >= {fr} AND {en} > 0 THEN 'en'"
        f" WHEN {es} >= {de} AND {es} >= {fr} AND {es} > 0 THEN 'es'"
        f" WHEN {de} >= {fr} AND {de} > 0 THEN 'de'"
        f" WHEN {fr} > 0 THEN 'fr' ELSE 'und' END"
    )


def lang_guess(col: str) -> str:
    """Argmax over language hit counts, fixed precedence en>es>de>fr,
    'und' (undetermined) when nothing hits: one split and four
    filters per row (the token array and the four hit counts are
    bound once each)."""
    counts = ", ".join(hits("__ltk", LANG_STOPWORDS[L]) for L in ("en", "es", "de", "fr"))
    guess = lang_guess_from_hits(*(f"element_at(__lh, {i})" for i in range(1, 5)))
    return bind(tokens(col), "__ltk", bind(f"array({counts})", "__lh", guess))


def canonical_url(col: str) -> str:
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

    Pure expressions (regexp_extract / regexp_replace / split /
    array_sort / array_join) — scan-speed at any scale, no UDF.
    """
    scheme_re = lit(r"^([A-Za-z][A-Za-z0-9+.\-]*)://")
    prefix_re = lit(r"^[A-Za-z][A-Za-z0-9+.\-]*://")
    u = f"regexp_replace({col}, '#.*$', '')"
    scheme = f"lower(regexp_extract({u}, {scheme_re}, 1))"
    rest = f"regexp_replace({u}, {prefix_re}, '')"
    auth = f"lower(regexp_extract({rest}, '^([^/?#]*)', 1))"
    auth = (
        f"CASE WHEN {scheme} = 'https' THEN regexp_replace({auth}, ':443$', '')"
        f" WHEN {scheme} = 'http' THEN regexp_replace({auth}, ':80$', '') ELSE {auth} END"
    )
    www_re, query_re = lit(r"^www\."), lit(r"\?([^#]*)")
    auth = f"regexp_replace({auth}, {www_re}, '')"
    path = f"regexp_replace(regexp_extract({rest}, '^[^/?#]*([^?#]*)', 1), '/+$', '')"
    path = f"CASE WHEN {path} = '' THEN '/' ELSE {path} END"
    query = f"regexp_extract({rest}, {query_re}, 1)"
    q2 = (
        f"array_join(array_sort(filter(split({query}, '&', -1), __qp -> __qp != ''"
        " AND NOT startswith(__qp, 'utm_') AND NOT startswith(__qp, 'fbclid='))), '&')"
    )
    return f"concat({scheme}, '://', {auth}, {path}, CASE WHEN {q2} = '' THEN '' ELSE concat('?', {q2}) END)"
