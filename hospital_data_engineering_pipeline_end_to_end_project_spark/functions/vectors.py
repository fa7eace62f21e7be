"""Vector math over ``array<float>`` embedding columns, as SQL text.

Builders take SQL text (a column name is SQL text) and return SQL
text (see :mod:`.sqltext`), so ``as_double -> dot -> norm -> cosine``
compose as strings and an operator wraps the result once with
``F.expr``: one JVM call per expression instead of 24 Py4J round
trips per Python lambda.  The folds are ``zip_with`` + ``aggregate``
left-folds — JVM-side, no UDF.  The fold order is the element order,
so dot products are bit-identical to any engine that loops the list
sequentially (DuckDB's ``list_dot_product``), which is what makes
similarity results oracle-checkable.
"""

from __future__ import annotations


def as_double(vec: str) -> str:
    return f"transform({vec}, __e -> CAST(__e AS DOUBLE))"


def dot(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, (__l, __r) -> __l * __r), 0.0D,"
        " (__acc, __p) -> __acc + __p)"
    )


def norm(a: str) -> str:
    return f"sqrt({dot(a, a)})"


def cosine(a: str, b: str) -> str:
    """dot / (|a| * |b|) — written exactly like the oracle SQL
    (``sqrt(dot(a,a)) * sqrt(dot(b,b))`` — NOT ``sqrt(na*nb)``, which
    is a different float expression).  The denominator is nullif-
    guarded so a zero vector yields NULL on BOTH engines (Spark's
    non-ANSI x/0.0 is NULL; DuckDB's IEEE default is inf/NaN — NaN
    would sort above real similarities in a DESC top-k)."""
    return f"{dot(a, b)} / nullif({norm(a)} * {norm(b)}, 0.0D)"
