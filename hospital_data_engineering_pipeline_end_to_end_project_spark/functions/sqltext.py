"""SQL-text building blocks for the expression builders.

Every higher-order expression in the engine (``transform``,
``filter``, ``aggregate``, ``zip_with``, ``array_sort``, ...) is
written as SQL text and handed to Spark once, through one ``F.expr``
or ``selectExpr`` call.  PySpark's Python-lambda form builds the same
Catalyst tree one Py4J round trip per node: on a 4-vCPU VM (local[2],
warm session) ``F.transform(c, lambda x: x + 1)`` costs 24 round trips
and 4.3 ms, ``F.expr("transform(c, x -> x + 1)")`` 3 and 0.31 ms.
Builders take SQL text (a column name is SQL text) and return SQL
text, so helpers compose as strings and an operator wraps the result
once.

Three rules keep the text row-identical to the Column form:

- double literals carry the ``D`` suffix (:func:`dlit`): a bare
  ``0.5`` parses as DECIMAL;
- lambda variables are ``__``-prefixed and named per helper, so a
  variable never shadows a column or an outer variable its body
  reads;
- ``F.split(c, " ")`` is ``split(c, ' ', -1)``.
"""

from __future__ import annotations


def lit(s: str) -> str:
    """A SQL string literal (backslash and quote escaped)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def dlit(x: float) -> str:
    """A double literal: ``repr`` is the shortest string that round-trips
    the exact IEEE value, and the ``D`` suffix keeps Spark from parsing
    a bare decimal as DECIMAL."""
    return repr(float(x)) + "D"


def darray(values) -> str:
    """A literal ``array<double>``: one parsed expression, however long."""
    return "array(" + ", ".join(map(dlit, values)) + ")"


def dmatrix(rows) -> str:
    """A literal ``array<array<double>>`` (K x dim centroid matrices)."""
    return "array(" + ", ".join(map(darray, rows)) + ")"


def bind(expr: str, var: str, body: str) -> str:
    """``body`` with ``var`` bound to ONE evaluation of ``expr``.

    Higher-order lambda bodies are interpreted per element with no
    subexpression cache: a body that references an expression (the
    token split, a distance array) re-evaluates it per element, O(n^2)
    per row.  Binding it as the variable of a transform over a
    one-element array evaluates it once."""
    return f"element_at(transform(array({expr}), {var} -> {body}), 1)"
