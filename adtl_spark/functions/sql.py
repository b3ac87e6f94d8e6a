"""Spark SQL expression text builders.

The rule compiler and the validator emit SQL expression *text* instead of
``Column`` trees: a table's projection is then one ``selectExpr`` call, and
the JVM parser builds each output column's tree in one py4j round trip
instead of Python building it node by node (every ``F.*`` call costs
several round trips).

Every builder returns a self-delimited expression — a literal, an
identifier, a function call, a ``CASE ... END`` or a parenthesized operator
expression — so results nest without precedence surprises.  Literals keep
the types ``F.lit`` gives them (int, bigint, double, string, boolean,
binary), so the parsed plans equal the ``Column``-built ones.
"""

from __future__ import annotations

import math
from typing import Any, Iterable

NULL_STRING = "CAST(NULL AS STRING)"
_INT_MIN, _INT_MAX = -(2**31), 2**31 - 1


class Sql(str):
    """SQL expression text, as opposed to a literal string value (used
    where a parameter may be either)."""


def lit(value: Any) -> str:
    """``value`` as a typed SQL literal: the type ``F.lit(value)`` gives.
    Strings are escaped for ``spark.sql.parser.escapedStringLiterals=false``
    (Spark's default)."""
    if value is None:
        return "NULL"
    if isinstance(value, bool):
        return "true" if value else "false"
    if isinstance(value, int):
        return str(value) if _INT_MIN <= value <= _INT_MAX else f"{value}L"
    if isinstance(value, float):
        if math.isnan(value):
            return "CAST('NaN' AS DOUBLE)"
        if math.isinf(value):
            return f"CAST('{'-' if value < 0 else ''}Infinity' AS DOUBLE)"
        return f"{value!r}D"
    if isinstance(value, (bytes, bytearray)):
        return f"X'{bytes(value).hex()}'"
    if isinstance(value, (list, tuple)):
        return call("array", *[lit(v) for v in value])
    text = str(value).replace("\\", "\\\\").replace("'", "\\'")
    return f"'{text}'"


def ident(name: str) -> str:
    """A backtick-quoted column or field name."""
    return "`" + name.replace("`", "``") + "`"


def call(fn: str, *args: str) -> str:
    return f"{fn}({', '.join(args)})"


def cast(expr: str, type_: str) -> str:
    return f"CAST({expr} AS {type_})"


def alias(expr: str, name: str) -> str:
    return f"{expr} AS {ident(name)}"


def not_(expr: str) -> str:
    return f"(NOT {expr})"


def and_(*exprs: str) -> str:
    return exprs[0] if len(exprs) == 1 else "(" + " AND ".join(exprs) + ")"


def or_(*exprs: str) -> str:
    return exprs[0] if len(exprs) == 1 else "(" + " OR ".join(exprs) + ")"


def is_null(expr: str) -> str:
    return f"({expr} IS NULL)"


def is_not_null(expr: str) -> str:
    return f"({expr} IS NOT NULL)"


def isin(expr: str, values: Iterable[Any]) -> str:
    """``expr IN (literals)``; an empty list is false, as ``isin()`` is."""
    items = [lit(v) for v in values]
    return f"({expr} IN ({', '.join(items)}))" if items else "false"


def rlike(expr: str, pattern: str) -> str:
    return f"({expr} RLIKE {lit(pattern)})"


def case(branches: Iterable[tuple[str, str]], default: str | None = None) -> str:
    """``CASE WHEN c1 THEN v1 ... [ELSE default] END``; with no branch,
    ``default`` itself (NULL when there is none)."""
    whens = [f"WHEN {c} THEN {v}" for c, v in branches]
    if not whens:
        return "NULL" if default is None else default
    tail = "" if default is None else f" ELSE {default}"
    return f"CASE {' '.join(whens)}{tail} END"


def when(cond: str, value: str) -> str:
    return case([(cond, value)])


def field(expr: str, name: str) -> str:
    """A struct field of ``expr``."""
    return f"{expr}.{ident(name)}"


def named_struct(pairs: Iterable[tuple[str, str]]) -> str:
    return call("named_struct", *[a for n, v in pairs for a in (lit(n), v)])
