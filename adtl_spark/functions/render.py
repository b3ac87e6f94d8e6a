"""Canonical rendering for adtl's dynamically-typed cells.

The reference engine produces *per-cell* dynamic Python values: every string
result is re-parsed as int, then float, then left as a string
(src/adtl/get_value.py:162-170); a failed schema cast keeps the original
value (src/adtl/util.py:29-40).  Spark columns are statically typed, so the
engine's bit-compat mode represents every scalar cell as a **StringType
column holding the canonical Python rendering** of the dynamic value:

- ``int``   -> ``str(int(v))``     ("007" -> "7")
- ``float`` -> ``str(float(v))``   ("2.50" -> "2.5")
- ``bool``  -> ``"True"``/``"False"``
- ``None``  -> SQL null
- lists     -> ``ArrayType(StringType)`` with element-rendered values

This matches what the reference's CSV sink writes cell-for-cell for the value
domains exercised by its test corpus.  Divergence: Java renders doubles
outside [1e-3, 1e7) in scientific notation where Python may not; such
magnitudes do not occur in the reference fixtures.

The builders below take and return Spark SQL expression text
(``adtl_spark.functions.sql``); wrap a result in ``F.expr`` where a
``Column`` is needed.
"""

from __future__ import annotations

from typing import Any

from adtl_spark.functions import sql as S

# Python int()/float() accept surrounding whitespace; keep parity.
INT_REGEX = r"^\s*[+-]?[0-9]+\s*$"
FLOAT_REGEX = r"^\s*[+-]?(([0-9]+\.?[0-9]*)|(\.[0-9]+))([eE][+-]?[0-9]+)?\s*$"


def is_int_string(x: str) -> str:
    return S.rlike(x, INT_REGEX)


def is_float_string(x: str) -> str:
    return S.rlike(x, FLOAT_REGEX)


def is_numeric_string(x: str) -> str:
    """True when Python ``int(v)`` or ``float(v)`` would succeed."""
    return S.rlike(x, FLOAT_REGEX)


def render_double(x: str) -> str:
    """Render a double the way Python ``str(float)`` does for the common
    magnitude range: integral doubles keep one trailing ``.0``."""
    return S.cast(S.cast(x, "DOUBLE"), "STRING")


def render_long(x: str) -> str:
    return S.cast(S.cast(x, "BIGINT"), "STRING")


def render_bool(x: str) -> str:
    return S.case([(x, "'True'"), (S.not_(x), "'False'")])


def numeric_coerce(x: str) -> str:
    """The reference's final int-then-float coercion on string values
    (src/adtl/get_value.py:162-170), expressed as a canonical re-rendering.

    Non-numeric strings pass through unchanged; empty string is left to the
    caller (the reference nulls ``""`` *before* this step).
    """
    return S.case(
        [(is_int_string(x), render_long(x)), (is_float_string(x), render_double(x))],
        x,
    )


def render_literal(value: object) -> str | None:
    """Driver-side canonical rendering of a spec literal (map values,
    constants).  Applies the same int/float re-parse the engine applies to
    string results so 'values = {"1" = "2"}' renders as "2" -> int 2 -> "2".
    """
    if value is None:
        return None
    if isinstance(value, bool):
        return "True" if value else "False"
    if isinstance(value, (int, float)):
        return str(value)
    if isinstance(value, str):
        try:
            return str(int(value))
        except ValueError:
            try:
                return str(float(value))
            except ValueError:
                return value
    return str(value)


def decode(v: Any) -> Any:
    """The dynamic Python value a canonical cell holds: "True"/"False"
    become bools, then int, then float, else the string stays; list cells
    (lists or numpy arrays) decode element-wise; other values pass as
    they are."""
    if isinstance(v, str):
        if v in ("True", "False"):
            return v == "True"
        for parse in (int, float):
            try:
                return parse(v)
            except ValueError:
                pass
        return v
    if v is not None and not isinstance(v, dict) and hasattr(v, "__iter__"):
        return [decode(x) for x in v]
    return v


def repr_element(x: str) -> str:
    """Python ``repr`` of a rendered element, for ``str(list)`` CSV parity:
    numbers and booleans bare, everything else single-quoted."""
    is_bare = S.or_(S.rlike(x, FLOAT_REGEX), S.isin(x, ["True", "False", "None"]))
    quote = S.lit("'")
    return S.case([(is_bare, x)], S.call("concat", quote, x, quote))


def render_array_python(x: str) -> str:
    """Render an array<string> as Python's ``str(list)``:
    ``['a', 'b']`` / ``[1, 2]`` — what the reference CSV sink emits for
    combinedType list/set cells."""
    items = S.call("transform", x, f"__e -> {repr_element('__e')}")
    return S.when(
        S.is_not_null(x),
        S.call(
            "concat",
            S.lit("["),
            S.call("array_join", items, S.lit(", "), S.lit("None")),
            S.lit("]"),
        ),
    )
