"""JSON-Schema (draft-07 subset) -> Column predicate compiler.

The reference validates each output row with fastjsonschema and annotates
``adtl_valid``/``adtl_error`` — invalid rows are kept, never dropped
(src/adtl/parser.py:736-757; docs/specification.md:87-92).  Long tables with
a ``oneOf`` discriminator get per-discriminator validators
(src/adtl/util.py:43-98).

Here the supported keyword set compiles to boolean Spark SQL expressions
(``adtl_spark.functions.sql``) evaluated in the same single pass as the
projection — one ``selectExpr`` per table: type / enum / const / required /
pattern / format:date / min-max(+exclusive) / multipleOf / length bounds /
item bounds / uniqueItems / items.enum, plus the draft-07 combinators
``anyOf`` / ``allOf`` / ``oneOf`` / ``not`` compiled RECURSIVELY — the
keyword set is closed under nesting, so arbitrary combinator trees stay
native (whole-stage codegen, no Python).

Properties using keywords outside that set fall back to an Arrow-batched
``jsonschema`` Draft-7 check per property (SURVEY §7.4.8): rendered cells
are decoded to their dynamic-typed Python values (what the reference's row
dicts hold at validation time, parser.py:736-757) and validated in
pandas-UDF batches; each such check is a staged column a projection before
the validator's computes.  Without the ``jsonschema`` package the long tail
degrades to a WARNING naming the ignored keywords — never a silent skip.
Error messages are this engine's own wording; parity is on validity and
counts, not message text (the reference's messages come from
fastjsonschema internals).

Type checks interpret the canonical-string cell rendering: a cell "25" *is*
the integer 25 (the reference's dynamic typing), so it fails a
``type: string`` check exactly as the reference's int cell does.
"""

from __future__ import annotations

import warnings
from functools import reduce
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from adtl_spark.functions import render as R
from adtl_spark.functions import sql as S
from adtl_spark.plans.compiler import Stage
from adtl_spark.plans.tables import row_position
from adtl_spark.spec import CompiledSpec, StrDict

# keywords the native compiler fully covers (closed under combinator
# recursion); anything else on a property triggers the jsonschema fallback
_NATIVE_KEYWORDS = {
    "type", "enum", "const", "pattern", "format", "minimum", "maximum",
    "exclusiveMinimum", "exclusiveMaximum", "minLength", "maxLength",
    "minItems", "maxItems", "items", "uniqueItems", "multipleOf",
    "anyOf", "allOf", "oneOf", "not",
    # annotations with no validation semantics
    "description", "title", "default", "examples", "category", "PrimaryKey",
}

# keywords that compare the cell as a number: (keyword, operator, message)
_BOUNDS = (
    ("minimum", "<", "must be bigger than or equal to"),
    ("maximum", ">", "must be smaller than or equal to"),
    ("exclusiveMinimum", "<=", "must be bigger than"),
    ("exclusiveMaximum", ">=", "must be smaller than"),
)
_NUMERIC_KEYWORDS = {k for k, _, _ in _BOUNDS} | {"multipleOf"}


def _type_check(x: str, is_array_col: bool, expected: str | list[str]) -> str:
    types = [expected] if isinstance(expected, str) else list(expected)
    checks = []
    for t in types:
        if t == "null":
            checks.append(S.is_null(x))
        elif t == "array":
            checks.append(S.lit(is_array_col))
        elif is_array_col:
            checks.append("false")
        elif t == "integer":
            checks.append(R.is_int_string(x))
        elif t == "number":
            checks.append(R.is_numeric_string(x))
        elif t == "boolean":
            checks.append(S.isin(x, ["True", "False"]))
        elif t == "string":
            checks.append(
                S.and_(S.not_(R.is_numeric_string(x)), S.not_(S.isin(x, ["True", "False"])))
            )
        else:
            checks.append("true")
    return S.or_(*checks)


def _keyword_checks(
    x: str, is_arr: bool, prop: StrDict, label: str
) -> list[tuple[str, str]]:
    """Unguarded (violation, message) pairs for the flat native keywords —
    callers add the presence guard once at the top level."""
    checks: list[tuple[str, str]] = []

    if "type" in prop:
        ok = _type_check(x, is_arr, prop["type"])
        checks.append((S.not_(ok), f"{label} must be {prop['type']}"))
    if "enum" in prop and not is_arr:
        rendered = [R.render_literal(v) for v in prop["enum"]]
        checks.append((S.not_(S.isin(x, rendered)), f"{label} must be one of {prop['enum']}"))
    if "const" in prop and not is_arr:
        checks.append(
            (
                f"({x} != {S.lit(R.render_literal(prop['const']))})",
                f"{label} must be same as const definition: {prop['const']}",
            )
        )
    if "pattern" in prop and not is_arr:
        checks.append(
            (S.not_(S.rlike(x, prop["pattern"])), f"{label} must match pattern {prop['pattern']}")
        )
    if prop.get("format") == "date" and not is_arr:
        parsed = S.call("try_to_timestamp", x, "'yyyy-M-d'")
        checks.append((S.is_null(parsed), f"{label} must be date"))

    if not is_arr and not _NUMERIC_KEYWORDS.isdisjoint(prop):
        num = S.when(R.is_numeric_string(x), S.cast(x, "DOUBLE"))
        for keyword, op, text in _BOUNDS:
            if keyword in prop:
                bound = S.lit(float(prop[keyword]))
                checks.append(
                    (
                        S.and_(S.is_not_null(num), f"({num} {op} {bound})"),
                        f"{label} {text} {prop[keyword]}",
                    )
                )
        if "multipleOf" in prop:
            # draft-07: the quotient must be integral; compute in double like
            # every validator does (exact for the int-valued cases that matter)
            quotient = f"({num} / {S.lit(float(prop['multipleOf']))})"
            integral = S.cast(S.call("floor", quotient), "DOUBLE")
            checks.append(
                (
                    S.and_(S.is_not_null(num), f"({quotient} != {integral})"),
                    f"{label} must be multiple of {prop['multipleOf']}",
                )
            )
    if "minLength" in prop and not is_arr:
        checks.append(
            (
                f"({S.call('length', x)} < {int(prop['minLength'])})",
                f"{label} must be longer than or equal to {prop['minLength']} characters",
            )
        )
    if "maxLength" in prop and not is_arr:
        checks.append(
            (
                f"({S.call('length', x)} > {int(prop['maxLength'])})",
                f"{label} must be shorter than or equal to {prop['maxLength']} characters",
            )
        )
    if "minItems" in prop and is_arr:
        checks.append(
            (
                f"({S.call('size', x)} < {int(prop['minItems'])})",
                f"{label} must contain at least {prop['minItems']} items",
            )
        )
    if "maxItems" in prop and is_arr:
        checks.append(
            (
                f"({S.call('size', x)} > {int(prop['maxItems'])})",
                f"{label} must contain at most {prop['maxItems']} items",
            )
        )
    if "items" in prop and is_arr and "enum" in prop.get("items", {}):
        rendered = [R.render_literal(v) for v in prop["items"]["enum"]]
        bad = S.call("exists", x, f"__v -> {S.not_(S.isin('__v', rendered))}")
        checks.append((bad, f"{label}[] must be one of {prop['items']['enum']}"))
    if prop.get("uniqueItems") and is_arr:
        dup = f"({S.call('size', x)} != {S.call('size', S.call('array_distinct', x))})"
        checks.append((dup, f"{label} must contain unique items"))
    return checks


def _satisfied(x: str, is_arr: bool, prop: StrDict) -> str:
    """True when the value satisfies ``prop`` — flat keywords AND nested
    combinators, recursively.  The native keyword set is closed under this
    recursion, so arbitrary anyOf/allOf/oneOf/not trees compile to pure
    boolean expression trees (no Python in the row path)."""
    violations = [v for v, _ in _keyword_checks(x, is_arr, prop, "x")]
    violations += [v for v, _ in _combinator_checks(x, is_arr, prop, "x")]
    # a violation expression may be null (e.g. numeric compare on a
    # non-numeric cell) — null means "not violated" here
    return S.and_("true", *[S.not_(S.call("coalesce", v, "false")) for v in violations])


def _combinator_checks(
    x: str, is_arr: bool, prop: StrDict, label: str
) -> list[tuple[str, str]]:
    """draft-07 combinators, compiled recursively via :func:`_satisfied`."""
    checks: list[tuple[str, str]] = []
    if "anyOf" in prop:
        any_ok = S.or_(*[_satisfied(x, is_arr, o) for o in prop["anyOf"]])
        checks.append((S.not_(any_ok), f"{label} must be valid by one of anyOf definition"))
    if "allOf" in prop:
        all_ok = S.and_(*[_satisfied(x, is_arr, o) for o in prop["allOf"]])
        checks.append((S.not_(all_ok), f"{label} must be valid by all of allOf definition"))
    if "oneOf" in prop:
        terms = [S.cast(_satisfied(x, is_arr, o), "INT") for o in prop["oneOf"]]
        count = reduce(lambda a, b: f"({a} + {b})", terms)
        checks.append((f"({count} != 1)", f"{label} must be valid exactly by one definition"))
    if "not" in prop:
        checks.append(
            (_satisfied(x, is_arr, prop["not"]), f"{label} must NOT be valid by not definition")
        )
    return checks


def _fallback_check(attr: str, prop: StrDict) -> Column | None:
    """Arrow-batched Draft-7 validity of ``attr`` for a property using
    keywords the native compiler does not cover.  Returns None when the
    ``jsonschema`` package is unavailable (caller downgrades to a
    warning)."""
    try:
        from jsonschema import Draft7Validator
    except ImportError:
        return None
    import pandas as pd

    schema = dict(prop)

    def _check_batch(values: pd.Series) -> pd.Series:
        validator = Draft7Validator(schema)

        def one(v: Any) -> bool | None:
            if v is None:
                return None  # absent: presence handled by `required`
            if not isinstance(v, str) and hasattr(v, "__len__") and len(v) == 0:
                return None
            return bool(validator.is_valid(R.decode(v)))

        return values.map(one).astype("object")

    # pandas_udf infers its kind from type hints, which ``from __future__
    # import annotations`` leaves as strings naming a local import: give it
    # the objects
    _check_batch.__annotations__ = {"values": pd.Series, "return": pd.Series}
    return F.pandas_udf(_check_batch, "boolean")(F.col(attr))


def _property_checks(
    attr: str,
    prop: StrDict,
    df_columns: list[str],
    array_cols: set[str],
    stage: Stage,
) -> list[tuple[str, str]]:
    """(violation_condition, message) pairs for one schema property.  A
    jsonschema fallback check is a ``stage`` column."""
    if attr not in df_columns:
        return []
    x = S.ident(attr)
    is_arr = attr in array_cols
    present = S.is_not_null(x)

    unsupported = set(prop) - _NATIVE_KEYWORDS
    if unsupported:
        fb = _fallback_check(attr, prop)
        if fb is not None:
            violation = f"({stage.udf(fb)} = false)"
            return [
                (
                    S.and_(present, S.call("coalesce", violation, "false")),
                    f"data.{attr} must be valid by schema definition",
                )
            ]
        warnings.warn(
            f"validation: property {attr!r} uses unsupported keyword(s) "
            f"{sorted(unsupported)} and the 'jsonschema' package is not "
            "installed — these keywords are NOT checked",
            UserWarning,
        )

    checks = _keyword_checks(x, is_arr, prop, f"data.{attr}")
    checks += _combinator_checks(x, is_arr, prop, f"data.{attr}")
    return [(S.and_(present, S.call("coalesce", c, "false")), msg) for c, msg in checks]


def _subschema_violations(
    schema: StrDict, columns: list[str], array_cols: set[str], stage: Stage
) -> list[tuple[str, str]]:
    checks: list[tuple[str, str]] = []
    for req in schema.get("required", []):
        cond = S.is_null(S.ident(req)) if req in columns else "true"
        checks.append((cond, f"data must contain ['{req}'] properties"))
    for attr, prop in schema.get("properties", {}).items():
        if isinstance(prop, dict):
            checks.extend(_property_checks(attr, prop, columns, array_cols, stage))
    return checks


def _discriminator_subschemas(
    schema: StrDict, discriminator: str
) -> list[tuple[list[str], StrDict]] | None:
    """Expand oneOf options keyed by discriminator const/enum
    (mirrors util.expand_schema semantics): one (keys, subschema) pair per
    option.  A key listed in several options belongs to the last of them."""
    options = schema.get("oneOf", [])
    if not any("properties" in o for o in options):
        return None
    general_props = schema.get("properties", {})
    general_req = schema.get("required", [])
    subs: list[StrDict] = []
    owner: dict[str, int] = {}
    for option in options:
        props = option.get("properties", {})
        disc = props.get(discriminator, {})
        if "const" in disc:
            keys = [disc["const"]]
        elif "enum" in disc:
            keys = list(disc["enum"])
        else:
            return None  # fall back to unexpanded mode
        for k in keys:
            owner[str(k)] = len(subs)
        subs.append(
            {
                "properties": {**general_props, **props},
                "required": general_req + option.get("required", []),
            }
        )
    expanded = [
        ([k for k, i in owner.items() if i == n], sub) for n, sub in enumerate(subs)
    ]
    return [(keys, sub) for keys, sub in expanded if keys] or None


def annotate_validation(
    spec: CompiledSpec, table: str, df: DataFrame
) -> DataFrame:
    """Add adtl_valid / adtl_error columns; rows are never dropped."""
    schema = spec.schemas.get(table)
    if schema is None:
        return df
    fields = df.schema.fields
    columns = [f.name for f in fields]
    array_cols = {f.name for f in fields if f.dataType.typeName() == "array"}
    stage = Stage()

    meta = spec.tables[table]
    error = None
    if meta.get("kind") == "oneToMany" and meta.get("discriminator") and "oneOf" in schema:
        expanded = _discriminator_subschemas(schema, meta["discriminator"])
        if expanded is not None:
            disc = S.ident(meta["discriminator"])
            # each option's checks compiled once, selected by its keys;
            # unknown and null discriminators fall through to the message
            cases = [
                (
                    S.isin(disc, keys),
                    _first_error(_subschema_violations(sub, columns, array_cols, stage)),
                )
                for keys, sub in expanded
            ]
            unknown_msg = S.call(
                "concat",
                S.lit("No validator found for attribute '"),
                S.call("coalesce", disc, "'None'"),
                S.lit(f"' in table '{table}'"),
            )
            error = S.case(cases, unknown_msg)
    if error is None:
        error = _first_error(_subschema_violations(schema, columns, array_cols, stage))
    # staged, the error chain runs once per row: CollapseProject does not
    # inline a non-cheap column that the next projection reads twice.
    # adtl_valid / adtl_error are prepended in one projection; staged
    # columns are dropped again
    error = stage.expr(error)
    return stage.apply(df).selectExpr(
        S.alias(S.is_null(error), "adtl_valid"),
        S.alias(error, "adtl_error"),
        *[S.ident(c) for c in columns],
    )


def _first_error(checks: list[tuple[str, str]]) -> str:
    """The message of the first violated check, else NULL."""
    return S.case([(cond, S.lit(msg)) for cond, msg in checks], S.NULL_STRING)


def _positioned(name: str, df: DataFrame) -> DataFrame:
    """``df``'s rows as (table, adtl_error, valid, position): the input of
    the report's one aggregate."""
    df, pos = row_position(df)
    return df.select(
        F.lit(name).alias("table"),
        "adtl_error",
        F.col("adtl_valid").cast("int").alias("valid"),
        pos.alias("position"),
    )


def validation_report(tables: dict[str, DataFrame]) -> dict[str, Any]:
    """S9 validation counters: totals + error histogram per table
    (reference: parser.py:845-863, cli.py:78-90).  The validated tables'
    rows are unioned and counted per (table, ``adtl_error``) — its null
    key holds the valid rows — by one aggregate, with the least
    ``row_position`` of each message's rows: one shuffle and one action.
    A table's messages come in the order of their first rows, as the
    reference's ``Counter`` over the rows gives them."""
    report: dict[str, Any] = {"total": {}, "total_valid": {}, "validation_errors": {}}
    names = [name for name, df in tables.items() if "adtl_valid" in df.columns]
    if not names:
        return report
    for name in names:
        report["total"][name] = 0
        report["total_valid"][name] = 0
        report["validation_errors"][name] = {}
    rows = (
        reduce(DataFrame.union, [_positioned(name, tables[name]) for name in names])
        .groupBy("table", "adtl_error")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("valid").alias("valid"),
            F.min("position").alias("first"),
        )
        .collect()
    )
    for table, error, n, valid, first in sorted(rows, key=lambda r: r.first):
        report["total"][table] += n
        report["total_valid"][table] += valid or 0
        if error is not None:
            report["validation_errors"][table][error] = n
    return report
