"""JSON-Schema (draft-07 subset) -> Column predicate compiler.

The reference validates each output row with fastjsonschema and annotates
``adtl_valid``/``adtl_error`` — invalid rows are kept, never dropped
(src/adtl/parser.py:736-757; docs/specification.md:87-92).  Long tables with
a ``oneOf`` discriminator get per-discriminator validators
(src/adtl/util.py:43-98).

Here the supported keyword set compiles to boolean Columns evaluated in the
same single pass as the projection: type / enum / const / required /
pattern / format:date / min-max(+exclusive) / multipleOf / length bounds /
item bounds / uniqueItems / items.enum, plus the draft-07 combinators
``anyOf`` / ``allOf`` / ``oneOf`` / ``not`` compiled RECURSIVELY — the
keyword set is closed under nesting, so arbitrary combinator trees stay
native (whole-stage codegen, no Python).

Properties using keywords outside that set fall back to an Arrow-batched
``jsonschema`` Draft-7 check per property (SURVEY §7.4.8): rendered cells
are decoded to their dynamic-typed Python values (what the reference's row
dicts hold at validation time, parser.py:736-757) and validated in
pandas-UDF batches.  Without the ``jsonschema`` package the long tail
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

# keywords that compare the cell as a number
_NUMERIC_KEYWORDS = {
    "minimum", "maximum", "exclusiveMinimum", "exclusiveMaximum", "multipleOf",
}


def _type_check(col: Column, is_array_col: bool, expected: str | list[str]) -> Column:
    types = [expected] if isinstance(expected, str) else list(expected)
    checks = []
    for t in types:
        if t == "null":
            checks.append(col.isNull())
        elif t == "array":
            checks.append(F.lit(is_array_col))
        elif is_array_col:
            checks.append(F.lit(False))
        elif t == "integer":
            checks.append(R.is_int_string(col))
        elif t == "number":
            checks.append(R.is_numeric_string(col))
        elif t == "boolean":
            checks.append(col.isin("True", "False"))
        elif t == "string":
            checks.append(~R.is_numeric_string(col) & ~col.isin("True", "False"))
        else:
            checks.append(F.lit(True))
    out = checks[0]
    for c in checks[1:]:
        out = out | c
    return out


def _keyword_checks(
    col: Column, is_arr: bool, prop: StrDict, label: str
) -> list[tuple[Column, str]]:
    """Unguarded (violation, message) pairs for the flat native keywords —
    callers add the presence guard once at the top level."""
    checks: list[tuple[Column, str]] = []

    if "type" in prop:
        ok = _type_check(col, is_arr, prop["type"])
        checks.append((~ok, f"{label} must be {prop['type']}"))
    if "enum" in prop and not is_arr:
        rendered = [R.render_literal(v) for v in prop["enum"]]
        checks.append(
            (~col.isin(*rendered), f"{label} must be one of {prop['enum']}")
        )
    if "const" in prop and not is_arr:
        checks.append(
            (
                col != F.lit(R.render_literal(prop["const"])),
                f"{label} must be same as const definition: {prop['const']}",
            )
        )
    if "pattern" in prop and not is_arr:
        checks.append(
            (~col.rlike(prop["pattern"]), f"{label} must match pattern {prop['pattern']}")
        )
    if prop.get("format") == "date" and not is_arr:
        parsed = F.try_to_timestamp(col, F.lit("yyyy-M-d"))
        checks.append((parsed.isNull(), f"{label} must be date"))

    if not is_arr and not _NUMERIC_KEYWORDS.isdisjoint(prop):
        num = F.when(R.is_numeric_string(col), col.cast("double"))
    if "minimum" in prop and not is_arr:
        checks.append(
            (
                num.isNotNull() & (num < float(prop["minimum"])),
                f"{label} must be bigger than or equal to {prop['minimum']}",
            )
        )
    if "maximum" in prop and not is_arr:
        checks.append(
            (
                num.isNotNull() & (num > float(prop["maximum"])),
                f"{label} must be smaller than or equal to {prop['maximum']}",
            )
        )
    if "exclusiveMinimum" in prop and not is_arr:
        checks.append(
            (
                num.isNotNull() & (num <= float(prop["exclusiveMinimum"])),
                f"{label} must be bigger than {prop['exclusiveMinimum']}",
            )
        )
    if "exclusiveMaximum" in prop and not is_arr:
        checks.append(
            (
                num.isNotNull() & (num >= float(prop["exclusiveMaximum"])),
                f"{label} must be smaller than {prop['exclusiveMaximum']}",
            )
        )
    if "multipleOf" in prop and not is_arr:
        k = float(prop["multipleOf"])
        # draft-07: the quotient must be integral; compute in double like
        # every validator does (exact for the int-valued cases that matter)
        quotient = num / F.lit(k)
        checks.append(
            (
                num.isNotNull() & (quotient != F.floor(quotient).cast("double")),
                f"{label} must be multiple of {prop['multipleOf']}",
            )
        )
    if "minLength" in prop and not is_arr:
        checks.append(
            (
                F.length(col) < int(prop["minLength"]),
                f"{label} must be longer than or equal to {prop['minLength']} characters",
            )
        )
    if "maxLength" in prop and not is_arr:
        checks.append(
            (
                F.length(col) > int(prop["maxLength"]),
                f"{label} must be shorter than or equal to {prop['maxLength']} characters",
            )
        )
    if "minItems" in prop and is_arr:
        checks.append(
            (
                F.size(col) < int(prop["minItems"]),
                f"{label} must contain at least {prop['minItems']} items",
            )
        )
    if "maxItems" in prop and is_arr:
        checks.append(
            (
                F.size(col) > int(prop["maxItems"]),
                f"{label} must contain at most {prop['maxItems']} items",
            )
        )
    if "items" in prop and is_arr and "enum" in prop.get("items", {}):
        rendered = [R.render_literal(v) for v in prop["items"]["enum"]]
        bad = F.exists(col, lambda x: ~x.isin(*rendered))
        checks.append((bad, f"{label}[] must be one of {prop['items']['enum']}"))
    if prop.get("uniqueItems") and is_arr:
        dup = F.size(col) != F.size(F.array_distinct(col))
        checks.append((dup, f"{label} must contain unique items"))
    return checks


def _satisfied(col: Column, is_arr: bool, prop: StrDict) -> Column:
    """True when the value satisfies ``prop`` — flat keywords AND nested
    combinators, recursively.  The native keyword set is closed under this
    recursion, so arbitrary anyOf/allOf/oneOf/not trees compile to pure
    boolean expression trees (no Python in the row path)."""
    violations = [v for v, _ in _keyword_checks(col, is_arr, prop, "x")]
    violations += [v for v, _ in _combinator_checks(col, is_arr, prop, "x")]
    ok = F.lit(True)
    for v in violations:
        # a violation expression may be null (e.g. numeric compare on a
        # non-numeric cell) — null means "not violated" here
        ok = ok & ~F.coalesce(v, F.lit(False))
    return ok


def _combinator_checks(
    col: Column, is_arr: bool, prop: StrDict, label: str
) -> list[tuple[Column, str]]:
    """draft-07 combinators, compiled recursively via :func:`_satisfied`."""
    checks: list[tuple[Column, str]] = []
    if "anyOf" in prop:
        oks = [_satisfied(col, is_arr, o) for o in prop["anyOf"]]
        any_ok = oks[0]
        for o in oks[1:]:
            any_ok = any_ok | o
        checks.append((~any_ok, f"{label} must be valid by one of anyOf definition"))
    if "allOf" in prop:
        oks = [_satisfied(col, is_arr, o) for o in prop["allOf"]]
        all_ok = oks[0]
        for o in oks[1:]:
            all_ok = all_ok & o
        checks.append((~all_ok, f"{label} must be valid by all of allOf definition"))
    if "oneOf" in prop:
        count = None
        for o in prop["oneOf"]:
            term = _satisfied(col, is_arr, o).cast("int")
            count = term if count is None else count + term
        checks.append((count != 1, f"{label} must be valid exactly by one definition"))
    if "not" in prop:
        checks.append(
            (_satisfied(col, is_arr, prop["not"]), f"{label} must NOT be valid by not definition")
        )
    return checks


def _decode_cell(v: Any) -> Any:
    """Rendered canonical string -> the dynamic-typed Python value the
    reference's row dict holds at validation time."""
    if v is None:
        return None
    if not isinstance(v, str) and hasattr(v, "__iter__"):
        return [_decode_cell(x) for x in v]  # list cells (incl. numpy arrays)
    s = str(v)
    if s == "True":
        return True
    if s == "False":
        return False
    try:
        return int(s)
    except ValueError:
        pass
    try:
        return float(s)
    except ValueError:
        pass
    return s


def _fallback_check(
    attr: str, prop: StrDict, is_arr: bool
) -> tuple[Column, str] | None:
    """Arrow-batched Draft-7 validation for a property using keywords the
    native compiler does not cover.  Returns None when the ``jsonschema``
    package is unavailable (caller downgrades to a warning)."""
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
            return bool(validator.is_valid(_decode_cell(v)))

        return values.map(one).astype("object")

    # functionType passed explicitly: string annotations (from __future__
    # import annotations) defeat pandas_udf's hint inference
    _check = F.pandas_udf(_check_batch, "boolean", F.PandasUDFType.SCALAR)

    violation = _check(F.col(attr)) == F.lit(False)
    return (violation, f"data.{attr} must be valid by schema definition")


def _property_checks(
    attr: str,
    prop: StrDict,
    df_columns: list[str],
    array_cols: set[str],
) -> list[tuple[Column, str]]:
    """(violation_condition, message) pairs for one schema property."""
    if attr not in df_columns:
        return []
    col = F.col(attr)
    is_arr = attr in array_cols
    present = col.isNotNull()

    unsupported = set(prop) - _NATIVE_KEYWORDS
    if unsupported:
        fb = _fallback_check(attr, prop, is_arr)
        if fb is not None:
            cond, msg = fb
            return [(present & F.coalesce(cond, F.lit(False)), msg)]
        warnings.warn(
            f"validation: property {attr!r} uses unsupported keyword(s) "
            f"{sorted(unsupported)} and the 'jsonschema' package is not "
            "installed — these keywords are NOT checked",
            UserWarning,
        )

    checks = _keyword_checks(col, is_arr, prop, f"data.{attr}")
    checks += _combinator_checks(col, is_arr, prop, f"data.{attr}")
    return [(present & F.coalesce(cond, F.lit(False)), msg) for cond, msg in checks]


def _subschema_violations(
    schema: StrDict, df: DataFrame, array_cols: set[str]
) -> list[tuple[Column, str]]:
    checks: list[tuple[Column, str]] = []
    for req in schema.get("required", []):
        if req in df.columns:
            cond = F.col(req).isNull()
        else:
            cond = F.lit(True)
        checks.append((cond, f"data must contain ['{req}'] properties"))
    for attr, prop in schema.get("properties", {}).items():
        if isinstance(prop, dict):
            checks.extend(_property_checks(attr, prop, df.columns, array_cols))
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
    array_cols = {
        f.name for f in df.schema.fields if f.dataType.typeName() == "array"
    }

    meta = spec.tables[table]
    if meta.get("kind") == "oneToMany" and meta.get("discriminator") and "oneOf" in schema:
        expanded = _discriminator_subschemas(schema, meta["discriminator"])
        if expanded is not None:
            disc_col = F.col(meta["discriminator"])
            # each option's checks compiled once, selected by its keys;
            # unknown and null discriminators fall through to the message
            cases = [
                (disc_col.isin(*keys), _first_error(_subschema_violations(sub, df, array_cols)))
                for keys, sub in expanded
            ]
            unknown_msg = F.concat(
                F.lit("No validator found for attribute '"),
                F.coalesce(disc_col, F.lit("None")),
                F.lit(f"' in table '{table}'"),
            )
            return _attach(df, _first_match(cases, unknown_msg))

    error = _first_error(_subschema_violations(schema, df, array_cols))
    return _attach(df, error)


def _first_match(cases: list[tuple[Column, Column]], default: Column) -> Column:
    """CASE WHEN c1 THEN v1 WHEN c2 THEN v2 ... ELSE default END."""
    out = None
    for cond, value in cases:
        out = F.when(cond, value) if out is None else out.when(cond, value)
    return default if out is None else out.otherwise(default)


def _first_error(checks: list[tuple[Column, str]]) -> Column:
    return _first_match(
        [(cond, F.lit(msg)) for cond, msg in checks], F.lit(None).cast("string")
    )


def _attach(df: DataFrame, error: Column) -> DataFrame:
    """Prepend adtl_valid / adtl_error in one projection."""
    return df.select(
        error.isNull().alias("adtl_valid"), error.alias("adtl_error"), *df.columns
    )


def validation_report(tables: dict[str, DataFrame]) -> dict[str, Any]:
    """S9 validation counters: totals + error histogram per table
    (reference: parser.py:845-863, cli.py:78-90) — one error histogram
    per validated table, all of them computed by a single action."""
    report: dict[str, Any] = {"total": {}, "total_valid": {}, "validation_errors": {}}
    names = [name for name, df in tables.items() if "adtl_valid" in df.columns]
    if not names:
        return report
    # grouped by adtl_error alone (its null key holds the valid rows): a
    # table's messages then come back in the order a groupBy of its error
    # column gives, which adding adtl_valid to the key would change
    histograms = [
        tables[name]
        .groupBy("adtl_error")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("adtl_valid").cast("int")).alias("valid"),
        )
        .select(F.lit(name).alias("table"), "adtl_error", "n", "valid")
        for name in names
    ]
    for name in names:
        report["total"][name] = 0
        report["total_valid"][name] = 0
        report["validation_errors"][name] = {}
    for table, error, n, valid in reduce(DataFrame.union, histograms).collect():
        report["total"][table] += n
        report["total_valid"][table] += valid or 0
        if error is not None:
            report["validation_errors"][table][error] = n
    return report
