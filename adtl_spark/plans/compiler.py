"""Rule -> Spark SQL expression compiler.

Compiles every adtl rule form (SURVEY.md §2.2/§2.3 operator IDs P1-P17,
F1-F8) into native expressions.  The reference evaluates these rule
dicts per row in Python (src/adtl/get_value.py:137-241 ``get_value`` and
:244-312 ``parse_if``); here each rule becomes one output column of a
single projection so Catalyst sees the whole projection.

Rules compile to Spark SQL expression *text* (``adtl_spark.functions.sql``),
one expression per output column: the table materializers pass a whole
projection to one ``selectExpr``, so the JVM parser builds each column's
tree in one call instead of Python building it node by node over py4j.
Python UDFs (custom ``apply`` transforms) cannot appear in SQL text; they
are staged columns a preceding projection computes (see ``Stage``).

Scalar cells use the canonical-string representation described in
``adtl_spark.functions.render`` (bit-compat with the reference's dynamic
per-cell typing).  Rules producing lists (combinedType list/set, enum_list)
compile to ArrayType(String) columns.

Evaluation order inside a field rule mirrors get_value_unhashed
(src/adtl/get_value.py:184-235): skip-check -> if-guard -> apply ->
empty-to-null -> values map -> unit xor date conversion; then the get_value
wrapper (:155-170): sensitive hash | schema coercion | int-float coercion.
"""

from __future__ import annotations

import re
import uuid as uuid_mod
from dataclasses import dataclass, field
from typing import Any, Callable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from adtl_spark.functions import render as R
from adtl_spark.functions import sql as S
from adtl_spark.functions import units as U
from adtl_spark.functions.datefmt import strftime_to_spark
from adtl_spark.functions.transforms import build_transform
from adtl_spark.spec import CompiledSpec, SpecError, StrDict

_COMPARISON_OPS = {">", ">=", "<", "<=", "!=", "=", "==", "=~"}
_IF_FLAGS = {"can_skip", "caseInsensitive"}
NULL = S.NULL_STRING


def uuid5_sql(namespace: uuid_mod.UUID, name: str) -> str:
    """RFC 4122 uuid5 of the SQL string ``name`` as a native expression —
    no Python UDF.

    uuid5 is sha1(namespace_bytes + name) with the version nibble forced to
    5 and the variant bits to 10xx, rendered 8-4-4-4-12.  The variant
    correction maps the 17th hex digit through ``(d & 0x3) | 0x8``, which is
    a 16-char translate table.  Byte-identical to ``uuid.uuid5``
    (verified against CPython in tests)."""
    digest = S.call(
        "sha1", S.call("concat", S.lit(namespace.bytes), S.call("encode", name, "'UTF-8'"))
    )

    def part(pos: int, length: int) -> str:
        return S.call("substring", digest, str(pos), str(length))

    variant = S.call(
        "translate", part(17, 1), S.lit("0123456789abcdef"), S.lit("89ab89ab89ab89ab")
    )
    return S.call(
        "concat_ws",
        "'-'",
        part(1, 8),
        part(9, 4),
        S.call("concat", "'5'", part(14, 3)),
        S.call("concat", variant, part(18, 3)),
        part(21, 12),
    )


@dataclass
class Value:
    """A compiled rule: its SQL expression plus enough type knowledge for
    the group-stage aggregator to pick numeric vs lexicographic semantics."""

    sql: str
    is_array: bool = False
    # one of: int, float, bool, str, dynamic, num (num = known numeric but
    # int/float mixed: already canonically rendered, compares as double)
    type_hint: str = "dynamic"
    combined_type: str | None = None  # set when the rule is a combinedType


@dataclass
class Stage:
    """Columns computed ahead of a table's rule (or validator) projection,
    which its SQL references by name: Python UDF results first (SQL text
    cannot call an unregistered UDF), then combinedType sub-values.  Fold expressions
    reference their input many times inside higher-order functions, which
    Spark evaluates interpreted and without common-subexpression
    elimination — inlining a full rule expression there multiplies its cost
    ~6x per fold (measured 20x wall-clock on the groupBy path)."""

    udfs: dict[str, Column] = field(default_factory=dict)
    exprs: dict[str, str] = field(default_factory=dict)

    def udf(self, col: Column) -> str:
        name = f"__adtl_udf_{len(self.udfs)}__"
        self.udfs[name] = col
        return S.ident(name)

    def expr(self, sql: str) -> str:
        name = f"__adtl_stage_{len(self.exprs)}__"
        self.exprs[name] = sql
        return S.ident(name)

    def apply(self, df: DataFrame) -> DataFrame:
        """``df`` widened with the staged columns."""
        if self.udfs:
            df = df.select(F.col("*"), *[c.alias(n) for n, c in self.udfs.items()])
        if self.exprs:
            df = df.selectExpr("*", *[S.alias(e, n) for n, e in self.exprs.items()])
        return df


def truthy(x: str, hint: str = "dynamic") -> str:
    """Python truthiness of a rendered value, provenance-aware.

    The falsy-string set depends on where the render came from (the
    compile-time type hint), mirroring the reference exactly:

    - ``bool`` renders: only "False" is falsy;
    - ``int``/``float``/``num`` renders: numeric zeros are falsy;
    - ``dynamic`` (raw cell after int-then-float auto-coercion): numeric
      zeros are falsy, but a cell literally spelling "False" stays a
      non-empty *string* in the reference (it cannot coerce) and is truthy;
    - ``dynbool`` (a closed value map mixing bool and other literals):
      like dynamic, but "False" here can only be a bool render — falsy;
    - ``str`` (closed non-numeric domain): only "" is falsy.

    "" is in every set (None is handled by callers).
    """
    if hint == "bool":
        falsy = ("False", "")
    elif hint == "int":
        falsy = ("0", "")
    elif hint == "str":
        falsy = ("",)
    elif hint == "dynbool":
        falsy = ("0", "0.0", "-0.0", "", "False")
    else:  # float / num / dynamic
        falsy = ("0", "0.0", "-0.0", "")
    return S.and_(S.is_not_null(x), S.not_(S.isin(x, falsy)))


def _non_empty(x: str) -> str:
    return S.and_(S.is_not_null(x), f"({x} != '')")


def _parses_numeric(rendered: str | None) -> bool:
    if rendered is None:
        return False
    try:
        float(rendered)
        return True
    except ValueError:
        return False


def _unify_literal_types(values: list[Any]) -> str:
    kinds = set()
    for v in values:
        if isinstance(v, bool):
            kinds.add("bool")
        elif isinstance(v, int):
            kinds.add("int")
        elif isinstance(v, float):
            kinds.add("float")
        elif v is None:
            continue
        else:
            kinds.add("str")
    if kinds == {"bool"}:
        return "bool"
    if kinds == {"int"}:
        return "int"
    if kinds <= {"int", "float"} and kinds:
        return "float"
    if kinds == {"str"}:
        return "dynamic"  # strings re-coerce via int/float attempt
    return "dynamic"


class RuleCompiler:
    """Compiles rules/predicates of one spec against one source DataFrame's
    column set, to SQL expression text."""

    def __init__(
        self,
        spec: CompiledSpec,
        columns: Sequence[str],
        custom_transforms: dict[str, Callable] | None = None,
        dtypes: dict[str, str] | None = None,
    ) -> None:
        self.spec = spec
        self.columns = set(columns)
        self.custom_transforms = custom_transforms or {}
        self.dtypes = dtypes or {}
        self._namespace = spec.namespace_uuid()
        self._stage: Stage | None = None
        self._stage_folds = False
        self._sources: dict[str, str] = {}

    # ------------------------------------------------------------------ source

    # source dtype -> knowledge about the canonical string the cast yields.
    # int/bigint cast to string IS str(int); double cast to string matches
    # str(float) in the engine's supported magnitude range (render.py), so
    # those columns skip the int-then-float regex re-parse entirely — the
    # typed fast path for Spark-native pipelines where the source is parquet,
    # not CSV.  decimal keeps trailing zeros ("26.00") and float32 prints a
    # shortest-float repr, so both stay on the dynamic path; date/timestamp
    # render ISO and can never re-parse as numbers.
    _DTYPE_HINTS = {
        "tinyint": "int",
        "smallint": "int",
        "int": "int",
        "bigint": "int",
        "double": "float",
        "date": "str",
        "timestamp": "str",
        "timestamp_ntz": "str",
        # rendered 'True'/'False', never numeric; 'bool' (vs 'str') so
        # truthiness folds know "False" here really came from a boolean
        "boolean": "bool",
    }

    def source_hint(self, field: str) -> str:
        """Static type knowledge for a source column ('dynamic' when the
        canonical rendering could still re-parse as a number)."""
        if self.spec.empty_fields is not None:
            return "dynamic"  # emptyFields rewriting happens on the string
        return self._DTYPE_HINTS.get(self.dtypes.get(field, "string"), "dynamic")

    def source(self, field: str) -> str:
        """Raw source cell: always a non-null string (CSV semantics — the
        reference's DictReader never yields None; Spark's CSV reader maps
        empty cells to null, so re-normalize).  Built once per field."""
        if field not in self._sources:
            self._sources[field] = self._source_column(field)
        return self._sources[field]

    def _source_column(self, field: str) -> str:
        if field not in self.columns:
            raise SpecError(f"source column not found: {field!r}")
        if self.dtypes.get(field) == "boolean":
            # Spark renders booleans 'true'/'false'; the engine's canonical
            # form is Python's 'True'/'False'
            x = R.render_bool(S.ident(field))
        else:
            x = S.cast(S.ident(field), "STRING")
        if self.spec.empty_fields is not None:
            # header emptyFields token rewritten to "" on every cell (S2,
            # reference: parser.py:656-661)
            x = S.case([(f"({x} = {S.lit(self.spec.empty_fields)})", "''")], x)
        return S.call("coalesce", x, "''")

    def _skip_rule(self, rule: StrDict) -> bool:
        """True when the rule's source column is absent and skippable
        (P16/F8, reference: get_value.py:52-58)."""
        fld = rule.get("field")
        if fld is None or fld in self.columns:
            return False
        if rule.get("can_skip"):
            return True
        return self.spec.field_can_skip(fld)

    # ------------------------------------------------------------- entry point

    def compile_value(
        self,
        rule: Any,
        attr: str | None = None,
        coerce_type: str | list[str] | None = None,
        stage: Stage | None = None,
    ) -> Value:
        """Compile any rule form to a Value (get_value,
        src/adtl/get_value.py:137-170).

        When ``stage`` is given, combinedType sub-rule values and custom
        transform UDFs are registered there as named staging columns and
        the SQL references them by name; the table materializers compute
        them with ``Stage.apply`` ahead of the rule projection.  Without a
        stage, folds inline their sub-values and custom transforms are
        rejected.
        """
        self._stage, self._stage_folds = stage, stage is not None
        try:
            return self._value(rule, attr, coerce_type)
        finally:
            self._stage, self._stage_folds = None, False

    def _value(
        self, rule: Any, attr: str | None, coerce_type: str | list[str] | None = None
    ) -> Value:
        value = self._compile_unhashed(rule, attr)

        if isinstance(rule, dict) and rule.get("sensitive") and not value.is_array:
            # hash of str(value) before any numeric coercion (P10)
            return Value(S.call("sha2", value.sql, "256"), type_hint="str")

        if coerce_type is not None and not value.is_array:
            return Value(
                self._schema_coerce(value.sql, coerce_type),
                type_hint=self._coerce_hint(coerce_type),
                combined_type=value.combined_type,
            )

        if value.is_array or value.type_hint not in ("dynamic", "dynbool"):
            return value
        return Value(
            S.call("nullif", R.numeric_coerce(value.sql), "''"),
            type_hint=value.type_hint,
            combined_type=value.combined_type,
        )

    def _stage_udf(self, col: Column) -> str:
        if self._stage is None:
            raise SpecError("custom transforms compile only inside a table projection")
        return self._stage.udf(col)

    # ------------------------------------------------------- rule form dispatch

    def _compile_unhashed(self, rule: Any, attr: str | None) -> Value:
        if not isinstance(rule, dict):
            if isinstance(rule, list):
                rendered = [R.render_literal(v) for v in rule]
                return Value(
                    S.call("array", *[S.lit(v) for v in rendered]),
                    is_array=True,
                    type_hint="str",
                )
            # P1 constant rule
            return Value(
                S.lit(R.render_literal(rule)),
                type_hint=_unify_literal_types([rule]),
            )
        if "field" in rule:
            return self._compile_field_rule(rule, attr)
        if "combinedType" in rule:
            return self._compile_combined(rule, attr)
        if "generate" in rule:
            return self._compile_generate(rule)
        raise SpecError(f"cannot compile rule: {rule!r}")

    # ------------------------------------------------------------- field rules

    def _compile_field_rule(self, rule: StrDict, attr: str | None) -> Value:
        if self._skip_rule(rule):
            return Value(NULL, type_hint="str")

        raw = self.source(rule["field"])
        guard: str | None = None
        if "if" in rule:
            guard = self.compile_if(rule["if"])

        value = raw
        # typed fast path: a numeric/temporal source dtype already renders
        # canonically, so the final int-then-float regex re-parse is a no-op
        # and is skipped (every later step that changes the value overwrites
        # this hint)
        hint = self.source_hint(rule["field"])
        is_array = False

        if "apply" in rule:
            value, hint, is_array = self._compile_apply(rule, value)

        if not is_array:
            value = S.call("nullif", value, "''")

        if "values" in rule and not is_array:
            if rule.get("type") == "enum_list":
                value = self._enum_list(value, rule)
                is_array = True
                hint = "str"
            else:
                value, hint = self._values_map(value, rule)

        if "source_unit" in rule and "unit" in rule:
            value = self._unit_conversion(value, rule)
            hint = "float"
        elif "source_date" in rule or (attr is not None and self.spec.is_date_field(attr)):
            if not is_array:
                value = self._date_conversion(value, rule)
                hint = "str"

        if guard is not None:
            value = S.when(guard, value)
        return Value(value, is_array=is_array, type_hint=hint)

    def _compile_apply(self, rule: StrDict, value: str) -> tuple[str, str, bool]:
        """P13 ``apply`` transform: named function with ``$field`` params
        (reference: get_value.py:61-107)."""
        spec_apply = rule["apply"]
        name = spec_apply["function"]
        params = [self._resolve_param(p) for p in spec_apply.get("params", [])]
        fail_value = value if self.spec.return_unmatched else NULL
        return build_transform(
            name,
            value,
            params,
            fail_value=fail_value,
            stage_udf=self._stage_udf,
            custom_transforms=self.custom_transforms,
        )

    def _resolve_param(self, p: Any) -> Any:
        """``$field`` params become source SQL, lists resolve element-wise
        (U3, reference: get_value.py:64-87)."""
        if isinstance(p, str) and p.startswith("$"):
            return S.Sql(self.source(p[1:]))
        if isinstance(p, list):
            return [self._resolve_param(x) for x in p]
        return p

    # -------------------------------------------------------------- values map

    def _values_map(self, value: str, rule: StrDict) -> tuple[str, str]:
        """P3/P4/P5 value mapping (reference: convert_values,
        get_value.py:110-131)."""
        mapping: StrDict = rule["values"]
        lookup = value
        if rule.get("caseInsensitive"):
            lookup = S.call("trim", S.call("lower", value))
            mapping = {str(k).lower(): v for k, v in mapping.items()}
        passthrough = rule.get("ignoreMissingKey") or self.spec.return_unmatched
        if passthrough:
            unmapped = lookup
        else:  # no ELSE: unmapped keys are null, as is every key of an empty map
            unmapped = None if mapping else NULL
        mapped = S.case(
            [
                (f"({lookup} = {S.lit(str(k))})", S.lit(R.render_literal(v)))
                for k, v in mapping.items()
            ],
            unmapped,
        )
        hint = _unify_literal_types(list(mapping.values()))
        has_bool = any(isinstance(v, bool) for v in mapping.values())
        if passthrough:
            # unmapped cells pass through as their raw text, so only the
            # mapped-literal outputs are guaranteed canonical — the final
            # int-then-float coercion must still run (reference applies it
            # unconditionally after convert_values): '007' -> 7, not '007'.
            # With bool literals in the map a rendered "False" is almost
            # certainly the mapped bool; the raw-text-"False"-passthrough
            # corner is ambiguous once rendered and resolves falsy here.
            hint = "dynbool" if has_bool else "dynamic"
        elif hint == "dynamic":
            if has_bool:
                # closed map mixing bool with str/num literals: "False"
                # renders are bool-provenance (falsy), everything else
                # still needs the final numeric coercion
                return S.call("nullif", mapped, "''"), "dynbool"
            # closed output domain: when no rendered literal re-parses as a
            # number, the final int/float coercion is the identity — mark
            # the column str so the regex pass is skipped entirely
            if all(
                not _parses_numeric(R.render_literal(v)) for v in mapping.values()
            ):
                hint = "str"
        # post-map "" -> null (maps may deliberately send values to None)
        return S.call("nullif", mapped, "''"), hint

    def _enum_list(self, value: str, rule: StrDict) -> str:
        """P6 enum_list: '[a, b]' -> per-element value mapping
        (reference: get_value.py:111-119)."""
        elements = S.call(
            "split", S.call("regexp_replace", value, S.lit(r"^\[+|\]+$"), "''"), "','"
        )
        scalar_rule = {k: v for k, v in rule.items() if k != "type"}
        mapped, _ = self._values_map(S.call("trim", "__x"), scalar_rule)
        return S.when(
            S.is_not_null(value), S.call("transform", elements, f"__x -> {mapped}")
        )

    # --------------------------------------------------------- unit conversion

    def _unit_conversion(self, value: str, rule: StrDict) -> str:
        """P8: numeric value in source_unit converted to unit.  Conversion
        factors are derived at compile time (functions/units.py); the
        source_unit may itself be a rule yielding a per-row unit name
        (reference: get_value.py:200-218)."""
        target = rule["unit"]
        src = rule["source_unit"]
        numeric = R.is_numeric_string(value)
        as_double = S.when(numeric, S.cast(value, "DOUBLE"))
        parse_fail = S.and_(S.is_not_null(value), S.not_(numeric))
        fail = value if self.spec.return_unmatched else NULL

        def convert_with(unit_name: str) -> str:
            scale, offset = U.conversion(unit_name, target)
            return R.render_double(f"(({as_double} * {S.lit(scale)}) + {S.lit(offset)})")

        if isinstance(src, str):
            converted = convert_with(src)
        else:
            unit = self._compile_unhashed(src, None).sql
            branches = []
            for u in self._possible_units(src):
                try:
                    branches.append((f"({unit} = {S.lit(u)})", convert_with(u)))
                except (U.UnknownUnitError, ValueError):
                    continue
            # non-string/unmapped source_unit: assume already in target unit
            # (reference logs and returns float(value), get_value.py:204-209)
            converted = S.case(branches, R.render_double(as_double))
        return S.case([(S.is_null(value), NULL), (parse_fail, fail)], converted)

    def _possible_units(self, unit_rule: StrDict) -> list[str]:
        """Candidate unit names a source_unit rule can produce: its values-map
        outputs when present, else the whole unit table."""
        if isinstance(unit_rule, dict) and "values" in unit_rule:
            return [str(v) for v in unit_rule["values"].values()]
        return U.known_units()

    # ---------------------------------------------------------- date reformat

    def _date_conversion(self, value: str, rule: StrDict) -> str:
        """P9 date reformat, incl. implicit conversion for schema date fields
        using defaultDateFormat (reference: get_value.py:219-234)."""
        target_fmt = rule.get("date", "%Y-%m-%d")
        source_fmt = rule.get("source_date", self.spec.default_date_format)
        if not isinstance(source_fmt, str):
            raise SpecError("dynamic source_date rules are not supported")
        if source_fmt == target_fmt:
            return value
        parse_pat = strftime_to_spark(source_fmt, for_parsing=True)
        fmt_pat = strftime_to_spark(target_fmt, for_parsing=False)
        parsed = S.call("try_to_timestamp", value, S.lit(parse_pat))
        reformatted = S.call("date_format", parsed, S.lit(fmt_pat))
        on_fail = value if self.spec.return_unmatched else NULL
        return S.case(
            [(S.is_null(value), NULL), (S.is_null(parsed), on_fail)], reformatted
        )

    # ------------------------------------------------------------ combinedType

    def _expand_field_patterns(self, rules: list[StrDict]) -> list[StrDict]:
        """fieldPattern sub-rules expand against the actual column set once at
        compile time (the reference re-scans per row, get_value.py:343-348 —
        a documented inefficiency)."""
        out = []
        for r in rules:
            if "fieldPattern" in r:
                pat = re.compile(r["fieldPattern"])
                for col_name in sorted(self.columns):
                    if pat.match(col_name):
                        out.append({**{k: v for k, v in r.items() if k != "fieldPattern"}, "field": col_name})
            else:
                out.append(r)
        return out

    def _stage_column(self, value: Value) -> Value:
        """Register a sub-value as a staging column and return a Value that
        references it by name (cheap to re-evaluate inside folds)."""
        if not self._stage_folds:
            return value
        return Value(
            self._stage.expr(value.sql),
            is_array=value.is_array,
            type_hint=value.type_hint,
            combined_type=value.combined_type,
        )

    def _compile_combined(self, rule: StrDict, attr: str | None) -> Value:
        """Row-wise combinedType fold over multiple fields
        (reference: get_combined_type, get_value.py:315-385)."""
        ctype = rule["combinedType"]
        sub_rules = self._expand_field_patterns(rule["fields"])
        # sub-rules inline their own folds; only this fold's inputs stage
        folds, self._stage_folds = self._stage_folds, False
        sub_values = [self._value(r, attr) for r in sub_rules]
        self._stage_folds = folds
        sub_values = [self._stage_column(v) for v in sub_values]

        if ctype in ("all", "any", "min", "max"):
            # scalar sub-values, drop null and "".  Pure boolean/least/
            # greatest expressions — higher-order functions run interpreted
            # (~1us/row each) and are avoided in these hot folds.
            cols = [v.sql for v in sub_values]
            valid = [_non_empty(c) for c in cols]
            any_valid = S.or_(*valid)
            if ctype == "any":
                hit = S.or_(
                    *[S.and_(v, truthy(s.sql, s.type_hint)) for v, s in zip(valid, sub_values)]
                )
                result = R.render_bool(hit)
                result_hint = "bool"
            elif ctype == "all":
                hit = S.and_(
                    *[
                        S.or_(S.not_(v), truthy(s.sql, s.type_hint))
                        for v, s in zip(valid, sub_values)
                    ]
                )
                result = R.render_bool(hit)
                result_hint = "bool"
            else:
                hints = {v.type_hint for v in sub_values}
                result = self._min_max_scalars(cols, valid, ctype, hints=hints)
                if hints == {"int"}:
                    result_hint = "int"
                elif hints == {"float"}:
                    result_hint = "float"
                elif hints <= {"int", "float"}:
                    result_hint = "num"  # mixed: canonical render, numeric order
                elif hints <= {"str", "bool"}:
                    result_hint = "str"
                else:
                    result_hint = "dynamic"
            return Value(
                S.when(any_valid, result),
                type_hint=result_hint,
                combined_type=ctype,
            )

        if ctype == "firstNonNull" and not any(v.is_array for v in sub_values):
            # scalar-only: exactly a coalesce (first non-null in rule order)
            return Value(
                S.call("coalesce", *[v.sql for v in sub_values])
                if len(sub_values) > 1
                else sub_values[0].sql,
                type_hint="dynamic",
                combined_type=ctype,
            )

        exclude = rule.get("excludeWhen")
        if ctype in ("list", "set") and exclude not in (None, "none", "false-like") and not isinstance(exclude, list):
            raise SpecError(
                "excludeWhen rule should be 'none', 'false-like', or a list"
            )

        def flatten(parts: list[str]) -> str:
            flat = S.call("concat", *parts) if len(parts) > 1 else parts[0]
            return S.call("array_distinct", flat) if ctype == "set" else flat

        all_scalar = not any(v.is_array for v in sub_values)
        if ctype in ("list", "set") and all_scalar:
            # scalar-only fold without higher-order functions: HOFs have no
            # codegen, and ONE of them in a Project forces the whole stage
            # interpreted — conditional single-element arrays + concat keep
            # the plan inside whole-stage codegen
            empty = "CAST(array() AS ARRAY<STRING>)"
            parts = []
            for v in sub_values:
                keep = self._exclude_keep(v.sql, exclude, v.type_hint)
                one = S.call("array", v.sql)
                parts.append(one if keep is None else S.case([(keep, one)], empty))
            return Value(flatten(parts), is_array=True, type_hint="str", combined_type=ctype)

        # list-producing folds flatten arrays and scalars together
        parts = [v.sql if v.is_array else S.call("array", v.sql) for v in sub_values]

        if ctype == "firstNonNull":
            flat = S.call("concat", *parts) if len(parts) > 1 else parts[0]
            non_null = S.call("filter", flat, "__x -> (__x IS NOT NULL)")
            return Value(
                S.call("element_at", non_null, "1"),
                type_hint="dynamic",
                combined_type=ctype,
            )
        if ctype in ("list", "set"):
            # excludeWhen filters per PART (not on the concatenated array) so
            # false-like truthiness sees each sub-value's own type hint —
            # elementwise predicates commute with concat, so semantics match
            if exclude is not None:
                parts = [
                    S.call("filter", p, f"__x -> {self._exclude_keep('__x', exclude, v.type_hint)}")
                    for p, v in zip(parts, sub_values)
                ]
            return Value(flatten(parts), is_array=True, type_hint="str", combined_type=ctype)
        raise SpecError(f"unknown combinedType: {ctype!r}")

    @staticmethod
    def _exclude_keep(x: str, exclude: Any, hint: str = "dynamic") -> str | None:
        """Element-keep predicate for excludeWhen on a scalar sub-value;
        None means keep unconditionally."""
        if exclude == "none":
            return S.is_not_null(x)
        if exclude == "false-like":
            return truthy(x, hint)
        if isinstance(exclude, list):
            rendered = [R.render_literal(v) for v in exclude]
            return S.or_(S.is_null(x), S.not_(S.isin(x, rendered)))
        return None

    @staticmethod
    def _min_max_scalars(
        cols: list[str],
        valid: list[str],
        ctype: str,
        hints: set[str] | None = None,
    ) -> str:
        """Python min/max over the valid dynamic values: numeric when every
        valid value parses as a number, else lexicographic — expressed with
        least/greatest (null-skipping) and plain boolean folds so the whole
        thing stays inside whole-stage codegen.

        When static ``hints`` pin every sub-value's type (typed fast path),
        the per-row regex classification is constant-folded away.

        Numeric folds compare as double but keep the WINNING CELL's own
        canonical render (Python ``str(min(7, 9.5))`` is ``"7"``, not
        ``"7.0"``); the rule-position tiebreak reproduces Python's
        keep-first-of-equals for ``min(7, 7.0)``-style ties.  All-int folds
        compare as long — doubles lose ordering above 2**53."""
        pick = "least" if ctype == "min" else "greatest"
        idx_sign = 1 if ctype == "min" else -1

        def pick_of(branch: list[str]) -> str:
            return branch[0] if len(branch) == 1 else S.call(pick, *branch)

        def fold(cast_to: str | None) -> str:
            return pick_of(
                [S.when(v, S.cast(c, cast_to) if cast_to else c) for v, c in zip(valid, cols)]
            )

        def fold_numeric() -> str:
            branch = [
                S.when(
                    v,
                    S.named_struct(
                        [("k", S.cast(c, "DOUBLE")), ("i", S.lit(i * idx_sign)), ("o", c)]
                    ),
                )
                for i, (v, c) in enumerate(zip(valid, cols))
            ]
            return S.field(pick_of(branch), "o")

        as_long = S.cast(fold("BIGINT"), "STRING")
        if hints is not None:
            if hints == {"int"}:
                return as_long
            if hints <= {"int", "float"}:
                return fold_numeric()
            if hints <= {"str", "bool"}:
                return fold(None)
        all_int = S.and_(*[S.or_(S.not_(v), R.is_int_string(c)) for v, c in zip(valid, cols)])
        all_num = S.and_(
            *[S.or_(S.not_(v), R.is_numeric_string(c)) for v, c in zip(valid, cols)]
        )
        return S.case([(all_int, as_long), (all_num, fold_numeric())], fold(None))

    # ---------------------------------------------------------------- generate

    def _compile_generate(self, rule: StrDict) -> Value:
        """P14/P15 generated fields (reference: generate_field,
        get_value.py:388-414)."""
        gen = rule["generate"]
        method = gen["type"]
        if method == "datetime":
            return Value(
                S.call(
                    "date_format",
                    "current_timestamp()",
                    S.lit("yyyy-MM-dd'T'HH:mm:ssxxx"),
                ),
                type_hint="str",
            )
        if method == "uuid5":
            parts = [
                S.call(
                    "lower",
                    S.call("coalesce", S.call("nullif", self.source(f), "''"), "'None'"),
                )
                for f in gen["values"]
            ]
            seed = S.call("concat_ws", "'|'", *parts)
            return Value(uuid5_sql(self._namespace, seed), type_hint="str")
        raise SpecError(f"unknown generation method: {method!r}")

    # -------------------------------------------------------------- predicates

    def compile_if(self, rule: StrDict, can_skip: bool = False) -> str:
        """F1-F8 predicate compiler (reference: parse_if,
        get_value.py:244-312)."""
        keys = [k for k in rule if k not in _IF_FLAGS]
        if "can_skip" in rule:
            can_skip = True
        if not keys:
            raise SpecError(f"empty if rule: {rule!r}")
        key = keys[0]

        if key == "not" and isinstance(rule[key], dict):
            return S.not_(self.compile_if(rule[key], can_skip))
        if key == "any" and isinstance(rule[key], list):
            return S.or_(*[self.compile_if(r, can_skip) for r in rule[key]])
        if key == "all" and isinstance(rule[key], list):
            return S.and_(*[self.compile_if(r, can_skip) for r in rule[key]])

        if key not in self.columns:
            if can_skip or self.spec.field_can_skip(key):
                return "false"
            raise SpecError(f"if-rule column not found: {key!r}")

        attr = self.source(key)
        if "caseInsensitive" in rule:
            attr = S.call("lower", attr)

        condition = rule[key]
        if isinstance(condition, dict):
            op = next(iter(condition))
            if op not in _COMPARISON_OPS:
                raise SpecError(f"unrecognized operand: {op!r}")
            return self._compare(attr, op, condition[op])
        return self._compare(attr, "==", condition)

    @staticmethod
    def _compare(attr: str, op: str, literal: Any) -> str:
        """Cast-to-literal-type comparison: the row value is cast to the
        *literal's* Python type; a failed cast yields False
        (reference: get_value.py:271-312)."""
        if op == "=~":
            # re.match: case-insensitive, anchored at start only
            return S.rlike(attr, "(?i)^(?:" + str(literal) + ")")

        if isinstance(literal, bool):
            lhs = f"({attr} != '')"  # bool(str) truthiness
            rhs = S.lit(literal)
            castable = "true"
        elif isinstance(literal, int):
            lhs = S.cast(attr, "BIGINT")
            rhs = S.lit(literal)
            castable = R.is_int_string(attr)
        elif isinstance(literal, float):
            lhs = S.cast(attr, "DOUBLE")
            rhs = S.lit(literal)
            castable = R.is_float_string(attr)
        else:
            lhs = attr
            rhs = S.lit(str(literal))
            castable = "true"
        if op not in (">", ">=", "<", "<=", "!=", "=", "=="):  # pragma: no cover
            raise SpecError(f"unrecognized operand: {op!r}")
        return S.and_(castable, f"({lhs} {'=' if op == '==' else op} {rhs})")

    # ------------------------------------------------------------ schema casts

    @staticmethod
    def _coerce_hint(coerce_type: str | list[str]) -> str:
        first = coerce_type if isinstance(coerce_type, str) else next(
            (t for t in coerce_type if t in ("string", "integer", "number")), None
        )
        return {"integer": "int", "number": "float", "string": "str"}.get(first, "dynamic")

    @staticmethod
    def _schema_coerce(x: str, coerce_type: str | list[str]) -> str:
        """P11 schema-directed cast; failure keeps the value unchanged
        (reference: util.py:12-40).  integer falls back to round-half-even of
        the float parse, matching Python's ``int(round(float(v)))``."""
        types = [coerce_type] if isinstance(coerce_type, str) else list(coerce_type)
        target = next((t for t in types if t in ("string", "integer", "number")), None)
        if target is None or target == "string":
            # str() of the canonical value is the value itself
            return x
        if target == "integer":
            rounded = S.cast(S.cast(S.call("bround", S.cast(x, "DOUBLE")), "BIGINT"), "STRING")
            return S.case(
                [(R.is_int_string(x), R.render_long(x)), (R.is_float_string(x), rounded)], x
            )
        # number
        return S.case([(R.is_float_string(x), R.render_double(x))], x)
