"""Rule -> pyspark Column compiler.

Compiles every adtl rule form (SURVEY.md §2.2/§2.3 operator IDs P1-P17,
F1-F8) into native Column expressions.  The reference evaluates these rule
dicts per row in Python (src/adtl/get_value.py:137-241 ``get_value`` and
:244-312 ``parse_if``); here each rule becomes one Column in a single
``select`` so Catalyst sees the whole projection.

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
from dataclasses import dataclass
from functools import reduce
from typing import Any, Callable, Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from adtl_spark.functions import render as R
from adtl_spark.functions import units as U
from adtl_spark.functions.datefmt import strftime_to_spark
from adtl_spark.functions.transforms import build_transform
from adtl_spark.spec import CompiledSpec, SpecError, StrDict

_COMPARISON_OPS = {">", ">=", "<", "<=", "!=", "=", "==", "=~"}
_IF_FLAGS = {"can_skip", "caseInsensitive"}


def uuid5_column(namespace: uuid_mod.UUID, name: Column) -> Column:
    """RFC 4122 uuid5 as a native expression — no Python UDF.

    uuid5 is sha1(namespace_bytes + name) with the version nibble forced to
    5 and the variant bits to 10xx, rendered 8-4-4-4-12.  The variant
    correction maps the 17th hex digit through ``(d & 0x3) | 0x8``, which is
    a 16-char translate table.  Byte-identical to ``uuid.uuid5``
    (verified against CPython in tests)."""
    digest = F.sha1(F.concat(F.lit(namespace.bytes), F.encode(name, "UTF-8")))
    return F.concat_ws(
        "-",
        F.substring(digest, 1, 8),
        F.substring(digest, 9, 4),
        F.concat(F.lit("5"), F.substring(digest, 14, 3)),
        F.concat(
            F.translate(
                F.substring(digest, 17, 1),
                "0123456789abcdef",
                "89ab89ab89ab89ab",
            ),
            F.substring(digest, 18, 3),
        ),
        F.substring(digest, 21, 12),
    )


@dataclass
class Value:
    """A compiled rule: the Column plus enough type knowledge for the
    group-stage aggregator to pick numeric vs lexicographic semantics."""

    col: Column
    is_array: bool = False
    # one of: int, float, bool, str, dynamic, num (num = known numeric but
    # int/float mixed: already canonically rendered, compares as double)
    type_hint: str = "dynamic"
    combined_type: str | None = None  # set when the rule is a combinedType


def truthy(col: Column, hint: str = "dynamic") -> Column:
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
    return col.isNotNull() & ~col.isin(*falsy)


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
    column set."""

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
        self._stage: dict[str, Column] | None = None
        self._sources: dict[str, Column] = {}

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

    def source(self, field: str) -> Column:
        """Raw source cell: always a non-null string (CSV semantics — the
        reference's DictReader never yields None; Spark's CSV reader maps
        empty cells to null, so re-normalize).  Built once per field: every
        rule reading the field shares the one Column, which saves the py4j
        calls of building it again."""
        if field not in self._sources:
            self._sources[field] = self._source_column(field)
        return self._sources[field]

    def _source_column(self, field: str) -> Column:
        if field not in self.columns:
            raise SpecError(f"source column not found: {field!r}")
        if self.dtypes.get(field) == "boolean":
            # Spark renders booleans 'true'/'false'; the engine's canonical
            # form is Python's 'True'/'False'
            col = R.render_bool(F.col(field))
        else:
            col = F.col(field).cast("string")
        if self.spec.empty_fields is not None:
            # header emptyFields token rewritten to "" on every cell (S2,
            # reference: parser.py:656-661)
            col = F.when(col == F.lit(self.spec.empty_fields), F.lit("")).otherwise(col)
        return F.coalesce(col, F.lit(""))

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
        stage: dict[str, Column] | None = None,
    ) -> Value:
        """Compile any rule form to a Value (get_value,
        src/adtl/get_value.py:137-170).

        When ``stage`` is given, combinedType sub-rule values are registered
        there as named staging columns and the fold references them as
        plain column refs.  Fold expressions reference their input many
        times inside higher-order functions, which Spark evaluates
        interpreted and without common-subexpression elimination — inlining
        a full rule expression there multiplies its cost ~6x per fold
        (measured 20x wall-clock on the groupBy path).  The table
        materializers insert one extra projection for the staged columns.
        """
        self._stage = stage
        value = self._compile_unhashed(rule, attr)
        self._stage = None

        if isinstance(rule, dict) and rule.get("sensitive") and not value.is_array:
            # hash of str(value) before any numeric coercion (P10)
            return Value(F.sha2(value.col, 256), type_hint="str")

        if coerce_type is not None and not value.is_array:
            return Value(
                self._schema_coerce(value.col, coerce_type),
                type_hint=self._coerce_hint(coerce_type),
                combined_type=value.combined_type,
            )

        if value.is_array or value.type_hint not in ("dynamic", "dynbool"):
            return value
        return Value(
            F.nullif(R.numeric_coerce(value.col), F.lit("")),
            type_hint=value.type_hint,
            combined_type=value.combined_type,
        )

    # ------------------------------------------------------- rule form dispatch

    def _compile_unhashed(self, rule: Any, attr: str | None) -> Value:
        if not isinstance(rule, dict):
            if isinstance(rule, list):
                rendered = [R.render_literal(v) for v in rule]
                return Value(
                    F.array(*[F.lit(v) for v in rendered]),
                    is_array=True,
                    type_hint="str",
                )
            # P1 constant rule
            return Value(
                F.lit(R.render_literal(rule)),
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
            return Value(F.lit(None).cast("string"), type_hint="str")

        raw = self.source(rule["field"])
        guard: Column | None = None
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
            value = F.nullif(value, F.lit(""))

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
            value = F.when(guard, value)
        return Value(value, is_array=is_array, type_hint=hint)

    def _compile_apply(self, rule: StrDict, value: Column) -> tuple[Column, str, bool]:
        """P13 ``apply`` transform: named function with ``$field`` params
        (reference: get_value.py:61-107)."""
        spec_apply = rule["apply"]
        name = spec_apply["function"]
        params: list[Any] = []
        for p in spec_apply.get("params", []):
            params.append(self._resolve_param(p))
        fail_value = value if self.spec.return_unmatched else F.lit(None).cast("string")
        return build_transform(
            name,
            value,
            params,
            fail_value=fail_value,
            custom_transforms=self.custom_transforms,
            fail_is_passthrough=self.spec.return_unmatched,
        )

    def _resolve_param(self, p: Any) -> Any:
        """``$field`` params become source Columns, lists resolve element-wise
        (U3, reference: get_value.py:64-87)."""
        if isinstance(p, str) and p.startswith("$"):
            return self.source(p[1:])
        if isinstance(p, list):
            return [self._resolve_param(x) for x in p]
        return p

    # -------------------------------------------------------------- values map

    def _values_map(self, value: Column, rule: StrDict) -> tuple[Column, str]:
        """P3/P4/P5 value mapping (reference: convert_values,
        get_value.py:110-131)."""
        mapping: StrDict = rule["values"]
        lookup = value
        if rule.get("caseInsensitive"):
            lookup = F.trim(F.lower(value))
            mapping = {str(k).lower(): v for k, v in mapping.items()}
        passthrough = rule.get("ignoreMissingKey") or self.spec.return_unmatched
        mapped = None
        for k, v in mapping.items():
            rendered = F.lit(R.render_literal(v))
            cond = lookup == F.lit(str(k))
            mapped = F.when(cond, rendered) if mapped is None else mapped.when(cond, rendered)
        if mapped is None:
            mapped = lookup if passthrough else F.lit(None).cast("string")
        elif passthrough:
            mapped = mapped.otherwise(lookup)
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
                return F.nullif(mapped, F.lit("")), "dynbool"
            # closed output domain: when no rendered literal re-parses as a
            # number, the final int/float coercion is the identity — mark
            # the column str so the regex pass is skipped entirely
            if all(
                not _parses_numeric(R.render_literal(v)) for v in mapping.values()
            ):
                hint = "str"
        # post-map "" -> null (maps may deliberately send values to None)
        return F.nullif(mapped, F.lit("")), hint

    def _enum_list(self, value: Column, rule: StrDict) -> Column:
        """P6 enum_list: '[a, b]' -> per-element value mapping
        (reference: get_value.py:111-119)."""
        elements = F.split(
            F.regexp_replace(value, r"^\[+|\]+$", ""), ","
        )
        scalar_rule = {k: v for k, v in rule.items() if k != "type"}

        def map_element(elem: Column) -> Column:
            mapped, _ = self._values_map_on(F.trim(elem), scalar_rule)
            return mapped

        return F.when(
            value.isNotNull(), F.transform(elements, map_element)
        )

    def _values_map_on(self, lookup_value: Column, rule: StrDict) -> tuple[Column, str]:
        return self._values_map(lookup_value, rule)

    # --------------------------------------------------------- unit conversion

    def _unit_conversion(self, value: Column, rule: StrDict) -> Column:
        """P8: numeric value in source_unit converted to unit.  Conversion
        factors are derived at compile time (functions/units.py); the
        source_unit may itself be a rule yielding a per-row unit name
        (reference: get_value.py:200-218)."""
        target = rule["unit"]
        src = rule["source_unit"]
        as_double = F.when(R.is_numeric_string(value), value.cast("double"))
        parse_fail = value.isNotNull() & ~R.is_numeric_string(value)
        fail_col = value if self.spec.return_unmatched else F.lit(None).cast("string")

        def convert_with(unit_name: str) -> Column:
            scale, offset = U.conversion(unit_name, target)
            return R.render_double(as_double * F.lit(scale) + F.lit(offset))

        if isinstance(src, str):
            converted = convert_with(src)
        else:
            unit_col = self._compile_unhashed(src, None).col
            candidate_units = self._possible_units(src)
            converted = None
            for u in candidate_units:
                try:
                    branch = convert_with(u)
                except (U.UnknownUnitError, ValueError):
                    continue
                cond = unit_col == F.lit(u)
                converted = (
                    F.when(cond, branch) if converted is None else converted.when(cond, branch)
                )
            # non-string/unmapped source_unit: assume already in target unit
            # (reference logs and returns float(value), get_value.py:204-209)
            fallback = R.render_double(as_double)
            converted = fallback if converted is None else converted.otherwise(fallback)
        return F.when(value.isNull(), F.lit(None).cast("string")).when(
            parse_fail, fail_col
        ).otherwise(converted)

    def _possible_units(self, unit_rule: StrDict) -> list[str]:
        """Candidate unit names a source_unit rule can produce: its values-map
        outputs when present, else the whole unit table."""
        if isinstance(unit_rule, dict) and "values" in unit_rule:
            return [str(v) for v in unit_rule["values"].values()]
        return U.known_units()

    # ---------------------------------------------------------- date reformat

    def _date_conversion(self, value: Column, rule: StrDict) -> Column:
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
        parsed = F.try_to_timestamp(value, F.lit(parse_pat))
        reformatted = F.date_format(parsed, fmt_pat)
        on_fail = value if self.spec.return_unmatched else F.lit(None).cast("string")
        return F.when(value.isNull(), F.lit(None).cast("string")).when(
            parsed.isNull(), on_fail
        ).otherwise(reformatted)

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
        if self._stage is None:
            return value
        name = f"__adtl_stage_{len(self._stage)}__"
        self._stage[name] = value.col
        return Value(
            F.col(name),
            is_array=value.is_array,
            type_hint=value.type_hint,
            combined_type=value.combined_type,
        )

    def _compile_combined(self, rule: StrDict, attr: str | None) -> Value:
        """Row-wise combinedType fold over multiple fields
        (reference: get_combined_type, get_value.py:315-385)."""
        ctype = rule["combinedType"]
        sub_rules = self._expand_field_patterns(rule["fields"])
        stage, self._stage = self._stage, None  # sub-rules compile unstaged
        sub_values = [self.compile_value(r, attr) for r in sub_rules]
        self._stage = stage
        sub_values = [self._stage_column(v) for v in sub_values]

        if ctype in ("all", "any", "min", "max"):
            # scalar sub-values, drop null and "".  Pure boolean/least/
            # greatest expressions — higher-order functions run interpreted
            # (~1us/row each) and are avoided in these hot folds.
            cols = [v.col for v in sub_values]
            valid = [c.isNotNull() & (c != "") for c in cols]
            any_valid = reduce(lambda a, b: a | b, valid)
            if ctype == "any":
                hit = reduce(
                    lambda a, b: a | b,
                    [
                        v & truthy(s.col, s.type_hint)
                        for v, s in zip(valid, sub_values)
                    ],
                )
                result = R.render_bool(hit)
                result_hint = "bool"
            elif ctype == "all":
                hit = reduce(
                    lambda a, b: a & b,
                    [
                        ~v | truthy(s.col, s.type_hint)
                        for v, s in zip(valid, sub_values)
                    ],
                )
                result = R.render_bool(hit)
                result_hint = "bool"
            else:
                hints = {v.type_hint for v in sub_values}
                result = self._min_max_scalars(
                    cols, valid, ctype, hints=hints
                )
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
                F.when(any_valid, result),
                type_hint=result_hint,
                combined_type=ctype,
            )

        if ctype == "firstNonNull" and not any(v.is_array for v in sub_values):
            # scalar-only: exactly a coalesce (first non-null in rule order)
            return Value(
                F.coalesce(*[v.col for v in sub_values])
                if len(sub_values) > 1
                else sub_values[0].col,
                type_hint="dynamic",
                combined_type=ctype,
            )

        exclude = rule.get("excludeWhen")
        if ctype in ("list", "set") and exclude not in (None, "none", "false-like") and not isinstance(exclude, list):
            raise SpecError(
                "excludeWhen rule should be 'none', 'false-like', or a list"
            )

        all_scalar = not any(v.is_array for v in sub_values)
        if ctype in ("list", "set") and all_scalar:
            # scalar-only fold without higher-order functions: HOFs have no
            # codegen, and ONE of them in a Project forces the whole stage
            # interpreted — conditional single-element arrays + concat keep
            # the plan inside whole-stage codegen
            empty = F.array().cast("array<string>")
            parts = []
            for v in sub_values:
                keep = self._exclude_keep(v.col, exclude, v.type_hint)
                parts.append(
                    F.when(keep, F.array(v.col)).otherwise(empty)
                    if keep is not None
                    else F.array(v.col)
                )
            flat = F.concat(*parts) if len(parts) > 1 else parts[0]
            if ctype == "set":
                flat = F.array_distinct(flat)
            return Value(flat, is_array=True, type_hint="str", combined_type=ctype)

        # list-producing folds flatten arrays and scalars together
        parts = [
            v.col if v.is_array else F.array(v.col) for v in sub_values
        ]

        if ctype == "firstNonNull":
            flat = F.concat(*parts) if len(parts) > 1 else parts[0]
            non_null = F.filter(flat, lambda x: x.isNotNull())
            return Value(
                F.element_at(non_null, 1), type_hint="dynamic", combined_type=ctype
            )
        if ctype in ("list", "set"):
            # excludeWhen filters per PART (not on the concatenated array) so
            # false-like truthiness sees each sub-value's own type hint —
            # elementwise predicates commute with concat, so semantics match
            if exclude == "none":
                parts = [F.filter(p, lambda x: x.isNotNull()) for p in parts]
            elif exclude == "false-like":
                parts = [
                    F.filter(p, lambda x, h=v.type_hint: truthy(x, h))
                    for p, v in zip(parts, sub_values)
                ]
            elif isinstance(exclude, list):
                rendered = [R.render_literal(v) for v in exclude]
                parts = [
                    F.filter(p, lambda x: x.isNull() | ~x.isin(*rendered))
                    for p in parts
                ]
            flat = F.concat(*parts) if len(parts) > 1 else parts[0]
            if ctype == "set":
                flat = F.array_distinct(flat)
            return Value(flat, is_array=True, type_hint="str", combined_type=ctype)
        raise SpecError(f"unknown combinedType: {ctype!r}")

    @staticmethod
    def _exclude_keep(
        col: Column, exclude: Any, hint: str = "dynamic"
    ) -> Column | None:
        """Element-keep predicate for excludeWhen on a scalar sub-value;
        None means keep unconditionally."""
        if exclude == "none":
            return col.isNotNull()
        if exclude == "false-like":
            return truthy(col, hint)
        if isinstance(exclude, list):
            rendered = [R.render_literal(v) for v in exclude]
            return col.isNull() | ~col.isin(*rendered)
        return None

    @staticmethod
    def _min_max_scalars(
        cols: list[Column],
        valid: list[Column],
        ctype: str,
        hints: set[str] | None = None,
    ) -> Column:
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
        pick = F.least if ctype == "min" else F.greatest
        idx_sign = 1 if ctype == "min" else -1

        def fold(cast_to: str | None) -> Column:
            branch = [
                F.when(v, c.cast(cast_to) if cast_to else c)
                for v, c in zip(valid, cols)
            ]
            if len(branch) == 1:
                return branch[0]
            return pick(*branch)

        def fold_numeric() -> Column:
            branch = [
                F.when(
                    v,
                    F.struct(
                        c.cast("double").alias("k"),
                        F.lit(i * idx_sign).alias("i"),
                        c.alias("o"),
                    ),
                )
                for i, (v, c) in enumerate(zip(valid, cols))
            ]
            picked = branch[0] if len(branch) == 1 else pick(*branch)
            return picked["o"]

        if hints is not None:
            if hints == {"int"}:
                return fold("long").cast("string")
            if hints <= {"int", "float"}:
                return fold_numeric()
            if hints <= {"str", "bool"}:
                return fold(None)
        all_int = reduce(
            lambda a, b: a & b,
            [~v | R.is_int_string(c) for v, c in zip(valid, cols)],
        )
        all_num = reduce(
            lambda a, b: a & b,
            [~v | R.is_numeric_string(c) for v, c in zip(valid, cols)],
        )
        return (
            F.when(all_int, fold("long").cast("string"))
            .when(all_num, fold_numeric())
            .otherwise(fold(None))
        )

    # ---------------------------------------------------------------- generate

    def _compile_generate(self, rule: StrDict) -> Value:
        """P14/P15 generated fields (reference: generate_field,
        get_value.py:388-414)."""
        gen = rule["generate"]
        method = gen["type"]
        if method == "datetime":
            return Value(
                F.date_format(
                    F.current_timestamp(), "yyyy-MM-dd'T'HH:mm:ssxxx"
                ),
                type_hint="str",
            )
        if method == "uuid5":
            parts = [
                F.lower(
                    F.coalesce(F.nullif(self.source(f), F.lit("")), F.lit("None"))
                )
                for f in gen["values"]
            ]
            seed = F.concat_ws("|", *parts)
            return Value(uuid5_column(self._namespace, seed), type_hint="str")
        raise SpecError(f"unknown generation method: {method!r}")

    # -------------------------------------------------------------- predicates

    def compile_if(self, rule: StrDict, can_skip: bool = False) -> Column:
        """F1-F8 predicate compiler (reference: parse_if,
        get_value.py:244-312)."""
        keys = [k for k in rule if k not in _IF_FLAGS]
        if "can_skip" in rule:
            can_skip = True
        if not keys:
            raise SpecError(f"empty if rule: {rule!r}")
        key = keys[0]

        if key == "not" and isinstance(rule[key], dict):
            return ~self.compile_if(rule[key], can_skip)
        if key == "any" and isinstance(rule[key], list):
            return reduce(
                lambda a, b: a | b,
                [self.compile_if(r, can_skip) for r in rule[key]],
            )
        if key == "all" and isinstance(rule[key], list):
            return reduce(
                lambda a, b: a & b,
                [self.compile_if(r, can_skip) for r in rule[key]],
            )

        if key not in self.columns:
            if can_skip or self.spec.field_can_skip(key):
                return F.lit(False)
            raise SpecError(f"if-rule column not found: {key!r}")

        attr = self.source(key)
        if "caseInsensitive" in rule:
            attr = F.lower(attr)

        condition = rule[key]
        if isinstance(condition, dict):
            op = next(iter(condition))
            if op not in _COMPARISON_OPS:
                raise SpecError(f"unrecognized operand: {op!r}")
            return self._compare(attr, op, condition[op])
        return self._compare(attr, "==", condition)

    @staticmethod
    def _compare(attr: Column, op: str, literal: Any) -> Column:
        """Cast-to-literal-type comparison: the row value is cast to the
        *literal's* Python type; a failed cast yields False
        (reference: get_value.py:271-312)."""
        if op == "=~":
            # re.match: case-insensitive, anchored at start only
            return attr.rlike("(?i)^(?:" + str(literal) + ")")

        if isinstance(literal, bool):
            lhs: Column = attr != ""  # bool(str) truthiness
            rhs = F.lit(literal)
            castable = F.lit(True)
        elif isinstance(literal, int):
            lhs = attr.cast("long")
            rhs = F.lit(literal)
            castable = R.is_int_string(attr)
        elif isinstance(literal, float):
            lhs = attr.cast("double")
            rhs = F.lit(literal)
            castable = R.is_float_string(attr)
        else:
            lhs = attr
            rhs = F.lit(str(literal))
            castable = F.lit(True)

        if op == ">":
            cmp = lhs > rhs
        elif op == ">=":
            cmp = lhs >= rhs
        elif op == "<":
            cmp = lhs < rhs
        elif op == "<=":
            cmp = lhs <= rhs
        elif op == "!=":
            cmp = lhs != rhs
        elif op in ("=", "=="):
            cmp = lhs == rhs
        else:  # pragma: no cover
            raise SpecError(f"unrecognized operand: {op!r}")
        return castable & cmp

    # ------------------------------------------------------------ schema casts

    @staticmethod
    def _coerce_hint(coerce_type: str | list[str]) -> str:
        first = coerce_type if isinstance(coerce_type, str) else next(
            (t for t in coerce_type if t in ("string", "integer", "number")), None
        )
        return {"integer": "int", "number": "float", "string": "str"}.get(first, "dynamic")

    @staticmethod
    def _schema_coerce(col: Column, coerce_type: str | list[str]) -> Column:
        """P11 schema-directed cast; failure keeps the value unchanged
        (reference: util.py:12-40).  integer falls back to round-half-even of
        the float parse, matching Python's ``int(round(float(v)))``."""
        types = [coerce_type] if isinstance(coerce_type, str) else list(coerce_type)
        target = next((t for t in types if t in ("string", "integer", "number")), None)
        if target is None or target == "string":
            # str() of the canonical value is the value itself
            return col
        if target == "integer":
            return (
                F.when(R.is_int_string(col), R.render_long(col))
                .when(
                    R.is_float_string(col),
                    F.bround(col.cast("double")).cast("long").cast("string"),
                )
                .otherwise(col)
            )
        # number
        return F.when(R.is_float_string(col), R.render_double(col)).otherwise(col)
