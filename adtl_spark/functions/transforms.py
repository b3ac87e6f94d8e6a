"""The adtl ``apply`` transformation surface (T1-T16 in SURVEY.md §2.7) as
native Spark SQL expression text, plus the custom-transform UDF wrapper (U1/U3).

Reference implementations: src/adtl/transformations.py (row-wise Python).
Here every shipped transformation compiles to JVM-side expressions — no
Python in the hot path; only user-supplied custom transforms become UDFs.

Error-channel parity: the reference raises AdtlTransformationWarning which
``apply_function`` converts to null (or value passthrough under
``returnUnmatched``) — per-cell errors never abort the job
(src/adtl/get_value.py:88-107).  Builders receive ``fail_value`` (null, or
the original raw value) and route the reference's warning sites to it.
Sites where the reference would raise an *uncaught* exception (e.g. a bad
``currentdate`` in durationDays) yield null here instead of aborting — the
one deliberate deviation, documented per builder.
"""

from __future__ import annotations

import re
import warnings
from typing import Any, Callable

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from adtl_spark.functions import render as R
from adtl_spark.functions import sql as S
from adtl_spark.functions.datefmt import has_two_digit_year, strftime_to_spark

ISO = "%Y-%m-%d"
NULL = S.NULL_STRING


def _lit(p: Any) -> str:
    """Params are either spec literals or already-resolved $field SQL."""
    return p if _is_sql(p) else S.lit(p)


def _is_sql(p: Any) -> bool:
    return isinstance(p, S.Sql)


def _empty(x: str) -> str:
    "value in [None, ''] — the universal null-tolerance guard"
    x = S.cast(x, "STRING")
    return S.or_(S.is_null(x), f"({x} = '')")


def _parse_ts(x: str, strf_fmt: str) -> str:
    "strptime -> timestamp, null on failure"
    pattern = strftime_to_spark(strf_fmt, for_parsing=True)
    return S.call("try_to_timestamp", S.call("nullif", x, "''"), S.lit(pattern))


def _pivot_century(ts: str, epoch: Any, strf_fmt: str) -> str:
    """correctOldDate's century pivot: parsed year >= epoch with a two-digit
    year directive in the format -> subtract 100 years
    (reference: transformations.py:446-489)."""
    if not has_two_digit_year(strf_fmt):
        return ts
    year = S.cast(S.call("year", ts), "DOUBLE")
    return S.case(
        [(f"({year} >= {S.cast(_lit(epoch), 'DOUBLE')})", S.call("add_months", ts, "-1200"))],
        ts,
    )


def _iso_offset_render(naive_ts: str, tz: Any) -> str:
    """Render a wall-clock timestamp as Python ``datetime.isoformat`` with
    the zone's UTC offset at that instant (DST-aware), seconds precision."""
    utc_instant = S.call("to_utc_timestamp", naive_ts, _lit(tz))
    offset = f"({S.cast(naive_ts, 'BIGINT')} - {S.cast(utc_instant, 'BIGINT')})"
    sign = S.case([(f"({offset} < 0)", "'-'")], "'+'")
    abs_off = S.call("abs", offset)
    hh = S.call("lpad", S.cast(S.cast(f"({abs_off} / 3600)", "INT"), "STRING"), "2", "'0'")
    minutes = f"(({abs_off} % 3600) / 60)"
    mm = S.call("lpad", S.cast(S.cast(minutes, "INT"), "STRING"), "2", "'0'")
    return S.call(
        "concat",
        S.call("date_format", naive_ts, S.lit("yyyy-MM-dd'T'HH:mm:ss")),
        sign,
        hh,
        "':'",
        mm,
    )


# --------------------------------------------------------------------------
# builders — each returns (SQL text, type_hint, is_array)

BuildResult = tuple[str, str, bool]


def t_is_not_null(value: str, params: list, fail: str) -> BuildResult:
    return R.render_bool(S.not_(_empty(value))), "bool", False


def t_text_if_not_null(value: str, params: list, fail: str) -> BuildResult:
    return_val = params[0]
    rendered = (
        return_val if _is_sql(return_val) else S.lit(R.render_literal(return_val))
    )
    return S.when(S.not_(_empty(value)), rendered), "str", False


def t_word_substitute_set(value: str, params: list, fail: str) -> BuildResult:
    branches = []
    for pair in params:
        if _is_sql(pair) or len(pair) != 2 or any(_is_sql(x) for x in pair):
            raise ValueError("wordSubstituteSet: params item not a (word, sub) pair")
        word, subst = pair
        branches.append(S.when(S.rlike(value, r"(?i)\b" + word + r"\b"), S.lit(subst)))
    found = S.call("filter", S.call("array", *branches), "__w -> (__w IS NOT NULL)")
    matches = S.call("array_sort", S.call("array_distinct", found))
    no_match = f"({S.call('size', matches)} = 0)"
    if fail != NULL:
        # returnUnmatched (the compiler then passes the value itself as
        # ``fail``): unmatched values pass through as the raw string, so
        # the whole column is stringly-rendered (mixed-type cell parity with
        # the reference's list-or-str cells)
        rendered = S.case(
            [(_empty(value), NULL), (S.not_(no_match), R.render_array_python(matches))],
            fail,
        )
        return rendered, "str", False
    # no match on a non-empty value warns -> null; empty value -> None
    result = S.case(
        [(S.or_(_empty(value), no_match), "CAST(NULL AS ARRAY<STRING>)")], matches
    )
    return result, "str", True


def t_get_float(value: str, params: list, fail: str) -> BuildResult:
    set_decimal = params[0] if len(params) > 0 else None
    separator = params[1] if len(params) > 1 else None
    cleaned = S.call("regexp_replace", value, S.lit(r'^"+|"+$'), "''")
    cleaned = S.call("regexp_replace", cleaned, "' '", "''")
    if set_decimal and set_decimal != ".":
        # convert the LAST decimal-separator occurrence into a dot
        # (partition splits on the last instance)
        esc = re.escape(set_decimal)
        last = S.lit(esc + r"(?=[^" + esc + r"]*$)")
        cleaned = S.case(
            [
                (
                    S.call("contains", cleaned, S.lit(set_decimal)),
                    S.call("regexp_replace", cleaned, last, "'.'"),
                )
            ],
            S.call("concat", cleaned, "'.'"),
        )
    if separator:
        if separator != ".":
            cleaned = S.call("regexp_replace", cleaned, S.lit(re.escape(separator)), "''")
        else:
            # thousands dot: drop every dot except the last
            cleaned = S.call("regexp_replace", cleaned, S.lit(r"\.(?=.*\.)"), "''")
    num_pat = S.lit(r"([-+]?\d*\.?\d+)")
    n_matches = S.call("size", S.call("regexp_extract_all", cleaned, num_pat))
    single = S.call("regexp_extract", cleaned, num_pat, "1")
    result = S.case(
        [
            (_empty(value), NULL),
            (f"({n_matches} = 1)", R.render_double(single)),
            (R.is_float_string(cleaned), R.render_double(cleaned)),
        ],
        S.call("nullif", cleaned, "''"),
    )
    return result, "dynamic", False


def t_percentage(value: str, params: list, fail: str) -> BuildResult:
    d = S.cast(value, "DOUBLE")
    result = S.case(
        [
            (S.not_(R.is_float_string(value)), value),
            (f"({d} > 1)", R.render_double(d)),
        ],
        R.render_double(f"({d} * 100)"),
    )
    return S.case([(_empty(value), NULL)], result), "float", False


def t_years_elapsed(value: str, params: list, fail: str) -> BuildResult:
    currentdate = _lit(params[0])
    epoch = params[1]
    bd_format = params[2] if len(params) > 2 else ISO
    cd_format = params[3] if len(params) > 3 else ISO
    bd_raw = _parse_ts(value, bd_format)
    bd = _pivot_century(bd_raw, epoch, bd_format)
    cd = _parse_ts(currentdate, cd_format)
    years = f"({S.call('datediff', cd, bd)} / 365.25D)"  # pint: Julian year = 365.25 d
    result = S.case(
        [
            (S.or_(_empty(value), _empty(currentdate)), NULL),
            (S.is_null(bd_raw), fail),  # correctOldDate warning site
            (S.is_null(cd), NULL),  # reference: uncaught
        ],
        R.render_double(years),
    )
    return result, "float", False


def t_duration_days(value: str, params: list, fail: str) -> BuildResult:
    currentdate = _lit(params[0])
    fmt = params[1] if len(params) > 1 else ISO
    sd = _parse_ts(value, fmt)
    cd = _parse_ts(currentdate, fmt)
    result = S.case(
        [
            (S.or_(_empty(value), _empty(currentdate)), NULL),
            (S.or_(S.is_null(sd), S.is_null(cd)), NULL),
        ],
        S.cast(S.call("datediff", cd, sd), "STRING"),
    )
    return result, "int", False


def _shift_days(ts: str, days: str, sign: int) -> str:
    seconds = f"({S.cast(f'({days} * 86400)', 'BIGINT')} * {sign})"
    return S.call("timestamp_seconds", f"({S.cast(ts, 'BIGINT')} + {seconds})")


def _shift_by_duration(
    value: str, duration: str, ts: str, sign: int, out_fmt: str
) -> str:
    """startDate/endDate: ``ts`` moved by ``duration`` days, formatted."""
    shifted = _shift_days(ts, S.cast(duration, "DOUBLE"), sign)
    invalid = S.or_(
        _empty(value), _empty(duration), S.is_null(ts), S.not_(R.is_float_string(duration))
    )
    return S.case([(invalid, NULL)], S.call("date_format", shifted, S.lit(out_fmt)))


def t_start_date(value: str, params: list, fail: str) -> BuildResult:
    ed = _parse_ts(value, ISO)
    return _shift_by_duration(value, _lit(params[0]), ed, -1, "yyyy-MM-dd"), "str", False


def t_end_date(value: str, params: list, fail: str) -> BuildResult:
    fmt = params[1] if len(params) > 1 else ISO
    sd = _parse_ts(value, fmt)
    out_fmt = strftime_to_spark(fmt, for_parsing=False)
    return _shift_by_duration(value, _lit(params[0]), sd, +1, out_fmt), "str", False


def t_make_date(value: str, params: list, fail: str) -> BuildResult:
    month, day = _lit(params[0]), _lit(params[1])
    year = value
    ints_ok = S.and_(R.is_int_string(year), R.is_int_string(month), R.is_int_string(day))
    # make_date yields null on invalid components under non-ANSI semantics
    # (the engine session guarantees ANSI off)
    made = S.call(
        "make_date", S.cast(year, "INT"), S.cast(month, "INT"), S.cast(day, "INT")
    )
    result = S.case(
        [
            (S.or_(_empty(year), _empty(month), _empty(day)), NULL),
            (S.or_(S.not_(ints_ok), S.is_null(made)), fail),  # warning sites
        ],
        S.call("date_format", made, "'yyyy-MM-dd'"),
    )
    return result, "str", False


def t_make_datetime_from_seconds(value: str, params: list, fail: str) -> BuildResult:
    time_seconds, date_format_, timezone_ = params[0], params[1], params[2]
    secs = S.cast(_lit(time_seconds), "BIGINT")
    parsed = _parse_ts(value, date_format_)
    whole_hours = f"({secs} - ({secs} % 3600))"
    whole_minutes = f"({S.cast(f'(({secs} % 3600) / 60)', 'BIGINT')} * 60)"
    with_time = S.call(
        "timestamp_seconds",
        f"(({S.cast(parsed, 'BIGINT')} + {whole_hours}) + {whole_minutes})",
    )
    result = S.case(
        [
            (_empty(value), NULL),
            (S.is_null(parsed), fail),  # warning site
            (_empty(S.cast(_lit(time_seconds), "STRING")),
             S.call("date_format", parsed, "'yyyy-MM-dd'")),
        ],
        _iso_offset_render(with_time, timezone_),
    )
    return result, "str", False


def t_make_datetime(value: str, params: list, fail: str) -> BuildResult:
    time_24hr, date_format_, timezone_ = params[0], params[1], params[2]
    tm = _lit(time_24hr)
    parsed = _parse_ts(value, date_format_)
    tm_ts = S.call("try_to_timestamp", S.call("nullif", tm, "''"), "'H:m'")
    seconds = (
        f"(({S.cast(parsed, 'BIGINT')} + ({S.call('hour', tm_ts)} * 3600))"
        f" + ({S.call('minute', tm_ts)} * 60))"
    )
    result = S.case(
        [
            (_empty(value), NULL),
            (S.is_null(parsed), fail),  # warning site
            (_empty(tm), S.call("date_format", parsed, "'yyyy-MM-dd'")),
            (S.is_null(tm_ts), NULL),  # reference: uncaught
        ],
        _iso_offset_render(S.call("timestamp_seconds", seconds), timezone_),
    )
    return result, "str", False


def t_split_date(value: str, params: list, fail: str) -> BuildResult:
    option = params[0]
    epoch = params[1]
    fmt = params[2] if len(params) > 2 else ISO
    extractors = {"year": "year", "month": "month", "day": "dayofmonth"}
    if not isinstance(option, str) or option not in extractors:
        return fail, "int", False  # invalid option warning site
    parsed = _parse_ts(value, fmt)
    component = S.call(extractors[option], _pivot_century(parsed, epoch, fmt))
    result = S.case(
        [(_empty(value), NULL), (S.is_null(parsed), fail)], S.cast(component, "STRING")
    )
    return result, "int", False


def _first_truthy(currentdate: Any) -> str:
    """A list-valued currentdate param is a hierarchy: first truthy entry
    (reference: transformations.py:379-381)."""
    if isinstance(currentdate, list):
        return S.call(
            "coalesce", *[S.call("nullif", _lit(c), "''") for c in currentdate], NULL
        )
    return _lit(currentdate)


def _start_shifted(value: str, params: list) -> tuple[str, str, str, str]:
    """Shared startYear/startMonth machinery: resolve the anchor date and
    shift it back by the duration.  Returns (duration_ok, shifted_ts,
    duration_type, anchor_ts)."""
    currentdate = _first_truthy(params[0])
    epoch = params[1]
    dateformat = params[2] if len(params) > 2 else ISO
    duration_type = params[3] if len(params) > 3 else "years"
    provide_month_day = params[4] if len(params) > 4 else False

    if provide_month_day:
        month, day = provide_month_day
        cd = S.cast(
            S.call(
                "make_date",
                S.cast(currentdate, "INT"),
                S.cast(_lit(month), "INT"),
                S.cast(_lit(day), "INT"),
            ),
            "TIMESTAMP",
        )
    else:
        cd = _pivot_century(_parse_ts(currentdate, dateformat), epoch, dateformat)

    d = S.cast(value, "DOUBLE")
    ok = S.and_(R.is_float_string(value), S.is_not_null(currentdate))
    floor = S.call("floor", d)
    if duration_type == "years":
        shifted = S.call("add_months", cd, S.cast(f"(-12 * {floor})", "INT"))
    elif duration_type == "months":
        shifted = S.call("add_months", cd, S.cast(f"(- {floor})", "INT"))
    else:  # days
        shifted = _shift_days(cd, d, -1)
    return ok, S.cast(shifted, "TIMESTAMP"), duration_type, cd


def _start_part(value: str, params: list, part: str) -> str:
    ok, shifted, _, cd = _start_shifted(value, params)
    return S.case(
        [(_empty(value), NULL), (S.or_(S.not_(ok), S.is_null(cd)), NULL)],
        S.cast(S.call(part, shifted), "STRING"),
    )


def t_start_year(value: str, params: list, fail: str) -> BuildResult:
    return _start_part(value, params, "year"), "int", False


def t_start_month(value: str, params: list, fail: str) -> BuildResult:
    duration_type = params[3] if len(params) > 3 else "years"
    if duration_type == "years":
        # reference startMonth has no 'years' branch -> implicit None
        return NULL, "int", False
    return _start_part(value, params, "month"), "int", False


def t_correct_old_date(value: str, params: list, fail: str) -> BuildResult:
    epoch = params[0]
    fmt = params[1]
    parsed = _parse_ts(value, fmt)
    pivoted = _pivot_century(parsed, epoch, fmt)
    result = S.case(
        [(_empty(value), NULL), (S.is_null(parsed), fail)],  # warning site
        S.call("date_format", pivoted, "'yyyy-MM-dd'"),
    )
    return result, "str", False


_BUILTINS: dict[str, Callable[[str, list, str], BuildResult]] = {
    "isNotNull": t_is_not_null,
    "textIfNotNull": t_text_if_not_null,
    "wordSubstituteSet": t_word_substitute_set,
    "getFloat": t_get_float,
    "Percentage": t_percentage,
    "yearsElapsed": t_years_elapsed,
    "durationDays": t_duration_days,
    "startDate": t_start_date,
    "endDate": t_end_date,
    "makeDate": t_make_date,
    "makeDateTimeFromSeconds": t_make_datetime_from_seconds,
    "makeDateTime": t_make_datetime,
    "splitDate": t_split_date,
    "startYear": t_start_year,
    "startMonth": t_start_month,
    "correctOldDate": t_correct_old_date,
}


def build_transform(
    name: str,
    value: str,
    params: list,
    fail_value: str,
    stage_udf: Callable[[Column], str],
    custom_transforms: dict[str, Callable] | None = None,
) -> BuildResult:
    """Dispatch an ``apply`` rule to a native builder, falling back to a UDF
    wrapper for user-supplied transforms (U1,
    reference: parser.py:197-226).  ``stage_udf`` turns the UDF's Column
    into a column a preceding projection computes, and returns the SQL
    that references it."""
    custom_transforms = custom_transforms or {}
    if name in custom_transforms:
        return _wrap_custom(custom_transforms[name], value, params, fail_value, stage_udf)
    if name in _BUILTINS:
        return _BUILTINS[name](value, params, fail_value)
    raise AttributeError(
        f"Error using a data transformation: Function {name} has not been defined."
    )


class AdtlTransformationWarning(UserWarning):
    """Raised by custom transformations to signal a per-cell failure
    (name-compatible with the reference's error channel)."""


def _py_render(v: Any) -> str | None:
    if v is None:
        return None
    if isinstance(v, bool):
        return "True" if v else "False"
    if isinstance(v, (list, tuple, set)):
        return str(list(v))
    return str(v)


def _wrap_custom(
    fn: Callable,
    value: str,
    params: list,
    fail_value: str,
    stage_udf: Callable[[Column], str],
) -> BuildResult:
    """User transform -> Arrow-batched pandas UDF.  Column params ($field)
    are passed as UDF arguments; literals are closed over.  The function
    itself is still scalar Python (the reference contract), but data moves
    in Arrow batches instead of per-row pickling.  The
    AdtlTransformationWarning channel maps to (failed, value) so the caller
    can route to fail_value.  The UDF's result is a staged column: SQL
    text cannot call an unregistered Python function."""
    import pandas as pd

    col_params = [p for p in params if _is_sql(p)]
    spec: list[tuple[bool, Any]] = [(_is_sql(p), p) for p in params]
    out_type = T.StructType(
        [
            T.StructField("failed", T.BooleanType()),
            T.StructField("value", T.StringType()),
        ]
    )

    def run(*series):
        values = series[0]
        failed = []
        rendered = []
        with warnings.catch_warnings():
            warnings.simplefilter("error", category=AdtlTransformationWarning)
            for i in range(len(values)):
                args = []
                it = iter(series[1:])
                for is_c, p in spec:
                    args.append(next(it).iloc[i] if is_c else p)
                try:
                    out = fn(values.iloc[i], *args)
                    failed.append(False)
                    rendered.append(_py_render(out))
                except AdtlTransformationWarning:
                    failed.append(True)
                    rendered.append(None)
        return pd.DataFrame({"failed": failed, "value": rendered})

    # pandas_udf infers a scalar pandas UDF from these hints; set as
    # objects, since ``from __future__ import annotations`` would leave
    # strings naming a local import
    run.__annotations__ = {"series": pd.Series, "return": pd.DataFrame}
    run_udf = F.pandas_udf(run, returnType=out_type)
    res = stage_udf(run_udf(F.expr(value), *[F.expr(p) for p in col_params]))
    return (
        S.case([(S.field(res, "failed"), fail_value)], S.field(res, "value")),
        "dynamic",
        False,
    )
