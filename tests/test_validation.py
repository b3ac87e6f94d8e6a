"""V2 validation: native keyword compilation (incl. recursive draft-07
combinators) and the Arrow-batched jsonschema fallback for the long tail
(SURVEY §7.4.8).  Differential oracle: the installed ``jsonschema``
Draft7Validator over the same dynamic-typed values — the same library
family the reference's fastjsonschema implements."""

import json

import pytest

from adtl_spark.api import Parser


def run_with_schema(spark, tmp_path, schema_props, rows, required=None):
    schema = {
        "$schema": "https://json-schema.org/draft-07/schema",
        "properties": schema_props,
    }
    if required:
        schema["required"] = required
    (tmp_path / "s.json").write_text(json.dumps(schema))
    spec = {
        "adtl": {
            "name": "v",
            "description": "",
            "tables": {"t": {"kind": "oneToOne", "schema": str(tmp_path / "s.json")}},
        },
        "t": {k: {"field": k} for k in schema_props},
    }
    p = Parser(spec, spark=spark).parse_rows(rows)
    return [
        (r["adtl_valid"], r["adtl_error"])
        for r in sorted(p.table("t").collect(), key=lambda r: str(r[2:]))
    ]


def _jsonschema_verdicts(schema_props, rows):
    from jsonschema import Draft7Validator

    out = []
    for row in rows:
        ok = True
        for attr, prop in schema_props.items():
            v = row.get(attr)
            if v in (None, ""):
                continue
            decoded = v
            for cast in (int, float):
                try:
                    decoded = cast(v)
                    break
                except (ValueError, TypeError):
                    continue
            if not Draft7Validator(prop).is_valid(decoded):
                ok = False
        out.append(ok)
    return out


def test_native_combinators_match_jsonschema(spark, tmp_path):
    """anyOf/multipleOf/exclusive bounds compile natively (no UDF) and
    agree with jsonschema on every row."""
    props = {
        "v": {
            "anyOf": [
                {"type": "integer", "multipleOf": 5},
                {"type": "number", "exclusiveMinimum": 90},
            ]
        }
    }
    rows = [{"v": x} for x in ["10", "7", "90.5", "15", "89", "95", "3"]]
    got = run_with_schema(spark, tmp_path, props, rows)
    valid_count = sum(1 for ok, _ in got if ok)
    assert valid_count == sum(_jsonschema_verdicts(props, rows))
    # spot checks: 10 and 15 are multiples of 5; 90.5 and 95 clear the
    # exclusive bound; 7, 89, 3 fail both arms
    assert valid_count == 4


def test_nested_combinators_native(spark, tmp_path):
    """The native keyword set is closed under recursion: not(anyOf(...))
    still compiles to a boolean expression tree."""
    props = {
        "v": {
            "not": {
                "anyOf": [{"const": "bad"}, {"pattern": "^x"}],
            }
        }
    }
    rows = [{"v": s} for s in ["good", "bad", "xray", "fine"]]
    got = run_with_schema(spark, tmp_path, props, rows)
    assert sum(1 for ok, _ in got if ok) == 2


def test_long_tail_fallback_uses_jsonschema(spark, tmp_path):
    """A keyword outside the native set (if/then) routes the property
    through the Arrow-batched jsonschema check instead of being silently
    ignored."""
    pytest.importorskip("jsonschema")
    props = {
        "v": {
            "if": {"pattern": "^A"},
            "then": {"minLength": 3},
        }
    }
    # draft-07 if/then: strings starting with A must be >= 3 chars
    rows = [{"v": s} for s in ["AB", "ABC", "Z", "A"]]
    got = run_with_schema(spark, tmp_path, props, rows)
    verdicts = {r for r in got}
    valid = sum(1 for ok, _ in got if ok)
    assert valid == 2  # "ABC" and "Z" pass; "AB"/"A" fail the then-branch
    assert any(
        err == "data.v must be valid by schema definition"
        for ok, err in got
        if not ok
    )
    assert verdicts  # sanity


def test_validation_counts_and_messages(spark, tmp_path):
    props = {
        "age": {"type": ["integer", "null"], "minimum": 0, "maximum": 120},
    }
    rows = [{"age": "34"}, {"age": "-2"}, {"age": "200"}, {"age": ""}]
    got = run_with_schema(spark, tmp_path, props, rows)
    assert sum(1 for ok, _ in got if ok) == 2  # 34 and empty
    errs = {e for ok, e in got if not ok}
    assert "data.age must be bigger than or equal to 0" in errs
    assert "data.age must be smaller than or equal to 120" in errs


# ------------------------------------------------------------ oneOf + report

OBS_ONEOF_SCHEMA = {
    "properties": {
        "name": {"type": "string"},
        "phase": {"type": "string", "enum": ["admission", "followup"]},
        "value": {"type": "number"},
        "is_present": {"type": "boolean"},
    },
    "required": ["name", "phase"],
    "oneOf": [
        {
            "properties": {"name": {"enum": ["cough", "fever", "rash"]}},
            "required": ["is_present"],
        },
        # "rash" is also listed above: the later option is its validator
        {
            "properties": {"name": {"const": "rash"}, "value": {"minimum": 0}},
            "required": ["value"],
        },
        {
            "properties": {"name": {"const": "oxygen"}, "value": {"maximum": 100}},
            "required": ["value"],
        },
    ],
}

OBS_ROWS = [
    {"n": "cough", "ph": "admission", "v": "", "p": "1"},
    {"n": "cough", "ph": "admission", "v": "", "p": ""},
    {"n": "fever", "ph": "nowhere", "v": "", "p": "0"},
    {"n": "rash", "ph": "followup", "v": "3", "p": ""},
    {"n": "rash", "ph": "followup", "v": "", "p": "1"},
    {"n": "rash", "ph": "followup", "v": "-1", "p": ""},
    {"n": "oxygen", "ph": "admission", "v": "150", "p": ""},
    {"n": "oxygen", "ph": "admission", "v": "95", "p": ""},
    {"n": "headache", "ph": "admission", "v": "", "p": "1"},
    {"n": "", "ph": "admission", "v": "", "p": "1"},
]


def _obs_block(if_cond):
    return [
        {
            "name": {"field": "n"},
            "phase": {"field": "ph"},
            "value": {"field": "v"},
            "is_present": {"field": "p", "values": {"1": True, "0": False}},
            "if": if_cond,
        }
    ]


def _write_schema(tmp_path, name, schema):
    f = tmp_path / f"{name}.schema.json"
    f.write_text(json.dumps(schema))
    return str(f)


def test_discriminator_options_pinned(spark, tmp_path):
    """A oneOf long table validates each row against the option its
    discriminator selects: an enum option covers three keys, a key listed
    in two options takes the later one, and unknown or missing keys get
    the 'No validator found' error."""
    spec = {
        "adtl": {
            "name": "d",
            "description": "",
            "tables": {
                "obs": {
                    "kind": "oneToMany",
                    "schema": _write_schema(tmp_path, "obs", OBS_ONEOF_SCHEMA),
                    "discriminator": "name",
                }
            },
        },
        "obs": _obs_block({"ph": {"!=": ""}}),
    }
    df = Parser(spec, spark=spark).parse_rows(OBS_ROWS).table("obs")
    got = sorted(
        ((r["name"], r["value"], r["is_present"], r["adtl_valid"], r["adtl_error"])
         for r in df.collect()),
        key=str,
    )
    no_validator = "No validator found for attribute '{}' in table 'obs'"
    want = sorted(
        [
            ("cough", None, "True", True, None),
            ("cough", None, None, False, "data must contain ['is_present'] properties"),
            ("fever", None, "False", False,
             "data.phase must be one of ['admission', 'followup']"),
            ("rash", "3.0", None, True, None),
            ("rash", None, "True", False, "data must contain ['value'] properties"),
            ("rash", "-1.0", None, False, "data.value must be bigger than or equal to 0"),
            ("oxygen", "150.0", None, False,
             "data.value must be smaller than or equal to 100"),
            ("oxygen", "95.0", None, True, None),
            ("headache", None, "True", False, no_validator.format("headache")),
            (None, None, "True", False, no_validator.format("None")),
        ],
        key=str,
    )
    assert got == want


def _report_two_aggregates_per_table(tables):
    """The report as separate computations per table — totals by an
    aggregation, the error histogram as the reference's ``Counter`` over
    the rows in output order (messages in first-occurrence order) — the
    oracle for the single-action report."""
    from collections import Counter

    from pyspark.sql import functions as F

    report = {"total": {}, "total_valid": {}, "validation_errors": {}}
    for name, df in tables.items():
        if "adtl_valid" not in df.columns:
            continue
        counts = df.agg(
            F.count(F.lit(1)).alias("total"),
            F.sum(F.col("adtl_valid").cast("int")).alias("valid"),
        ).collect()[0]
        report["total"][name] = counts["total"]
        report["total_valid"][name] = counts["valid"] or 0
        errors = Counter(r["adtl_error"] for r in df.collect() if r["adtl_error"])
        report["validation_errors"][name] = dict(errors)
    return report


def _multi_table_parser(spark, tmp_path):
    subject_schema = {
        "properties": {
            "subject_id": {"type": "string"},
            "age": {"type": "integer", "minimum": 0, "maximum": 120},
            "sex": {"enum": ["male", "female"]},
        },
        "required": ["subject_id"],
    }
    empty_schema = {
        "properties": {"name": {"type": "string"}, "phase": {"type": "string"}},
        "required": ["name"],
    }
    spec = {
        "adtl": {
            "name": "multi",
            "description": "",
            "tables": {
                "plain": {"kind": "oneToOne"},
                "subject": {
                    "kind": "oneToOne",
                    "schema": _write_schema(tmp_path, "subject", subject_schema),
                },
                "empty": {
                    "kind": "oneToMany",
                    "schema": _write_schema(tmp_path, "empty", empty_schema),
                    "discriminator": "name",
                },
                "obs": {
                    "kind": "oneToMany",
                    "schema": _write_schema(tmp_path, "obs", OBS_ONEOF_SCHEMA),
                    "discriminator": "name",
                },
            },
        },
        "plain": {"subject_id": {"field": "sid"}},
        "subject": {
            "subject_id": {"field": "sid"},
            "age": {"field": "age"},
            "sex": {"field": "sex"},
        },
        "empty": _obs_block({"ph": "never"}),
        "obs": _obs_block({"ph": {"!=": ""}}),
    }
    ages = ["34", "150", "-3", "x", "61", "", "29", "130", "45", "7"]
    sexes = ["male", "female", "other", "male", "", "female", "?", "male", "female", "male"]
    rows = [
        {"sid": f"S{i}", "age": ages[i], "sex": sexes[i], **OBS_ROWS[i]}
        for i in range(len(OBS_ROWS))
    ]
    return Parser(spec, spark=spark).parse_rows(rows)


def test_report_matches_two_aggregates_per_table(spark, tmp_path):
    """The single-action report equals the per-table two-aggregate
    computation, key order included; tables without a schema are absent
    and an empty validated table reports 0 / 0 / {}."""
    from adtl_spark.validate import validation_report

    p = _multi_table_parser(spark, tmp_path)
    want = _report_two_aggregates_per_table(p.data)
    # the sorted tables, and the unsorted cached ones build_report() reads
    for tables in (p.data, p._unsorted):
        got = validation_report(tables)
        assert got == want
        assert json.dumps(got) == json.dumps(want)  # key order, nested too
    assert p.build_report() == want
    assert list(got["total"]) == ["subject", "empty", "obs"]
    assert got["total"]["empty"] == 0
    assert got["total_valid"]["empty"] == 0
    assert got["validation_errors"]["empty"] == {}
    assert got["total"]["obs"] == 10 and got["total_valid"]["obs"] == 3
    assert got["validation_errors"]["obs"][
        "No validator found for attribute 'headache' in table 'obs'"
    ] == 1


def test_report_is_one_collect(spark, tmp_path, monkeypatch):
    from adtl_spark.validate import validation_report

    p = _multi_table_parser(spark, tmp_path)
    df_class = type(p.table("obs"))
    calls = []
    real_collect = df_class.collect

    def counting_collect(self):
        calls.append(self)
        return real_collect(self)

    monkeypatch.setattr(df_class, "collect", counting_collect)
    for tables in (p.data, p._unsorted):
        calls.clear()
        report = validation_report(tables)
        assert len(calls) == 1
        assert set(report["total"]) == {"subject", "empty", "obs"}
    # over the unsorted tables, the one aggregate is the only shuffle
    plan = calls[0]._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Exchange") == 1, plan


def test_error_chain_is_evaluated_once(spark, tmp_path):
    """``adtl_valid`` and ``adtl_error`` read one staged error column:
    every message literal appears once in the optimized plan, so
    CollapseProject has not inlined the chain into both columns."""
    p = _multi_table_parser(spark, tmp_path)
    for table, message in (
        ("subject", "data.age must be smaller than or equal to 120"),
        ("obs", "No validator found for attribute '"),
    ):
        plan = p._unsorted[table]._jdf.queryExecution().optimizedPlan().toString()
        assert plan.count(message) == 1, (table, plan)


def test_pandas_udfs_build_without_warnings(spark, tmp_path):
    """The jsonschema fallback and a custom transformation both build
    type-hinted pandas UDFs: no SPARK-28264 warning about the deprecated
    ``PandasUDFType`` form, and both still run."""
    import warnings

    pytest.importorskip("jsonschema")
    mod = tmp_path / "custom.py"
    mod.write_text("def shout(value):\n    return value.upper() if value else None\n")
    schema = {"properties": {"v": {"if": {"pattern": "^A"}, "then": {"minLength": 3}}}}
    spec = {
        "adtl": {
            "name": "u",
            "description": "",
            "tables": {"t": {"kind": "oneToOne", "schema": _write_schema(tmp_path, "t", schema)}},
        },
        "t": {"v": {"field": "v", "apply": {"function": "shout"}}},
    }
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        p = Parser(spec, include_transform=str(mod), spark=spark)
        p.parse_rows([{"v": s} for s in ["ab", "abc", "z"]])
    deprecated = [
        str(w.message)
        for w in caught
        if any(k in str(w.message) for k in ("SPARK-28264", "PandasUDFType", "type hints"))
    ]
    assert deprecated == []
    got = [(r["v"], r["adtl_valid"]) for r in p.table("t").collect()]
    assert got == [("AB", False), ("ABC", True), ("Z", True)]


def test_study_report_order_is_first_occurrence(spark, tmp_path, clinical_study):
    """The study report is byte-equal under two shuffle-partition counts,
    and each table's messages come in the order a ``Counter`` over the
    table's rows in output order gives them (the reference's order)."""
    from collections import Counter

    study = clinical_study(3, 300, tmp_path / "study")
    reports = []
    counters = {}
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for partitions in ("3", "13"):
            spark.conf.set("spark.sql.shuffle.partitions", partitions)
            with Parser(str(study.spec_path), spark=spark).parse(str(study.csv_path)) as p:
                reports.append(json.dumps(p.build_report()))
                for table in p.report["validation_errors"]:
                    rows = p.table(table).collect()
                    counters[table] = Counter(r["adtl_error"] for r in rows if r["adtl_error"])
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert reports[0] == reports[1]
    errors = json.loads(reports[0])["validation_errors"]
    assert set(errors) == {"subject", "observation", "visit"}
    assert sum(len(e) for e in errors.values()) > 3  # several messages to order
    for table, histogram in errors.items():
        assert list(histogram.items()) == list(counters[table].items()), table


def test_decode_restores_dynamic_values():
    """One decoder serves ``Parser.read_table`` (Python lists) and the
    jsonschema fallback (pandas cells, numpy arrays for list cells)."""
    import numpy as np

    from adtl_spark.functions.render import decode

    assert decode("True") is True and decode("False") is False
    assert decode(" 7 ") == 7 and isinstance(decode("7"), int)
    assert decode("2.50") == 2.5 and decode("1e-5") == 1e-5
    assert decode("abc") == "abc" and decode("") == ""
    assert decode(["1", "x", ["False"]]) == [1, "x", [False]]
    assert decode(np.array(["1", "2.5"], dtype=object)) == [1, 2.5]
    assert decode(None) is None and decode(3) == 3
