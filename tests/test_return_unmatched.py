"""returnUnmatched end-to-end (the messy-typed fixture family F-E):
unmapped values, unparseable dates/numbers and failed transforms pass
through as the original strings instead of nulling."""

from adtl_spark.api import Parser


def test_passthrough_values_recoerce_numerics(spark):
    """ignoreMissingKey passthrough must still run the reference's final
    int-then-float coercion on unmapped cells (get_value applies it
    unconditionally): '007' -> 7, '3.5' -> 3.5, while non-numeric text and
    the literal string 'False' pass through untouched.  Verified against
    reference get_value on these exact cells."""
    spec = {
        "adtl": {"name": "pt", "description": "", "tables": {"t": {"kind": "oneToOne"}}},
        "t": {
            "v": {
                "field": "x",
                "values": {"yes": True, "no": False},
                "ignoreMissingKey": True,
            }
        },
    }
    rows = [{"x": c} for c in ["007", "yes", "False", "0", "3.5", "abc"]]
    p = Parser(spec, spark=spark).parse_rows(rows, skip_validation=True)
    got = [r["v"] for r in p.table("t").collect()]
    assert sorted(got) == sorted(["7", "True", "False", "0", "3.5", "abc"])


def test_truthy_fold_provenance(spark):
    """combinedType any: a raw source cell literally spelling 'False' is a
    non-empty string in the reference (int/float coercion fails) and is
    TRUTHY; '0' coerces to 0 and is falsy; a mapped bool False is falsy."""
    spec = {
        "adtl": {"name": "tr", "description": "", "tables": {"t": {"kind": "oneToOne"}}},
        "t": {
            "k": {"field": "k"},
            "raw_any": {"combinedType": "any", "fields": [{"field": "a"}]},
            "mapped_any": {
                "combinedType": "any",
                "fields": [{"field": "b", "values": {"1": True, "0": False}}],
            },
        },
    }
    rows = [
        {"k": "r1", "a": "False", "b": "0"},
        {"k": "r2", "a": "0", "b": "1"},
        {"k": "r3", "a": "text", "b": ""},
    ]
    p = Parser(spec, spark=spark).parse_rows(rows, skip_validation=True)
    got = {r["k"]: (r["raw_any"], r["mapped_any"]) for r in p.table("t").collect()}
    assert got["r1"] == ("True", "False")  # raw 'False' truthy; mapped False falsy
    assert got["r2"] == ("False", "True")  # raw '0' coerces to 0 -> falsy
    assert got["r3"] == ("True", None)


def test_return_unmatched_paths(spark):
    spec = {
        "adtl": {
            "name": "messy",
            "description": "",
            "returnUnmatched": True,
            "tables": {"tab": {"kind": "oneToOne"}},
        },
        "tab": {
            "admit": {"field": "first_admit", "source_date": "%d/%m/%Y"},
            "age": {"field": "age", "apply": {"function": "getFloat"}},
            "weight_kg": {
                "field": "weight",
                "source_unit": "lb",
                "unit": "kg",
            },
            "smoking": {
                "field": "smoking",
                "values": {"1": "current", "0": "never"},
            },
            "diabetes": {
                "field": "diabetes_type",
                "apply": {
                    "function": "wordSubstituteSet",
                    "params": [["type 1", "type-1"], ["type 2", "type-2"]],
                },
            },
        },
    }
    rows = [
        {
            "first_admit": "15/03/2022",
            "age": "45",
            "weight": "150",
            "smoking": "1",
            "diabetes_type": "type 1",
        },
        {
            "first_admit": "last tuesday",
            "age": "fifteen",
            "weight": "heavy",
            "smoking": "today",
            "diabetes_type": "no diabetes",
        },
    ]
    p = Parser(spec, spark=spark).parse_rows(rows, skip_validation=True)
    out = list(p.read_table("tab", typed=False))

    clean, messy = out
    assert clean["admit"] == "2022-03-15"
    assert clean["age"] == "45.0"
    assert abs(float(clean["weight_kg"]) - 150 * 0.45359237) < 1e-6
    assert clean["smoking"] == "current"
    assert clean["diabetes"] == "['type-1']"  # stringly-rendered list

    # every messy value passes through unchanged
    assert messy["admit"] == "last tuesday"
    assert messy["age"] == "fifteen"
    assert messy["weight_kg"] == "heavy"
    assert messy["smoking"] == "today"
    assert messy["diabetes"] == "no diabetes"


def test_return_unmatched_parquet_rejected(spark, tmp_path):
    import pytest

    spec = {
        "adtl": {
            "name": "messy",
            "description": "",
            "returnUnmatched": True,
            "tables": {"tab": {"kind": "oneToOne"}},
        },
        "tab": {"v": {"field": "x"}},
    }
    p = Parser(spec, spark=spark).parse_rows([{"x": "1"}], skip_validation=True)
    with pytest.raises(ValueError, match="parquet"):
        p.write_parquet("tab", str(tmp_path / "out.parquet"))
    with pytest.raises(ValueError, match="parquet"):
        p.save(str(tmp_path / "out"), format="parquet")
