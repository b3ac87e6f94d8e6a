"""Spec loading and compile-time rewrites (SURVEY.md §2.6 R2-R5)."""

import pytest

from adtl_spark.spec import (
    CompiledSpec,
    SpecError,
    expand_for_blocks,
    infer_date_fields,
    relax_schema,
    splice_refs,
    synthesize_default_if,
)


def test_splice_refs_merges_local_overrides():
    defs = {"yn": {"values": {"1": True, "0": False}}}
    frag = {"x": {"ref": "yn", "field": "smoker"}}
    out = splice_refs(frag, defs)
    assert out == {"x": {"values": {"1": True, "0": False}, "field": "smoker"}}


def test_splice_refs_local_wins():
    defs = {"base": {"field": "a", "values": {"1": "x"}}}
    out = splice_refs({"r": {"ref": "base", "values": {"2": "y"}}}, defs)
    assert out["r"]["values"] == {"2": "y"}
    assert out["r"]["field"] == "a"


def test_splice_refs_unknown_raises():
    with pytest.raises(SpecError):
        splice_refs({"r": {"ref": "nope"}}, {})


def test_expand_for_range():
    blocks = [
        {
            "for": {"n": {"range": [1, 3]}},
            "name": "fever_{n}",
            "value": {"field": "flw_fever_{n}"},
        }
    ]
    out = expand_for_blocks(blocks)
    assert [b["name"] for b in out] == ["fever_1", "fever_2", "fever_3"]
    assert out[2]["value"]["field"] == "flw_fever_3"


def test_expand_for_list_and_product():
    blocks = [{"for": {"a": [1, 2], "b": ["x", "y"]}, "k": "{a}-{b}"}]
    out = expand_for_blocks(blocks)
    assert sorted(b["k"] for b in out) == ["1-x", "1-y", "2-x", "2-y"]


def test_expand_for_bad_domain():
    with pytest.raises(SpecError):
        expand_for_blocks([{"for": {"n": 5}, "k": "{n}"}])


def test_infer_date_fields():
    schema = {
        "properties": {
            "enrolment_date": {"type": "string"},
            "date_of_birth": {},
            "date": {},
            "other": {"format": "date"},
            "name": {},
        }
    }
    assert infer_date_fields(schema) == [
        "date",
        "date_of_birth",
        "enrolment_date",
        "other",
    ]


def test_relax_schema_drops_optional_required():
    schema = {"required": ["a", "b"], "properties": {"a": {}, "b": {}}}
    out = relax_schema(schema, ["b"])
    assert out["required"] == ["a"]
    # original untouched
    assert schema["required"] == ["a", "b"]


def test_relax_schema_oneof_dedupe():
    schema = {
        "required": [],
        "oneOf": [{"required": ["x"]}, {"required": ["y"]}],
    }
    out = relax_schema(schema, ["x", "y"])
    assert "oneOf" not in out


def test_default_if_from_values():
    schema = {"oneOf": [{"required": ["name"]}]}
    block = {"name": {"field": "cough", "values": {"1": "yes", "2": "no"}}}
    out = synthesize_default_if("t", block, schema)
    assert out["if"] == {"any": [{"cough": "1"}, {"cough": "2"}]}


def test_default_if_plain_field():
    schema = {"oneOf": [{"required": ["name"]}]}
    block = {"name": {"field": "cough"}}
    out = synthesize_default_if("t", block, schema)
    assert out["if"] == {"cough": {"!=": ""}}


def test_default_if_combined():
    schema = {"oneOf": [{"required": ["name"]}]}
    block = {
        "name": {
            "combinedType": "any",
            "fields": [
                {"field": "a", "values": {"1": True}},
                {"field": "b"},
            ],
        }
    }
    out = synthesize_default_if("t", block, schema)
    assert out["if"] == {"any": [{"a": "1"}, {"b": {"!=": ""}}]}


def test_compiled_spec_basic():
    spec = CompiledSpec(
        {
            "adtl": {
                "name": "t",
                "description": "",
                "tables": {"tab": {"kind": "oneToOne"}},
            },
            "tab": {"b_field": "const", "a_field": {"field": "x"}},
        }
    )
    assert spec.fieldnames["tab"] == ["a_field", "b_field"]
    assert spec.default_date_format == "%Y-%m-%d"


def test_compiled_spec_missing_header():
    with pytest.raises(SpecError):
        CompiledSpec({"tab": {}})


def test_namespace_uuid_deterministic():
    doc = {
        "adtl": {"name": "n", "description": "d", "tables": {"t": {"kind": "oneToOne"}}},
        "t": {"a": {"field": "x"}},
    }
    assert CompiledSpec(doc).namespace_uuid() == CompiledSpec(doc).namespace_uuid()


# ---- eager rule-level validation (V1 depth; reference adtl_pydantic.py) ----
#
# Each malformed document must fail at LOAD time (CompiledSpec construction)
# with a SpecError wrapping a pydantic ValidationError whose message names
# the offending spec path — not later with a compiler message.  The
# rejection surface mirrors the reference models (verified against
# /root/reference/src/adtl/adtl_pydantic.py by direct probe); the
# documented widenings (numeric constants, False flags, float comparisons,
# nested combinators, defs-style source-less escape via ref) are covered by
# the acceptance tests above and the parity suite.


def _doc(body, kind="oneToOne", **meta):
    return {
        "adtl": {
            "name": "t",
            "description": "d",
            "tables": {"tab": {"kind": kind, **meta}},
        },
        "tab": body,
    }


def _expect_load_error(doc, *needles):
    with pytest.raises(SpecError) as e:
        CompiledSpec(doc)
    msg = str(e.value)
    for needle in needles:
        assert needle in msg, (needle, msg)


def test_unknown_rule_key_rejected_with_path():
    _expect_load_error(
        _doc({"x": {"field": "a", "bogus": 1}}),
        "tab.x",
        "bogus",
        "Extra inputs are not permitted",
    )


def test_bad_combined_type_rejected():
    _expect_load_error(
        _doc({"x": {"combinedType": "bogus", "fields": [{"field": "a"}]}}),
        "tab.x",
        "combinedType",
    )


def test_bad_generate_type_rejected():
    _expect_load_error(
        _doc({"x": {"field": "a", "generate": {"type": "sha1", "values": []}}}),
        "generate.type",
    )


def test_rule_without_source_rejected():
    _expect_load_error(
        _doc({"x": {"values": {"1": "y"}}}),
        "tab.x",
        "must name a source",
    )


def test_one_to_many_requires_discriminator():
    doc = {
        "adtl": {
            "name": "t",
            "description": "d",
            "tables": {"tab": {"kind": "oneToMany"}},
        },
        "tab": [{"attr": "a", "v": {"field": "x"}}],
    }
    _expect_load_error(doc, "discriminator")


def test_missing_table_body_named():
    doc = {
        "adtl": {
            "name": "t",
            "description": "d",
            "tables": {"tab": {"kind": "oneToOne"}, "gone": {"kind": "oneToOne"}},
        },
        "tab": {"x": {"field": "a"}},
    }
    _expect_load_error(doc, "missing tables: gone")


def test_undeclared_table_body_named():
    doc = _doc({"x": {"field": "a"}})
    doc["stray"] = {"y": {"field": "b"}}
    _expect_load_error(doc, "not defined in the header: stray")


def test_long_body_for_non_one_to_many_rejected():
    doc = {
        "adtl": {
            "name": "t",
            "description": "d",
            "tables": {"tab": {"kind": "oneToOne"}},
        },
        "tab": [{"v": {"field": "x"}}],
    }
    _expect_load_error(doc, "oneToMany")


def test_scalar_table_body_rejected():
    doc = _doc({"x": {"field": "a"}})
    doc["stray"] = 5
    _expect_load_error(doc, "stray")


def test_group_by_requires_keys():
    doc = {
        "adtl": {
            "name": "t",
            "description": "d",
            "tables": {"tab": {"kind": "groupBy", "groupBy": "id"}},
        },
        "tab": {"x": {"field": "a"}},
    }
    _expect_load_error(doc, "aggregation")


def test_bad_header_key_rejected():
    doc = _doc({"x": {"field": "a"}})
    doc["adtl"]["typo_key"] = True
    _expect_load_error(doc, "typo_key")


def test_bad_if_operator_payload_rejected():
    # "=~" must be a regex string, not a mapping
    _expect_load_error(
        _doc({"x": {"field": "a", "if": {"c": {"=~": {"nested": 1}}}}}),
        "if",
    )


def test_list_constant_rejected():
    """A constant table admits only scalars, as the reference's model does:
    a list value fails at load time, naming its path."""
    _expect_load_error(
        _doc({"dataset": "d", "tags": ["a", "b"]}, kind="constant"),
        "tab.tags",
        "valid dictionary",
    )


def test_widened_forms_accepted():
    """The documented widenings load cleanly: numeric constants, False
    flags, float comparisons, nested combinators, generate-only rules."""
    CompiledSpec(
        _doc(
            {
                "n": 42,
                "flag": {"field": "a", "sensitive": False},
                "cmp": {"field": "a", "if": {"c": {">=": 2.5}}},
                "nested": {
                    "field": "a",
                    "if": {"any": [{"not": {"c": {"=~": "^y"}}}, {"c": 1}]},
                },
                "gen": {"generate": {"type": "uuid5", "values": ["a", "b"]}},
            }
        )
    )
