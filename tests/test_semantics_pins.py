"""Boundary pins the reference corpus leaves open (SURVEY.md §1.2/§5.2).

These are OUR additional golden cases: exclusive min/max boundaries,
null-vs-missing, the YAML convertibility matrix (bool is not integer),
anchored full-match regex, normalization output content, policy
scoping, and extension-API parity with the reference's doc examples
(``doc/examples/oddrule.cc``, ``datetype.cc``, ``registerschema.cc``).
"""

from __future__ import annotations

import pytest

from cerberus_cpp_spark.dynamic.interpreter import Priority, Validator
from cerberus_cpp_spark.errors import SchemaError
from cerberus_cpp_spark.functions.pytypes import TypeAdapter


def test_min_max_are_exclusive() -> None:
    # rules.hh:316-317 / 335-336: strict comparisons on BOTH bounds.
    v = Validator({"x": {"type": "integer", "min": 1000}})
    assert not v.validate({"x": 1000})  # equal to min → fail
    assert v.validate({"x": 1001})
    v = Validator({"x": {"type": "integer", "max": 1000}})
    assert not v.validate({"x": 1000})  # equal to max → fail
    assert v.validate({"x": 999})


def test_min_fails_on_null_but_max_passes() -> None:
    # Asymmetry of rules.hh:316-317 vs 335-336 on non-decodable docs.
    v = Validator({"x": {"type": "integer", "min": 10, "nullable": True}})
    assert not v.validate({"x": None})
    v = Validator({"x": {"type": "integer", "max": 10, "nullable": True}})
    assert v.validate({"x": None})


def test_null_vs_missing() -> None:
    # required fires on missing only (rules.hh:513); nullable on
    # explicit null only (rules.hh:400).
    schema = {"x": {"type": "string", "required": True, "nullable": True}}
    v = Validator(schema)
    assert not v.validate({})
    assert v.validate({"x": None})
    assert v.validate({"x": "hi"})


def test_bool_is_not_integer() -> None:
    # types.hh decode semantics pinned by testdata.yml:512-513.
    v = Validator({"x": {"type": "integer"}})
    assert not v.validate({"x": True})
    assert v.validate({"x": 42})
    assert v.validate({"x": "42"})      # string scalar decodes
    assert not v.validate({"x": "4.2"})  # float text does not


def test_integer_is_float_but_not_vice_versa() -> None:
    v = Validator({"x": {"type": "float"}})
    assert v.validate({"x": 42})
    assert v.validate({"x": "3.14"})
    v = Validator({"x": {"type": "integer"}})
    assert not v.validate({"x": 3.14})


def test_everything_scalar_is_string() -> None:
    v = Validator({"x": {"type": "string"}})
    for val in (42, 3.14, True, "abc"):
        assert v.validate({"x": val}), val


def test_regex_is_full_match() -> None:
    # std::regex_match (rules.hh:448) — a mid-string hit must fail.
    v = Validator({"x": {"type": "string", "regex": "[0-9]+"}})
    assert v.validate({"x": "123"})
    assert not v.validate({"x": "a123b"})
    # trailing newline is NOT part of a full match (ADVICE r3: Java's
    # $ anchor tolerates a final line terminator; our compiled path
    # uses \A..\z so both engines reject it, like std::regex_match)
    assert not v.validate({"x": "123\n"})


def test_default_normalization_output() -> None:
    # Stronger than the reference suite: assert normalized CONTENT.
    v = Validator({"uuid": {"type": "integer", "default": 1042}})
    assert v.validate({})
    assert v.get_document() == {"uuid": 1042}
    # default fires on UNDEFINED only, not on explicit null
    v2 = Validator(
        {"uuid": {"type": "integer", "default": 7, "nullable": True}}
    )
    assert v2.validate({"uuid": None})
    assert v2.get_document() == {"uuid": None}


def test_rename_normalization_output() -> None:
    v = Validator({"foo": {"type": "string", "rename": "bar"}})
    assert v.validate({"foo": "bla"})
    assert v.get_document() == {"bar": "bla"}


def test_purge_unknown_normalization_output() -> None:
    v = Validator({"field": {"type": "string"}}, purge_unknown=True)
    assert v.validate({"field": "foo", "other": "bar"})
    assert v.get_document() == {"field": "foo"}


def test_validation_never_mutates_input() -> None:
    # validator.hh:234 deep-clones before normalization.
    doc: dict = {}
    v = Validator({"uuid": {"type": "integer", "default": 1}})
    v.validate(doc)
    assert doc == {}


def test_errors_accumulate_no_short_circuit() -> None:
    v = Validator(
        {
            "a": {"type": "integer", "required": True},
            "b": {"type": "string", "regex": "x+"},
        }
    )
    assert not v.validate({"b": "zzz", "c": 1})
    # missing required a + failed regex b + unknown c = 3 errors
    assert len(v.errors) == 3


def test_error_paths_follow_reference_grammar() -> None:
    v = Validator(
        {
            "xs": {
                "type": "list",
                "schema": {"type": "integer"},
            }
        }
    )
    assert not v.validate({"xs": [1, "nope", 3]})
    assert [e.path for e in v.errors] == ["^.xs[1]"]


@pytest.mark.parametrize("schema", [
    {"a": {"type": "integer", "min": 5}},
    {"a": {"min": 5, "type": "integer"}},
], ids=["type-first", "min-first"])
def test_type_runs_after_validation_phase(schema) -> None:
    # rules.hh:610 registers type at TYPECHECKING, after VALIDATION:
    # min reports before type whatever the schema key order.
    v = Validator(schema)
    assert not v.validate({"a": "abc"})
    assert [e.message for e in v.errors] == [
        "min-rule violated", "type-rule violated: expected integer"]


def test_require_all_overrides_explicit_required_false() -> None:
    # validator.hh:273-275 injects unconditionally at NORMALIZATION.
    v = Validator({"a": {"type": "string", "required": False}},
                  require_all=True)
    assert not v.validate({})


def test_custom_rule_registration() -> None:
    # Parity with doc/examples/oddrule.cc — a rule rejecting even ints.
    v = Validator()

    def odd_rule(ctx) -> None:
        if ctx.item.value is None or not ctx.arg:
            return
        try:
            if int(ctx.item.value) % 2 == 0:
                ctx.raise_error("odd-rule violated")
        except (TypeError, ValueError):
            pass

    v.register_rule("odd", {"type": "boolean"}, odd_rule,
                    Priority.VALIDATION)
    schema = {"x": {"type": "integer", "odd": True}}
    assert v.validate({"x": 3}, schema)
    assert not v.validate({"x": 4}, schema)


def test_custom_type_registration() -> None:
    # Parity with doc/examples/datetype.cc — ISO date as a type.
    import datetime

    def decode_date(value):
        return datetime.date.fromisoformat(str(value))

    v = Validator()
    v.register_type(TypeAdapter("date", decode_date))
    schema = {
        "d": {"type": "date", "min": "2020-01-01", "max": "2030-01-01"}
    }
    assert v.validate({"d": "2024-06-01"}, schema)
    assert not v.validate({"d": "2019-01-01"}, schema)
    assert not v.validate({"d": "not-a-date"}, schema)


def test_registered_schema_reuse() -> None:
    # Parity with doc/examples/registerschema.cc.
    v = Validator()
    v.register_schema("user", {"name": {"type": "string"}})
    schema = {"group": {"type": "dict", "schema": "user"}}
    assert v.validate({"group": {"name": "me"}}, schema)
    assert not v.validate({"group": {"oops": "x"}}, schema)


def test_top_level_document_must_be_mapping() -> None:
    v = Validator({"x": {"type": "string"}})
    assert not v.validate([1, 2, 3])


def test_schema_must_be_mapping() -> None:
    with pytest.raises(SchemaError):
        Validator().validate({}, "no-such-registered-schema")
