"""Ill-formed schemas must raise SchemaError during meta-validation.

Reference: ``test/testcerberus.cc:46-55`` over
``test/illformedschemas.yml`` (unknown rule name, map-valued
``contains``, length rules on scalar-typed fields).
"""

from __future__ import annotations

import pytest

from cerberus_cpp_spark.dynamic.interpreter import Validator
from cerberus_cpp_spark.errors import SchemaError
from tests.conftest import reference_corpus

ILLFORMED = reference_corpus("illformedschemas.yml")


@pytest.mark.parametrize("name", ILLFORMED.params())
def test_illformed_schema_raises(name: str) -> None:
    v = Validator()
    with pytest.raises(SchemaError):
        v.validate({}, ILLFORMED.cases[name])


def test_unknown_rule_raises() -> None:
    with pytest.raises(SchemaError):
        Validator().validate({}, {"f": {"type": "integer", "bogus": 1}})


def test_minlength_on_scalar_raises() -> None:
    with pytest.raises(SchemaError):
        Validator().validate({}, {"f": {"type": "integer", "minlength": 2}})


def test_contains_map_arg_raises() -> None:
    with pytest.raises(SchemaError):
        Validator().validate(
            {}, {"f": {"type": "list", "contains": {"foo": 42}}}
        )


def test_nested_illformed_schema_raises() -> None:
    """Stricter than the reference (which skips nested meta-validation,
    an unpinned gap — SURVEY.md §5): nested rule-maps are checked too."""
    with pytest.raises(SchemaError):
        Validator().validate(
            {},
            {
                "f": {
                    "type": "dict",
                    "schema": {"g": {"type": "string", "bogus": True}},
                }
            },
        )


@pytest.mark.parametrize("schema", [
    {"a": {"type": "string", "regex": "("}},
    {"a": {"type": "list", "schema": {"type": "string", "regex": "[a-"}}},
    {"a": {"type": "dict", "keysrules": {"type": "string", "regex": "*x"}}},
])
def test_uncompilable_regex_raises(schema: dict) -> None:
    """An uncompilable ``regex`` is a schema fault, refused on the driver
    by the interpreter and the columnar engine alike: at validation time
    it would raise on every string value, failing every row."""
    from cerberus_cpp_spark.plans.engine import TableValidator

    with pytest.raises(SchemaError, match="regex does not compile"):
        Validator(schema).validate({"a": "x"})
    with pytest.raises(SchemaError, match="regex does not compile"):
        TableValidator(schema).schema
