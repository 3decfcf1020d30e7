"""Policy scope pins: ``allow_unknown``, ``purge_unknown`` and
``require_all`` hold for a field's whole subtree — nested schemas,
``items``, list elements and registered schemas alike (reference
``rules.hh:47-77, 406-436, 471-501``; ``validator.hh:273-275,
326-339``). Each case pins the interpreter's sorted ``(path, message)``
errors as a literal, and the columnar engine (default
``presence="null"``) must report the same rows.

In ``presence="null"`` a NULL cell is an absent key, so each frame is
the document typed by a DDL string, with absent keys as NULL."""

from __future__ import annotations

import pytest

from cerberus_cpp_spark.dynamic.interpreter import Validator
from cerberus_cpp_spark.plans.engine import TableValidator

_SUB_MN = {"m": {"type": "integer"}, "n": {"type": "integer"}}

# name → (flags, [(schema, registry), ...], ddl, document, expected)
CASES = {
    "allow_unknown_inherits": (
        {},
        [({"a": {"type": "dict", "allow_unknown": True, "schema": {
            "b": {"type": "dict", "schema": {"y": {"type": "integer"}}},
        }}}, None)],
        "a struct<b: struct<y: bigint, x: bigint>>",
        {"a": {"b": {"y": 1, "x": 1}}},
        [],
    ),
    "require_all_items": (
        {"require_all": True},
        [({"a": {"type": "list", "items": [
            {"type": "integer"}, {"type": "integer"}]}}, None)],
        "a array<bigint>",
        {"a": [1]},
        [("^.a[1]", "required-rule violated: field missing")],
    ),
    "require_all_list_elements": (
        {"require_all": True},
        [({"a": {"type": "list", "schema": {"type": "dict", "schema": {
            "p": {"type": "integer"}, "q": {"type": "integer"},
        }}}}, None)],
        "a array<struct<p: bigint, q: bigint>>",
        {"a": [{"p": 1}]},
        [("^.a[0].q", "required-rule violated: field missing")],
    ),
    "require_all_registered": (
        {"require_all": True},
        [({"a": {"type": "dict", "schema": "sub"}}, {"sub": _SUB_MN})],
        "a struct<m: bigint, n: bigint>",
        {"a": {"n": 1}},
        [("^.a.m", "required-rule violated: field missing")],
    ),
    "purge_unknown_inherits": (
        {},
        [({"a": {"type": "dict", "purge_unknown": True, "schema": {
            "b": {"type": "dict", "schema": {"y": {"type": "integer"}}},
        }}}, None)],
        "a struct<b: struct<y: bigint, x: bigint>, w: bigint>",
        {"a": {"b": {"y": 1, "x": 1}, "w": 2}},
        [],
    ),
    "fields_named_like_rules": (
        {},
        [({"a": {"type": "dict", "schema": {
            "min": {"type": "integer"}, "type": {"type": "string"},
        }}}, None)],
        "a struct<min: string, type: string>",
        {"a": {"min": "x", "type": "t"}},
        [("^.a.min", "type-rule violated: expected integer")],
    ),
    "registered_matches_inline": (
        {},
        [({"a": {"type": "dict", "schema": {"m": {"type": "integer"}}}},
          None),
         ({"a": {"type": "dict", "schema": "sub"}},
          {"sub": {"m": {"type": "integer"}}})],
        "a struct<m: bigint>",
        {"a": {}},
        [],
    ),
}


def _interpreter_rows(flags, schema, registry, doc) -> list:
    v = Validator(schema, **flags)
    for name, sub in (registry or {}).items():
        v.register_schema(name, sub)
    v.validate(doc)
    return sorted((e.path, e.message) for e in v.errors)


@pytest.mark.parametrize("name", sorted(CASES))
def test_policy_scope_interpreter(name: str) -> None:
    flags, variants, _, doc, expected = CASES[name]
    assert [_interpreter_rows(flags, s, r, doc) for s, r in variants] \
        == [expected] * len(variants)


@pytest.mark.parametrize("name", sorted(CASES))
def test_policy_scope_engine(name: str, spark) -> None:
    flags, variants, ddl, doc, expected = CASES[name]
    df = spark.createDataFrame([doc], ddl)
    got = [
        sorted((r["path"], r["message"]) for r in TableValidator(
            s, registry=r, **flags).validate(df).violations().collect())
        for s, r in variants
    ]
    assert got == [expected] * len(variants)
