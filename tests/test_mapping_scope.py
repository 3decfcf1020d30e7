"""``dependencies``/``excludes`` see a mapping the way the interpreter
does (reference ``stack.hh:146-172``, ``rules.hh:143-187, 205-227``):
the mapping as ``validateDict`` has normalized it so far
(``validator.hh:302-344``).

- Every key the mapping holds resolves, unknown keys included, at the
  root and in nested structs and maps.
- A field compiled earlier is seen with its ``default`` applied, and
  under its ``rename`` target only.
- List elements resolve against the list's enclosing mapping, keys and
  values under ``keysrules``/``valuesrules`` against the mapping
  itself, and ``^`` paths against the row, inside ``F.transform``
  lambdas too.

The interpreter is the oracle: each frame is its document typed by a
DDL string (``presence="null"``: an absent key is NULL), and the
engine must report the same ``(path, message)`` multiset per row."""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import types as T

from cerberus_cpp_spark.dynamic.interpreter import Validator
from cerberus_cpp_spark.plans.compiler import CompileError
from cerberus_cpp_spark.plans.engine import TableValidator

_D = {"type": "dict", "allow_unknown": True}
_DEPENDENT = {"a": {"type": "integer", "dependencies": "b"}}
_EXCLUDING = {"a": {"type": "integer", "excludes": "b"}}
_DEFAULT_AHEAD = {"a": {"type": "integer", "default": 5},
                  "c": {"type": "integer", "dependencies": "a"}}
_RENAME_AHEAD = {"a": {"type": "integer", "rename": "b"},
                 "c": {"type": "integer", "dependencies": "a"}}
_RENAME_TARGET = {"a": {"type": "integer", "rename": "b"},
                  "c": {"type": "integer", "dependencies": "b"}}
_RENAME_ONTO = {"a": {"type": "integer", "rename": "b"}}
_ONTO_DOCS = [{"a": 1, "b": 2}, {"a": 1}, {"b": 2}]
_RENAME_ONTO_DEP = {**_RENAME_ONTO,
                    "c": {"type": "integer", "dependencies": "b"}}
_PINNED_DEFAULT = {"a": {"type": "integer", "default": 5},
                   "c": {"type": "integer", "dependencies": {"a": [5]}}}

# name → (schema, ddl, documents). Every case here disagreed with the
# interpreter before the row and nested mappings shared one scope model.
MAPPING_CASES = {
    # an unknown sibling of a nested field resolves
    "unknown-sibling-struct": (
        {"d": {**_D, "schema": _DEPENDENT}},
        "d struct<a: bigint, b: bigint>",
        [{"d": {"a": 1, "b": 2}}, {"d": {"a": 1}}]),
    "unknown-sibling-map": (
        {"d": {**_D, "schema": _DEPENDENT}},
        "d map<string, bigint>",
        [{"d": {"a": 1, "b": 2}}, {"d": {"a": 1}}]),
    "excludes-unknown-sibling-struct": (
        {"d": {**_D, "schema": _EXCLUDING}},
        "d struct<a: bigint, b: bigint>",
        [{"d": {"a": 1, "b": 2}}, {"d": {"a": 1}}]),
    "excludes-unknown-sibling-map": (
        {"d": {**_D, "schema": _EXCLUDING}},
        "d map<string, bigint>",
        [{"d": {"a": 1, "b": 2}}, {"d": {"a": 1}}]),
    # a default applied ahead of the dependent field
    "default-ahead-root": (
        _DEFAULT_AHEAD, "a bigint, c bigint",
        [{"c": 1}, {"a": 2, "c": 1}]),
    "default-ahead-struct": (
        {"d": {"type": "dict", "schema": _DEFAULT_AHEAD}},
        "d struct<a: bigint, c: bigint>",
        [{"d": {"c": 1}}, {"d": {"a": 2, "c": 1}}]),
    "default-ahead-map": (
        {"d": {"type": "dict", "schema": _DEFAULT_AHEAD}},
        "d map<string, bigint>",
        [{"d": {"c": 1}}, {"d": {"a": 2, "c": 1}}]),
    "default-ahead-absent-column": (
        _PINNED_DEFAULT, "c bigint", [{"c": 1}]),
    # a rename ahead of the dependent field moves the entry
    "rename-ahead-root": (
        _RENAME_AHEAD, "a bigint, c bigint",
        [{"a": 1, "c": 1}, {"c": 1}]),
    "rename-ahead-struct": (
        {"d": {"type": "dict", "schema": _RENAME_AHEAD}},
        "d struct<a: bigint, c: bigint>",
        [{"d": {"a": 1, "c": 1}}, {"d": {"c": 1}}]),
    "rename-ahead-map": (
        {"d": {"type": "dict", "schema": _RENAME_AHEAD}},
        "d map<string, bigint>",
        [{"d": {"a": 1, "c": 1}}, {"d": {"c": 1}}]),
    "rename-target-root": (
        _RENAME_TARGET, "a bigint, c bigint",
        [{"a": 1, "c": 1}, {"c": 1}]),
    "rename-target-struct": (
        {"d": {"type": "dict", "schema": _RENAME_TARGET}},
        "d struct<a: bigint, c: bigint>",
        [{"d": {"a": 1, "c": 1}}, {"d": {"c": 1}}]),
    # a rename target the mapping already holds is a known key
    "rename-onto-held-key-root": (
        _RENAME_ONTO, "a bigint, b bigint", _ONTO_DOCS),
    "rename-onto-held-key-struct": (
        {"d": {"type": "dict", "schema": _RENAME_ONTO}},
        "d struct<a: bigint, b: bigint>", [{"d": d} for d in _ONTO_DOCS]),
    "rename-onto-held-key-map": (
        {"d": {"type": "dict", "schema": _RENAME_ONTO}},
        "d map<string, bigint>", [{"d": d} for d in _ONTO_DOCS]),
    # ... also when the renamed field is absent from the frame, or
    # narrower than the key it lands on
    "rename-onto-held-key-absent-field": (
        _RENAME_ONTO_DEP, "b bigint, c bigint", [{"b": 2, "c": 1}, {"c": 1}]),
    "rename-onto-held-key-absent-field-struct": (
        {"d": {"type": "dict", "schema": _RENAME_ONTO_DEP}},
        "d struct<b: bigint, c: bigint>",
        [{"d": {"b": 2, "c": 1}}, {"d": {"c": 1}}]),
    "rename-onto-held-key-widened": (
        _RENAME_ONTO_DEP, "a int, b bigint, c bigint",
        [{**d, "c": 1} for d in _ONTO_DOCS] + [{"c": 1}]),
}

_ELEM_DEP = {"type": "integer", "dependencies": "flag"}

# dependencies/excludes below list elements, items entries and
# keysrules/valuesrules: compiled since elements got the interpreter's
# scope (refused before, except items)
ELEMENT_CASES = {
    "list-of-dicts-sibling": (
        {"a": {"type": "list", "schema": {"type": "dict", "schema": {
            "k": {"type": "integer", "dependencies": "j"},
            "x": {"type": "integer", "excludes": "j"},
            "j": {"type": "integer"}}}}},
        "a array<struct<k: bigint, x: bigint, j: bigint>>",
        [{"a": [{"k": 1, "j": 2}, {"k": 1}, {"x": 1, "j": 1}, {"x": 1}]},
         {"a": []}]),
    "list-of-scalars-enclosing-key": (
        {"xs": {"type": "list", "schema": _ELEM_DEP},
         "flag": {"type": "integer"}},
        "xs array<bigint>, flag bigint",
        [{"xs": [1, 2], "flag": 1}, {"xs": [1, 2]}, {"flag": 1}]),
    "list-of-scalars-anchored": (
        {"d": {"type": "dict", "schema": {
            "xs": {"type": "list", "schema": {
                "type": "integer", "dependencies": "^.flag",
                "excludes": "stop"}},
            "stop": {"type": "integer"}}},
         "flag": {"type": "integer"}},
        "d struct<xs: array<bigint>, stop: bigint>, flag bigint",
        [{"d": {"xs": [1]}, "flag": 1}, {"d": {"xs": [1, 2]}},
         {"d": {"xs": [3], "stop": 1}, "flag": 2}]),
    "list-in-list-enclosing-key": (
        {"xs": {"type": "list", "schema": {
            "type": "list", "schema": _ELEM_DEP}},
         "flag": {"type": "integer"}},
        "xs array<array<bigint>>, flag bigint",
        [{"xs": [[1], [2, 3]], "flag": 1}, {"xs": [[1], []]}]),
    "items-entry": (
        {"xs": {"type": "list", "items": [
            _ELEM_DEP, {"type": "integer", "excludes": "flag"}]},
         "flag": {"type": "integer"}},
        "xs array<bigint>, flag bigint",
        [{"xs": [1, 2], "flag": 1}, {"xs": [1, 2]}, {"xs": [1]}]),
    "valuesrules-map": (
        {"m": {"type": "dict", "valuesrules": {
            "type": "integer", "dependencies": "b", "excludes": "^.flag"}},
         "flag": {"type": "integer"}},
        "m map<string, bigint>, flag bigint",
        [{"m": {"a": 1, "b": 2}}, {"m": {"a": 1}}, {"m": {"b": 1}, "flag": 1},
         {"m": {}}]),
    "keysrules-map": (
        {"m": {"type": "dict", "keysrules": {
            "type": "string", "excludes": "z", "dependencies": "^.flag"}}},
        "m map<string, bigint>, flag bigint",
        [{"m": {"a": 1}, "flag": 1}, {"m": {"a": 1, "z": 2}, "flag": 1},
         {"m": {"a": 1}}]),
    "valuesrules-struct": (
        {"m": {"type": "dict", "valuesrules": {
            "type": "integer", "dependencies": "b"}}},
        "m struct<a: bigint, b: bigint>",
        [{"m": {"a": 1, "b": 2}}, {"m": {"a": 1}}]),
    "valuesrules-map-of-structs": (
        {"m": {"type": "dict", "valuesrules": {"type": "dict", "schema": {
            "v": {"type": "integer", "dependencies": "w"},
            "w": {"type": "integer"}}}}},
        "m map<string, struct<v: bigint, w: bigint>>",
        [{"m": {"p": {"v": 1, "w": 2}, "q": {"v": 1}}}]),
}


def _errors(validator: Validator, doc: dict) -> Counter:
    validator.validate(doc)
    return Counter((e.path, e.message) for e in validator.errors)


def _differential(spark, schema: dict, ddl: str, docs: list[dict]) -> None:
    oracle = Validator(schema)
    want = [_errors(oracle, d) for d in docs]
    frame = spark.createDataFrame(
        [{"doc_id": i, **d} for i, d in enumerate(docs)],
        f"doc_id int, {ddl}")
    rows = TableValidator(schema, extra_cols=("doc_id",)).validate(frame)
    got = {r["doc_id"]: Counter((v["path"], v["message"])
                                for v in r["violations"])
           for r in rows.annotated.collect()}
    assert [got[i] for i in range(len(docs))] == want


@pytest.mark.parametrize("name", sorted(MAPPING_CASES))
def test_mapping_scope_matches_interpreter(name: str, spark) -> None:
    _differential(spark, *MAPPING_CASES[name])


@pytest.mark.parametrize("name", sorted(ELEMENT_CASES))
def test_element_scope_matches_interpreter(name: str, spark) -> None:
    _differential(spark, *ELEMENT_CASES[name])


@pytest.mark.parametrize("ddl", ["a bigint, b bigint", "b bigint",
                                 "a int, b bigint"])
def test_rename_onto_held_key_normalizes_like_interpreter(
        ddl: str, spark) -> None:
    """The row holds the rename target: ``normalized`` has one ``b``,
    the renamed value where the field is defined, else the row's own."""
    docs = [d for d in _ONTO_DOCS if "a" in ddl or "a" not in d]
    oracle = Validator(_RENAME_ONTO)
    want = []
    for d in docs:
        oracle.validate(d)
        want.append(oracle.get_document())
    frame = spark.createDataFrame(docs, ddl)
    norm = TableValidator(_RENAME_ONTO).validate(frame).normalized
    assert norm.columns == ["b"]
    assert [r.asDict() for r in norm.collect()] == want


def test_rename_onto_key_of_another_type_raises() -> None:
    """A string field renamed onto a bigint key has no one column."""
    ddl = T.StructType([T.StructField("a", T.StringType()),
                        T.StructField("b", T.LongType())])
    with pytest.raises(CompileError, match="rename onto a key"):
        TableValidator({"a": {"rename": "b"}}).compile(ddl)
