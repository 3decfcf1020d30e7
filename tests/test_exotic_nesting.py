"""Exotic nesting parity — map-in-list-in-struct, list-in-list and
deeper: the columnar engine compiles every nested rule map through
``compile_field`` and every nested mapping through
``_compile_mapping`` (``plans/compiler.py``; list elements and map
entries via ``_array_rule_viols`` and ``_kv_viols``), whatever sits
above it. It must agree with the dynamic interpreter on verdicts AND
violation (path, message) sets (reference semantics:
``rules.hh:519-573`` schema recursion, ``validator.hh:302-344``
validateDict, ``rules.hh:270-288``/``614-632`` keysrules/valuesrules).
``dependencies`` and ``excludes`` compile there too, resolving paths
the way the interpreter does. Only custom column rules and a
non-scalar ``default`` on a field the element's struct lacks stay
refused inside element lambdas."""

from __future__ import annotations

import random

import pytest

from cerberus_cpp_spark.plans.compiler import CompileError
from cerberus_cpp_spark.plans.engine import TableValidator
from cerberus_cpp_spark.sources.fixtures import (
    HeterogeneousShape,
    golden_frame,
)


def _differential(spark, schema: dict, docs: list[dict],
                  presence: str = "defined") -> None:
    tv = TableValidator(
        schema, presence=presence, extra_cols=("doc_id", "expected"))
    exp, exp_errs = [], []
    for d in docs:
        exp.append(tv._interp.validate(d, schema))
        exp_errs.append(
            sorted((e.path, e.message) for e in tv._interp.errors))
    frame = golden_frame(spark, schema, list(zip(docs, exp)))
    rows = {r["doc_id"]: r for r in tv.validate(frame).annotated.collect()}
    mismatches = []
    for i in range(len(docs)):
        got_errs = sorted(
            (x["path"], x["message"]) for x in rows[i]["violations"])
        if rows[i]["valid"] != exp[i] or got_errs != exp_errs[i]:
            mismatches.append((docs[i], exp[i], exp_errs[i],
                               rows[i]["valid"], got_errs))
    assert not mismatches, f"first: {mismatches[0]}"


def test_map_in_list_in_struct(spark) -> None:
    """The headline shape: a struct field holding a list of dicts,
    each with a map child governed by keysrules+valuesrules."""
    schema = {"c": {"type": "dict", "schema": {
        "xs": {"type": "list", "schema": {
            "type": "dict",
            "schema": {
                "y": {"type": "integer", "required": True, "min": 3},
                "m": {"type": "dict",
                      "keysrules": {"regex": "[a-z]+"},
                      "valuesrules": {"type": "integer", "max": 100}},
            },
        }},
    }}}
    docs = [
        {"c": {"xs": [{"y": 5, "m": {"ok": 7}}]}},
        {"c": {"xs": [{"y": 2}]}},                      # min violated
        {"c": {"xs": [{}]}},                            # y required
        {"c": {"xs": [None]}},                          # null element
        {"c": {"xs": [{"y": 5, "z": 1}]}},              # unknown key
        {"c": {"xs": [{"y": 5, "m": {"BAD": 7}}]}},     # keysrules
        {"c": {"xs": [{"y": 5, "m": {"ok": 200}}]}},    # valuesrules max
        {"c": {"xs": [{"y": 5, "m": {"ok": "xx"}}]}},   # valuesrules type
        {"c": {"xs": []}},
        {"c": {}},
        {},
        {"c": {"xs": [{"y": 9, "m": {"a": 1, "B": 2}},  # multi-element
                      {"y": 0, "m": {}}]}},
    ]
    _differential(spark, schema, docs)


def _list_of_dicts(fields: dict) -> dict:
    return {"a": {"type": "list", "schema": {"type": "dict",
                                             "schema": fields}}}


# nested rule maps at any depth, each a (schema, documents) pair
NESTING_CASES = {
    # a null dict skips its schema rule: no required child fires
    "null-dict-skips-schema": (
        {"a": {"type": "dict", "nullable": True, "schema": {
            "b": {"type": "integer", "required": True}}}},
        [{"a": None}, {"a": {}}, {}]),
    "list-in-list": (
        {"a": {"type": "list", "schema": {"type": "list", "schema": {
            "type": "integer", "min": 0}}}},
        [{"a": [[1, -1], [2]]}]),
    "items-in-list": (
        {"a": {"type": "list", "schema": {"type": "list", "items": [
            {"type": "integer"}, {"type": "string"}]}}},
        [{"a": [[1, "x"]]}]),
    "map-of-struct": (
        {"m": {"type": "dict", "valuesrules": {"type": "dict", "schema": {
            "v": {"type": "integer", "min": 0, "required": True}}}}},
        [{"m": {"p": {"v": 1}, "q": {"v": -1}, "r": {}}}]),
    "default-in-list-element": (
        _list_of_dicts({"k": {"type": "string", "default": "z",
                              "allowed": ["z", "q"]}}),
        [{"a": [{}, {"k": "q"}, {"k": "w"}]}]),
    "rename-in-list-element": (
        _list_of_dicts({"k": {"type": "integer", "rename": "kk"}}),
        [{"a": [{"k": 1}]}]),
    "contains-in-list": (
        {"a": {"type": "list", "schema": {"type": "list",
                                          "contains": ["x"]}}},
        [{"a": [["x", "y"], ["y"], []]}]),
    # the message names the missing values, every one on undefined
    "contains-message": (
        {"a": {"type": "list", "contains": ["x", "y"]}},
        [{"a": ["x"]}, {"a": ["y", "z"]}, {}]),
}


@pytest.mark.parametrize("presence,name", [
    *[("defined", n) for n in NESTING_CASES],
    ("null", "list-in-list"),
    ("null", "items-in-list"),
])
def test_nested_rules_any_depth(presence: str, name: str, spark) -> None:
    """Every nested rule map compiles through ``compile_field`` and
    matches the interpreter, whatever sits above it."""
    schema, docs = NESTING_CASES[name]
    _differential(spark, schema, docs, presence)


@pytest.mark.parametrize("presence", ["defined", "null"])
def test_dependencies_in_list_element_match_interpreter(
        presence: str, spark) -> None:
    """``dependencies`` in a list element's struct resolves against the
    element, the way the interpreter's ``_validate_dict`` sees it."""
    schema = _list_of_dicts({"k": {"type": "integer", "dependencies": "j"},
                             "j": {"type": "integer"}})
    docs = [{"a": [{"k": 1, "j": 2}, {"k": 1}, {"j": 1}]}, {"a": []}, {}]
    _differential(spark, schema, docs, presence)


# fields whose `default` must validate like the interpreter's when the
# frame has no column (or struct field) for them: k and n pass, t fails
_ABSENT_DEFAULTS = {
    "k": {"type": "string", "default": "z", "allowed": ["z", "q"]},
    "n": {"type": "integer", "default": 5, "min": 3, "max": 9},
    "s": {"type": "string", "default": "ab", "regex": "[a-z]+"},
    "t": {"type": "integer", "default": 1, "min": 3},
    "j": {"type": "integer"},
}


@pytest.mark.parametrize("schema,ddl,row,doc", [
    (_ABSENT_DEFAULTS, "j bigint", (1,), {"j": 1}),
    (_list_of_dicts(_ABSENT_DEFAULTS), "a array<struct<j: bigint>>",
     ([{"j": 1}, {"j": 2}],), {"a": [{"j": 1}, {"j": 2}]}),
], ids=["top-level", "list-element"])
def test_default_on_field_absent_from_frame(schema, ddl, row, doc,
                                            spark) -> None:
    """A field with a ``default`` but no column in the frame validates
    the default itself, at the top level and in a list element's struct
    (``golden_frame`` always adds every schema field, so this builds
    the frame by hand)."""
    tv = TableValidator(schema, presence="null")
    tv._interp.validate(doc, schema)
    exp = sorted((e.path, e.message) for e in tv._interp.errors)
    assert exp, "the interpreter reports the failing default"
    [got] = tv.validate(spark.createDataFrame([row], ddl)).annotated.collect()
    assert sorted((x["path"], x["message"])
                  for x in got["violations"]) == exp


def test_list_default_on_absent_element_field_raises(spark) -> None:
    """A list ``default`` has no Spark type to validate by when the
    element struct lacks its field, so the compiler refuses it."""
    schema = _list_of_dicts({"k": {"type": "list", "default": ["x"]},
                             "j": {"type": "integer"}})
    df = spark.createDataFrame([], "a array<struct<j: bigint>>")
    with pytest.raises(CompileError, match="non-scalar `default`"):
        TableValidator(schema).compile(df.schema)


def test_list_of_dicts_two_deep(spark) -> None:
    """dict-in-dict inside list elements (two mapping levels below the
    element)."""
    schema = {"xs": {"type": "list", "schema": {
        "type": "dict",
        "schema": {"inner": {"type": "dict", "schema": {
            "v": {"type": "integer", "required": True,
                  "allowed": [1, 2, 3]},
        }}},
    }}}
    docs = [
        {"xs": [{"inner": {"v": 2}}]},
        {"xs": [{"inner": {"v": 9}}]},   # allowed violated
        {"xs": [{"inner": {}}]},         # v required
        {"xs": [{}]},                    # inner undefined → schema no-op
        {"xs": [{"inner": None}]},       # null inner → schema no-op
        {"xs": [{"inner": {"v": 1, "w": 5}}]},  # unknown key in inner
    ]
    _differential(spark, schema, docs)


def test_null_list_elements_fire_injected_nullable(spark) -> None:
    """Explicit null elements violate the auto-injected nullable:false
    (rules.hh:393-397) — elements have no absent-key ambiguity."""
    schema = {"xs": {"type": "list", "schema": {"type": "integer"}}}
    docs = [{"xs": [1, None]}, {"xs": [1, 2]}, {"xs": [None]}]
    _differential(spark, schema, docs)


def test_items_null_element_and_short_list(spark) -> None:
    """items (positional): null element fires injected nullable; a
    too-short list leaves trailing item rules on UNDEFINED (required
    fires, others skip)."""
    schema = {"xs": {"type": "list", "items": [
        {"type": "integer", "min": 0},
        {"type": "string", "required": True},
    ]}}
    docs = [
        {"xs": [1, "a"]},
        {"xs": [None, "a"]},   # null item 0
        {"xs": [1]},           # item 1 undefined → required fires
        {"xs": [-5, "a"]},     # min violated at [0]
        {"xs": []},
    ]
    _differential(spark, schema, docs)


def test_items_default_keeps_element_null_semantics(spark) -> None:
    """An ``items`` entry with ``default`` still reads a NULL element
    as null, not absent, in presence='null': the injected nullable
    fires as in the interpreter (the default only fills an index past
    the end of the list)."""
    schema = {"xs": {"type": "list", "items": [
        {"type": "integer", "default": 5}]}}
    docs = [{"xs": [None]}, {"xs": [3]}, {"xs": []}]
    got = sorted(
        (r["path"], r["message"]) for r in TableValidator(schema)
        .validate(spark.createDataFrame(docs, "xs array<bigint>"))
        .violations().collect())
    assert got == [("^.xs[0]", "nullable-rule violated")]


def test_registered_schema_in_list_elements(spark) -> None:
    """Registered-schema indirection for element rules."""
    schema = {"xs": {"type": "list", "schema": {
        "type": "dict", "schema": "point",
    }}}
    point = {"x": {"type": "integer", "required": True},
             "y": {"type": "integer", "required": True}}
    docs = [
        {"xs": [{"x": 1, "y": 2}]},
        {"xs": [{"x": 1}]},          # y required
    ]
    tv = TableValidator(
        schema, presence="defined", extra_cols=("doc_id", "expected"),
        registry={"point": point})
    exp = []
    for d in docs:
        exp.append(tv._interp.validate(d, schema))
    frame = golden_frame(spark, schema, list(zip(docs, exp)),
                         registry={"point": point})
    got = {r["doc_id"]: r["valid"]
           for r in tv.validate(frame).annotated.collect()}
    assert [got[i] for i in range(len(docs))] == exp


NESTED_SCALARS = [0, 1, 7, 42, "a", "zz", "42", None]


def _rand_elem_doc(rng: random.Random) -> dict:
    elem: dict = {}
    if rng.random() < 0.8:
        elem["y"] = rng.choice(NESTED_SCALARS)
    if rng.random() < 0.5:
        elem["m"] = {
            rng.choice(["ok", "deep", "BAD", "k9"]):
                rng.choice([1, 77, 200, "x"])
            for _ in range(rng.randint(0, 3))
        }
    if rng.random() < 0.15:
        elem["zz_unknown"] = 1
    return elem


def _extend_nesting(rng: random.Random, schema: dict, docs: list) -> None:
    """Add a list-of-lists field ``ll`` beside ``xs`` and a ``default``
    field ``k`` to the ``xs`` element dicts, drawn from ``rng`` alone."""
    c = schema["c"]["schema"]
    c["ll"] = {"type": "list", "schema": {"type": "list", "schema": {
        "type": "integer", "min": rng.choice([0, 3])}}}
    c["xs"]["schema"]["schema"]["k"] = {
        "type": "string", "default": "z", "allowed": ["z", "q"]}
    for doc in docs:
        if "c" not in doc:
            continue
        if rng.random() < 0.6:
            doc["c"]["ll"] = [
                (None if rng.random() < 0.1 else
                 [rng.choice([-1, 0, 2, 5]) for _ in range(rng.randint(0, 3))])
                for _ in range(rng.randint(0, 3))
            ]
        for elem in doc["c"].get("xs", []):
            if elem is not None and rng.random() < 0.5:
                elem["k"] = rng.choice(["z", "q", "w"])


@pytest.mark.parametrize("seed", range(12))
def test_property_map_in_list_in_struct(seed: int, spark) -> None:
    """Random documents through the headline nested shape, plus a
    list-of-lists field and an element-dict ``default`` from a second
    seeded stream: verdict and (path, message) sets must match the
    interpreter exactly."""
    rng = random.Random(4200 + seed)
    schema = {"c": {"type": "dict", "schema": {
        "xs": {"type": "list", "schema": {
            "type": "dict",
            "schema": {
                "y": {"type": "integer",
                      "required": rng.random() < 0.5,
                      "min": rng.choice([0, 3, 41])},
                "m": {"type": "dict",
                      "keysrules": {"regex": "[a-z]+[0-9]?"},
                      "valuesrules": {"type": "integer",
                                      "max": rng.choice([10, 100])}},
            },
        }},
        "tag": {"type": "string"},
    }}}
    docs = []
    for _ in range(16):
        doc: dict = {}
        if rng.random() < 0.9:
            c: dict = {}
            if rng.random() < 0.85:
                c["xs"] = [
                    (None if rng.random() < 0.1 else _rand_elem_doc(rng))
                    for _ in range(rng.randint(0, 3))
                ]
            if rng.random() < 0.4:
                c["tag"] = rng.choice(["t1", "t2"])
            doc["c"] = c
        docs.append(doc)
    _extend_nesting(random.Random(8800 + seed), schema, docs)
    try:
        _differential(spark, schema, docs)
    except HeterogeneousShape:
        pytest.skip("mixed shapes — dynamic-interpreter-only case")


def test_schema_plus_keysrules_on_same_element(spark) -> None:
    """A dict element carrying BOTH dict-form schema and keysrules:
    unknown-key check (from the schema rule) and key-pattern check
    (from keysrules) both fire, as in the interpreter."""
    schema = {"xs": {"type": "list", "schema": {
        "type": "dict",
        "schema": {"a": {"type": "integer"}},
        "keysrules": {"regex": "[a-z]+"},
    }}}
    docs = [
        {"xs": [{"a": 1}]},
        {"xs": [{"a": 1, "zz": 2}]},   # unknown key (name matches regex)
        {"xs": [{"a": 1, "Z9": 2}]},   # unknown key AND keysrules
    ]
    _differential(spark, schema, docs)


def test_schema_plus_kv_rules_top_level_field(spark) -> None:
    """Same combination one level up: a FIELD whose value carries
    dict-form schema + keysrules + valuesrules (struct-typed, so key
    names fold to compile-time literals)."""
    schema = {"cfg": {"type": "dict",
                      "schema": {"a": {"type": "integer"}},
                      "keysrules": {"regex": "[a-z]+"},
                      "valuesrules": {"type": "integer", "max": 10}}}
    docs = [
        {"cfg": {"a": 1}},
        {"cfg": {"a": 99}},            # valuesrules max
        {"cfg": {"a": 1, "zz": 2}},    # unknown key only
        {"cfg": {"a": 1, "Z9": 99}},   # unknown + keysrules + valuesrules
        {},                            # cfg undefined: all skip
    ]
    _differential(spark, schema, docs)


@pytest.mark.parametrize("form", ["schema", "items"])
def test_length_rules_count_dict_element_keys(form: str, spark) -> None:
    """minlength/maxlength on dict-typed list elements count the
    element's keys (``rules.hh:341-387``) — the same under list-form
    ``schema`` and positional ``items``."""
    elem = {"type": "dict", "minlength": 2, "maxlength": 2,
            "schema": {"a": {"type": "integer"}, "b": {"type": "integer"},
                       "c": {"type": "integer"}}}
    schema = {"docs": {"type": "list",
                       form: elem if form == "schema" else [elem]}}
    docs = [
        {"docs": [{"a": 1}]},                   # minlength
        {"docs": [{"a": 1, "b": 2}]},
        {"docs": [{"a": 1, "b": 2, "c": 3}]},   # maxlength
        {"docs": [{}]},                         # minlength
        {"docs": [None]},                       # nullable + minlength
        {"docs": []},
    ]
    _differential(spark, schema, docs)
