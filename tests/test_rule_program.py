"""The rule program against the dispatch it replaced.

The interpreter builds one rule program per rule map: its ``(fn, arg)``
steps in phase order, schema-key order within a phase. ``ScanValidator``
below is the dispatch it replaced, kept here as the oracle: every phase
scans every key of the rule map for every item. Both must give the same
ordered ``(path, message)`` list and the same normalized document.
"""

from __future__ import annotations

import copy
import random

import pytest

from cerberus_cpp_spark.dynamic.interpreter import (
    Priority,
    _PREPARED,
    RuleCtx,
    Validator,
    _rule_regex,
    _rule_type,
)
from perfbench.workloads import JSON_SCHEMA
from tests.test_policy_scope import CASES as POLICY_CASES

from tests.conftest import reference_corpus

GOLDEN = reference_corpus("testdata.yml")


class ScanValidator(Validator):
    """Six-phase scan per item, one ``RuleCtx`` per matched rule."""

    def _validate_item(self, item, rules, path, parent, policy) -> None:
        policy = policy.enter(rules)
        if policy.require_all:
            rules = {**rules, "required": True}
        for phase in Priority:
            for name, arg in rules.items():
                fn = self._rules.get((phase, name))
                if fn is None:
                    continue
                if fn in _PREPARED:
                    arg = _PREPARED[fn](arg)
                fn(RuleCtx(self, self._state, item, arg, rules, path,
                           parent, policy))


def _run(v: Validator, doc, schema=None) -> tuple:
    ok = v.validate(doc, schema)
    return ok, [(e.path, e.message) for e in v.errors], v.get_document()


@pytest.mark.parametrize("name", GOLDEN.params())
def test_golden_cases_dispatch_alike(name: str) -> None:
    spec = GOLDEN.cases[name]
    flags = {k: bool(spec.get(k, False)) for k in
             ("allow_unknown", "purge_unknown", "require_all")}
    pair = (Validator(**flags), ScanValidator(**flags))
    for v in pair:
        for reg, schema in (spec.get("registry") or {}).items():
            v.register_schema(reg, schema)
    for doc in (spec.get("success") or []) + (spec.get("failure") or []):
        got, want = (_run(v, doc, spec["schema"]) for v in pair)
        assert got == want, (name, doc)


@pytest.mark.parametrize("name", sorted(POLICY_CASES))
def test_policy_cases_dispatch_alike(name: str) -> None:
    flags, variants, _, doc, _ = POLICY_CASES[name]
    for schema, registry in variants:
        pair = (Validator(schema, **flags), ScanValidator(schema, **flags))
        for v in pair:
            for reg, sub in (registry or {}).items():
                v.register_schema(reg, sub)
        assert _run(pair[0], doc) == _run(pair[1], doc)


def _json_doc(rng: random.Random, i: int) -> dict:
    """One document in the shapes of the ``schemaless_json`` workload,
    with more of them off-schema: wrong types, nulls, absent keys."""
    w, h = rng.randrange(-2, 20000), rng.randrange(0, 20000)
    doc = {
        "id": rng.choice([i, -5, None, "7", str(i)]),
        "image": rng.choice([
            {"w": w, "h": h, "fmt": rng.choice(["jpeg", "png", "gif"])},
            {"w": "x", "h": None}, "img-ref", [w, h]]),
        "caption": rng.choice(["a cat", "", "tab\there", 5, None]),
        "scores": rng.choice([[w, h, 0.5], [w, "x", h], [1], []]),
        "counts": rng.choice([{"clicks": w, "views": h},
                              {"Bad-Key": w}, {"views": "many"}, 3]),
        "tags": rng.choice([["red"], ["green", "blue"], ["purple"], "red"]),
        "rating": rng.choice([1, "n/a", 2.5, None]),
    }
    for key in ("kind", "parent", "owner"):
        if rng.random() < 0.4:
            doc[key] = rng.choice(["photo", "drawing", 7, None])
    for key in rng.sample(sorted(doc), rng.randrange(3)):
        del doc[key]
    if rng.random() < 0.2:
        doc["extra"] = 1
    return doc


@pytest.mark.parametrize("require_all", [False, True])
def test_json_schema_documents_dispatch_alike(require_all: bool) -> None:
    pair = (Validator(JSON_SCHEMA, require_all=require_all),
            ScanValidator(JSON_SCHEMA, require_all=require_all))
    rng = random.Random(9)
    for i in range(2000):
        doc = _json_doc(rng, i)
        got, want = (_run(v, doc) for v in pair)
        assert got == want, doc


def test_schema_of_schemas_dispatch_alike() -> None:
    """Meta-validation runs rule programs too: rule maps validated
    against the schema-of-schemas dispatch like the scan."""
    meta = Validator().schema_schema
    pair = (Validator(meta, validate_schema=False),
            ScanValidator(meta, validate_schema=False))
    rule_maps = [rules for schema in (JSON_SCHEMA, *(
        s for _, variants, *_ in POLICY_CASES.values() for s, _ in variants))
        for rules in schema.values()]
    rule_maps += [{"type": "integer", "minlength": 2},
                  {"type": "list", "empty": "maybe", "bogus": 1}]
    for rules in rule_maps:
        got, want = (_run(v, rules) for v in pair)
        assert got == want, rules


def _late_max(ctx: RuleCtx) -> None:
    ctx.raise_error(f"late max {ctx.arg}")


@pytest.mark.parametrize("validate_schema", [True, False])
def test_rule_registered_after_validate_reaches_programs(
        validate_schema: bool) -> None:
    schema = {"a": {"type": "integer", "max": 3},
              "b": {"type": "list", "schema": {"type": "integer",
                                                "max": 5}}}
    if not validate_schema:
        schema = Validator().normalized_schema(schema)
    doc = {"a": 4, "b": [1, 9]}
    pair = (Validator(schema, validate_schema=validate_schema),
            ScanValidator(schema, validate_schema=validate_schema))
    assert _run(pair[0], doc) == _run(pair[1], doc)
    for v in pair:
        # a second rule under an existing name, in an earlier phase
        v.register_rule("max", {}, _late_max, Priority.FIRST)
    got, want = (_run(v, doc) for v in pair)
    assert got == want
    assert got[1][:2] == [("^.a", "late max 3"), ("^.a", "max-rule violated")]


def test_program_steps_pin_dispatch_cost() -> None:
    """Only keys that name a rule get a step: the bookkeeping tag costs
    nothing per document. Steps run in phase order, key order within a
    phase; the ``require_all`` variant injects ``required``."""
    meta = {"unit": "px"}
    rules = {"type": "integer", "nullable": False,
             "__nullable_injected__": True, "meta": meta}
    v = Validator()
    prog = v._program(rules)
    P = Priority
    assert prog.steps == [
        (v._rules[(P.VALIDATION, "nullable")], False),
        (v._rules[(P.VALIDATION, "meta")], meta),
        (v._rules[(P.TYPECHECKING, "type")], ("integer",)),
    ]
    assert [fn for fn, _ in prog.all_steps] == [
        v._rules[(P.VALIDATION, "nullable")],
        v._rules[(P.VALIDATION, "meta")],
        v._rules[(P.VALIDATION, "required")],
        v._rules[(P.TYPECHECKING, "type")],
    ]


def test_regex_step_holds_compiled_pattern() -> None:
    v = Validator()
    (fn, arg), = v._program({"regex": "[a-z]+"}).steps
    assert fn is _rule_regex and arg.pattern == "[a-z]+"


def test_type_step_holds_parsed_names() -> None:
    """The ``type`` step holds its names once, as a tuple of strings;
    the violation message still joins them as written."""
    v = Validator()
    (fn, arg), = v._program({"type": ["integer", 7]}).steps
    assert fn is _rule_type and arg == ("integer", "7")
    assert not v.validate({"a": "x"}, {"a": {"type": ["integer", "float"]}})
    assert [(e.path, e.message) for e in v.errors] == [
        ("^.a", "type-rule violated: expected integer/float")]


@pytest.mark.parametrize("validate_schema", [True, False])
def test_per_call_schemas_leave_program_store_bounded(
        validate_schema: bool) -> None:
    v = Validator(validate_schema=validate_schema)
    doc = {"a": 1, "b": ["x"]}

    def fresh() -> dict:
        return {"a": {"type": "integer", "min": 0},
                "b": {"type": "list", "schema": {"type": "string"}}}

    assert v.validate(doc, fresh())
    meta_programs = len(v._meta._programs) if v._meta else 0
    for _ in range(10_000):
        v.validate(doc, fresh())
    assert v._live is v._programs and not v._programs
    assert (len(v._meta._programs) if v._meta else 0) == meta_programs


def test_validate_copies_the_document_validate_owned_writes_into_it() \
        -> None:
    schema = {"a": {"type": "dict", "purge_unknown": True, "schema": {
        "k": {"type": "string", "default": "d"},
        "r": {"type": "integer", "rename": "s"}}},
        "xs": {"type": "list", "schema": {"type": "dict", "schema": {
            "n": {"type": "integer", "default": 0}}}}}
    doc = {"a": {"r": 1, "junk": 2}, "xs": [{}, {"n": 3}]}
    before = copy.deepcopy(doc)
    v = Validator(schema)
    assert v.validate(doc)
    assert doc == before
    assert v.get_document() == {"a": {"k": "d", "s": 1},
                                "xs": [{"n": 0}, {"n": 3}]}
    assert v._validate_owned(doc)
    assert v.get_document() is doc and doc == {
        "a": {"k": "d", "s": 1}, "xs": [{"n": 0}, {"n": 3}]}
