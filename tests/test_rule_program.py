"""The rule program against the dispatch it replaced.

The interpreter builds one rule program per rule map: its ``(fn, arg)``
steps in phase order, schema-key order within a phase, with the
arguments of the rules in ``_PREPARED`` prepared once (type adapters
resolved, literals decoded). ``ScanValidator`` below is the dispatch it
replaced, kept here as the oracle: every phase scans every key of the
rule map for every item, and each prepared rule runs in its per-value
form (``SCAN``), which reads the raw argument and decodes through the
``TypeAdapter`` on every value. Both must give the same ordered
``(path, message)`` list and the same normalized document.
"""

from __future__ import annotations

import copy
import datetime
import random
import re

import pytest

from cerberus_cpp_spark.dynamic.interpreter import (
    Priority,
    _PREPARED,
    RuleCtx,
    Validator,
    _TypeCheck,
    _rule_allowed,
    _rule_forbidden,
    _rule_max,
    _rule_min,
    _rule_nullable,
    _rule_regex,
    _rule_type,
    _truthy,
    as_list,
)
from cerberus_cpp_spark.errors import SchemaError
from cerberus_cpp_spark.functions.pytypes import (
    UNDEFINED,
    TypeAdapter,
    scalar_text,
)
from perfbench.workloads import JSON_SCHEMA
from tests.test_policy_scope import CASES as POLICY_CASES

from tests.conftest import reference_corpus

GOLDEN = reference_corpus("testdata.yml")


# The per-value forms of the prepared rules: the raw schema argument,
# decoded through the adapter on every value.
def _scan_allowed(ctx: RuleCtx) -> None:
    value = ctx.item.value
    if value is UNDEFINED or value is None:
        return
    t = ctx.get_type()
    if not any(t.equality(cand, value) for cand in as_list(ctx.arg)):
        ctx.raise_error("value disallowed by allowed-rule")


def _scan_forbidden(ctx: RuleCtx) -> None:
    value = ctx.item.value
    if value is UNDEFINED or value is None:
        return
    t = ctx.get_type()
    for cand in as_list(ctx.arg):
        if t.equality(cand, value):
            ctx.raise_error(f"forbidden-rule violated: {cand}")


def _scan_max(ctx: RuleCtx) -> None:
    value = ctx.item.value
    if value is UNDEFINED:
        return
    t = ctx.get_type()
    if t.less(ctx.arg, value) or t.equality(value, ctx.arg):
        ctx.raise_error("max-rule violated")


def _scan_min(ctx: RuleCtx) -> None:
    value = ctx.item.value
    if value is UNDEFINED:
        return
    if not ctx.get_type().less(ctx.arg, value):
        ctx.raise_error("min-rule violated")


def _scan_nullable(ctx: RuleCtx) -> None:
    if not _truthy(ctx.arg) and ctx.item.value is None:
        ctx.raise_error("nullable-rule violated")


def _scan_regex(ctx: RuleCtx) -> None:
    value = ctx.item.value
    if value is UNDEFINED or value is None:
        return
    text = scalar_text(value)
    if text is None or not re.fullmatch(str(ctx.arg), text):
        ctx.raise_error("regex-rule violated")


def _scan_type(ctx: RuleCtx) -> None:
    value = ctx.item.value
    if value is UNDEFINED or value is None:
        return
    names = tuple(str(t) for t in as_list(ctx.arg))
    types = ctx.validator.types
    if isinstance(value, list):
        ok = "list" in names
    elif isinstance(value, dict):
        ok = "dict" in names
    else:
        ok = any(types[n].is_convertible(value) for n in names
                 if n in types)
    if not ok:
        ctx.raise_error("type-rule violated: expected " + "/".join(names))


SCAN = {
    _rule_allowed: _scan_allowed,
    _rule_forbidden: _scan_forbidden,
    _rule_max: _scan_max,
    _rule_min: _scan_min,
    _rule_nullable: _scan_nullable,
    _rule_regex: _scan_regex,
    _rule_type: _scan_type,
}


class ScanValidator(Validator):
    """Six-phase scan per item, one ``RuleCtx`` per matched rule, the
    per-value form of every prepared rule."""

    def _validate_item(self, item, rules, path, parent, policy) -> None:
        policy = policy.enter(rules)
        if policy.require_all:
            rules = {**rules, "required": True}
        for phase in Priority:
            for name, arg in rules.items():
                fn = self._rules.get((phase, name))
                if fn is None:
                    continue
                fn = SCAN.get(fn, fn)
                fn(RuleCtx(self, self._state, item, arg, rules, path,
                           parent, policy))


def test_scan_oracle_covers_every_prepared_rule() -> None:
    assert set(SCAN) == set(_PREPARED)


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
    """Only keys that name a rule get a step: the bookkeeping tag and a
    truthy ``nullable`` cost nothing per document. Steps run in phase
    order, key order within a phase, and hold their prepared arguments;
    the ``require_all`` variant injects ``required``."""
    meta = {"unit": "px"}
    rules = {"type": "integer", "nullable": False,
             "__nullable_injected__": True, "meta": meta, "min": "7"}
    v = Validator()
    prog = v._program(rules)
    P = Priority
    integer = v.types["integer"]
    assert prog.steps == [
        (v._rules[(P.VALIDATION, "nullable")], False),
        (v._rules[(P.VALIDATION, "meta")], meta),
        (v._rules[(P.VALIDATION, "min")], (integer, 7)),
        (v._rules[(P.TYPECHECKING, "type")],
         _TypeCheck(("integer",), (integer,), frozenset({int}))),
    ]
    assert [fn for fn, _ in prog.all_steps] == [
        v._rules[(P.VALIDATION, "nullable")],
        v._rules[(P.VALIDATION, "meta")],
        v._rules[(P.VALIDATION, "min")],
        v._rules[(P.VALIDATION, "required")],
        v._rules[(P.TYPECHECKING, "type")],
    ]
    assert [fn for fn, _ in v._program({"nullable": True}).steps] == []


def test_regex_step_holds_compiled_pattern() -> None:
    v = Validator()
    (fn, arg), = v._program({"regex": "[a-z]+"}).steps
    assert fn is _rule_regex and arg.pattern == "[a-z]+"


def test_type_step_holds_parsed_names() -> None:
    """The ``type`` step holds its names once, as a tuple of strings,
    the adapters they resolve to, and the Python types the builtin
    adapters accept by a conversion up to the first custom adapter;
    the violation message still joins the names as written."""
    v = Validator()
    (fn, arg), = v._program({"type": ["integer", 7]}).steps
    assert fn is _rule_type and arg == _TypeCheck(
        ("integer", "7"), (v.types["integer"],), frozenset({int}))
    v.register_type(TypeAdapter("date", datetime.date.fromisoformat))
    (_, arg), = v._program({"type": ["float", "date", "string"]}).steps
    assert arg.names == ("float", "date", "string")
    assert arg.adapters == tuple(v.types[n] for n in arg.names)
    assert arg.converts == {int, float}
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


# -- prepared arguments against their per-value forms -----------------------

_BIG = 2 ** 63
_VALUES = [1, 0, -1, 2, 7, True, False, None, "1", "7", " 3 ", "abc", "x",
           "0x1f", 2.5, -0.0, float("nan"), float("inf"), ".nan", ".inf",
           _BIG, -_BIG - 1, _BIG - 1, 2 ** 80, str(_BIG), [1], {"k": 1}]


_WORDS = {"one": 1, "two": 2, "three": 3}


def _words(value):
    """A custom ``integer``: number words, and ints as themselves."""
    if type(value) is int:
        return value
    if value not in _WORDS:
        raise ValueError(f"not a number word: {value!r}")
    return _WORDS[value]


def _same(schema: dict, docs, prepare=None, validate_schema=False) -> None:
    pair = (Validator(schema, validate_schema=validate_schema),
            ScanValidator(schema, validate_schema=validate_schema))
    for v in pair:
        if prepare:
            prepare(v)
    for doc in docs:
        got, want = (_run(v, doc) for v in pair)
        assert repr(got) == repr(want), (schema, doc)


@pytest.mark.parametrize("rules", [
    {"type": "integer", "min": "abc"},
    {"type": "integer", "max": "abc"},
    {"type": "integer", "allowed": ["x"]},
    {"type": "integer", "forbidden": ["x"]},
    {"type": "integer", "allowed": ["x", 2, "7"], "forbidden": ["x", "2"]},
    {"type": "integer", "min": True, "max": [1]},
    {"type": "integer", "min": _BIG, "max": -_BIG - 1},
    {"type": "integer", "allowed": [_BIG, 1]},
    {"type": "float", "min": _BIG, "max": 2 ** 80},
    {"type": "float", "allowed": [".nan", 2.5, float("nan")],
     "forbidden": [".nan", float("nan"), ".inf"]},
    {"type": "string", "min": _BIG, "allowed": [_BIG, "1"],
     "forbidden": [2 ** 80]},
    {"type": ["integer", "string"], "max": "7"},
    {"type": "boolean", "allowed": ["yes", 1], "min": "off"},
    {"type": "number", "max": ".inf", "min": "-.inf"},
    {"min": 5, "max": "x", "allowed": [1, "2"]},
    {"type": [], "min": 1},
    {"type": "nosuchtype", "allowed": [1, "1"], "min": 0},
    {"nullable": "no"}, {"nullable": "yes"}, {"nullable": 0},
    {"type": ["list", "integer", "dict"], "nullable": True},
])
def test_prepared_arguments_answer_like_per_value_decode(rules) -> None:
    """Literals that never decode, ``True`` under ``integer``, ints past
    int64 under ``integer``/``float``/``string`` and NaN literals give
    the per-value decode's answers."""
    _same({"a": rules}, [{"a": x} for x in _VALUES] + [{}])


@pytest.mark.parametrize("validate_schema", [True, False])
def test_type_override_after_first_validation_reaches_programs(
        validate_schema: bool) -> None:
    schema = {"n": {"type": "integer", "min": "one",
                    "allowed": ["two", 3, "x"], "forbidden": ["three"]},
              "m": {"type": ["integer", "string"], "max": "three"}}
    docs = [{"n": x, "m": x} for x in
            (1, 2, 3, "one", "two", "three", "3", True, "x")]
    pair = (Validator(schema, validate_schema=validate_schema),
            ScanValidator(schema, validate_schema=validate_schema))
    before = [[_run(v, doc) for doc in docs] for v in pair]
    assert before[0] == before[1]
    for v in pair:
        v.register_type(TypeAdapter("integer", _words))
    after = [[_run(v, doc) for doc in docs] for v in pair]
    assert after[0] == after[1]
    assert after[0] != before[0]


def test_type_override_reaches_meta_validation() -> None:
    """The meta-validator shares the outer ``types``: its programs go
    with the outer ``register_type``, so ``minlength``'s ``type:
    integer`` meta-rule sees the override, not its predecessor."""
    schema = {"a": {"type": "list", "minlength": 3}}
    pair = (Validator(), ScanValidator())
    for v in pair:
        assert v.validate({"a": [1, 2, 3]}, schema)
        v.register_type(TypeAdapter("integer", lambda x: _words(str(x))))
    for v in pair:
        with pytest.raises(SchemaError) as err:
            v.validate({"a": [1, 2, 3]}, schema)
        assert "type-rule violated: expected integer" in str(err.value)


def test_random_rule_maps_answer_like_per_value_decode() -> None:
    """Seeded rule maps over every builtin type, a custom type and
    mixed literals, against the per-value oracle."""
    rng = random.Random(12)
    types = ["integer", "float", "number", "boolean", "string", "date",
             ["integer", "string"], ["date", "integer"], ["float", "date"],
             "list", "dict"]
    literals = _VALUES + ["2020-01-01", "2030-01-01", "-3", "1e3", "yes"]
    docs = [{"a": x} for x in literals] + [{"a": "2024-06-01"}, {}]

    def date_type(v: Validator) -> None:
        v.register_type(TypeAdapter(
            "date", lambda x: datetime.date.fromisoformat(str(x))))

    for _ in range(300):
        rules = {"type": rng.choice(types)}
        for rule in ("min", "max"):
            if rng.random() < 0.5:
                rules[rule] = rng.choice(literals)
        for rule in ("allowed", "forbidden"):
            if rng.random() < 0.4:
                rules[rule] = rng.sample(literals, rng.randrange(4))
        if rng.random() < 0.5:
            rules["nullable"] = rng.choice([True, False, "no", None])
        _same({"a": rules}, docs, prepare=date_type)


def test_nan_literal_never_equals_a_nan_value() -> None:
    v = Validator({"f": {"type": "float", "allowed": [".nan", 1.5],
                         "forbidden": [".nan"]}})
    nan = float("nan")
    assert not v.validate({"f": nan})
    assert [e.message for e in v.errors] == [
        "value disallowed by allowed-rule"]
    assert v.validate({"f": "1.5"})


def test_custom_decode_before_a_builtin_still_runs_first() -> None:
    """A custom adapter listed before a builtin is called before the
    builtin's conversion can pass the value, as with per-value decode:
    an exception it raises still surfaces."""
    for v in (Validator(), ScanValidator()):
        v.register_type(TypeAdapter("stripped", lambda x: x.strip()))
        with pytest.raises(AttributeError):
            v.validate({"a": 5}, {"a": {"type": ["stripped", "integer"]}})
        assert v.validate({"a": 5}, {"a": {"type": ["integer", "stripped"]}})
