"""The generated rule-map functions against the per-item scan.

The interpreter compiles each rule map to a Python function once
(``_generate``): fields unrolled, each builtin rule with an emitter
inlined with its argument prepared. ``ScanValidator`` below is the walk
it replaced, kept here as the oracle: every item scans the six phases
over every key of its rule map and calls each rule with a ``RuleCtx``,
in the ctx form of every rule that has an emitter (``SCAN``). That form
reads the raw argument, decodes through the ``TypeAdapter`` on every
value and resolves paths with its own lookup, so the oracle reaches no
generated code. Both must give the same ordered ``(path, message)``
list, the same normalized document, and the same exception type where
validation raises.
"""

from __future__ import annotations

import copy
import datetime
import random
import re
import time

import pytest

from cerberus_cpp_spark.dynamic import interpreter
from cerberus_cpp_spark.dynamic.interpreter import (
    _EMITTERS,
    Priority,
    RuleCtx,
    Validator,
    _emit_allowed,
    _emit_default,
    _emit_dependencies,
    _emit_excludes,
    _emit_forbidden,
    _emit_items,
    _emit_keysrules,
    _emit_max,
    _emit_min,
    _emit_nothing,
    _emit_nullable,
    _emit_regex,
    _emit_rename,
    _emit_required,
    _emit_schema,
    _emit_type,
    _emit_valuesrules,
    _Gen,
    _Item,
    _Policy,
    _truthy,
    as_list,
    format_path,
)
from cerberus_cpp_spark.errors import SchemaError, ValidationErrorItem
from cerberus_cpp_spark.functions.pytypes import (
    UNDEFINED,
    TypeAdapter,
    scalar_text,
)
from perfbench.workloads import JSON_SCHEMA
from tests.test_policy_scope import CASES as POLICY_CASES

from tests.conftest import reference_corpus

GOLDEN = reference_corpus("testdata.yml")

_PATH_TOKEN = re.compile(r"([^.\[\]]+)|\[(\d+)\]")


def _lookup(ctx: RuleCtx, path_str) -> object:
    """``dependencies``/``excludes`` paths, resolved per call: ``^``
    anchors at the document root, dotted keys descend, ``[i]`` indexes
    (reference ``stack.hh:146-172``)."""
    text = str(path_str)
    if text.startswith("^"):
        node = ctx.state.root
        text = text[1:].lstrip(".")
    else:
        node = ctx.parent
    for m in _PATH_TOKEN.finditer(text):
        key, idx = m.group(1), m.group(2)
        if idx is not None:
            if isinstance(node, list) and int(idx) < len(node):
                node = node[int(idx)]
            else:
                return UNDEFINED
        elif isinstance(node, dict) and key in node:
            node = node[key]
        else:
            return UNDEFINED
    return node


# The ctx forms of the rules with an emitter: the raw schema argument,
# decoded through the adapter on every value.
def _scan_allowed(ctx: RuleCtx) -> None:
    value = ctx.item.value
    if value is UNDEFINED or value is None:
        return
    t = ctx.get_type()
    if not any(t.equality(cand, value) for cand in as_list(ctx.arg)):
        ctx.raise_error("value disallowed by allowed-rule")


def _scan_default(ctx: RuleCtx) -> None:
    if ctx.item.value is UNDEFINED:
        ctx.item.value = copy.deepcopy(ctx.arg)


def _scan_dependencies(ctx: RuleCtx) -> None:
    if ctx.item.value is UNDEFINED:
        return
    t = ctx.get_type("string")
    if isinstance(ctx.arg, dict):
        for dep, pinned in ctx.arg.items():
            looked = _lookup(ctx, dep)
            if looked is UNDEFINED:
                ctx.raise_error(f"dependencies-rule violated: {dep} required")
            if not any(t.equality(looked, v) for v in as_list(pinned)):
                opts = ", ".join(str(v) for v in as_list(pinned))
                ctx.raise_error(f"dependencies-rule violated: {dep} requires"
                                f" value out of [{opts}]")
        return
    for dep in as_list(ctx.arg):
        if _lookup(ctx, dep) is UNDEFINED:
            ctx.raise_error(f"dependencies-rule violated: {dep} required")


def _scan_excludes(ctx: RuleCtx) -> None:
    if ctx.item.value is UNDEFINED:
        return
    for exc in as_list(ctx.arg):
        if _lookup(ctx, exc) is not UNDEFINED:
            ctx.raise_error(f"excludes-rule violated: {exc} is not allowed")


def _scan_forbidden(ctx: RuleCtx) -> None:
    value = ctx.item.value
    if value is UNDEFINED or value is None:
        return
    t = ctx.get_type()
    for cand in as_list(ctx.arg):
        if t.equality(cand, value):
            ctx.raise_error(f"forbidden-rule violated: {cand}")


def _scan_items(ctx: RuleCtx) -> None:
    seq = ctx.item.value if isinstance(ctx.item.value, list) else []
    for i, sub in enumerate(ctx.arg or []):
        elem = _Item(value=seq[i] if i < len(seq) else UNDEFINED)
        ctx.validator._scan_item(elem, sub, ctx.path + (i,), ctx.parent,
                                 ctx.policy)
        if i < len(seq) and elem.value is not UNDEFINED:
            seq[i] = elem.value


def _scan_keysrules(ctx: RuleCtx) -> None:
    value = ctx.item.value
    if isinstance(value, dict):
        for key in value:
            ctx.validator._scan_item(_Item(value=key), ctx.arg,
                                     ctx.path + (key,), value, ctx.policy)


def _scan_nothing(ctx: RuleCtx) -> None:
    pass


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


def _scan_rename(ctx: RuleCtx) -> None:
    ctx.item.field = str(ctx.arg)


def _scan_required(ctx: RuleCtx) -> None:
    if _truthy(ctx.arg) and ctx.item.value is UNDEFINED:
        ctx.raise_error("required-rule violated: field missing")


def _scan_schema(ctx: RuleCtx) -> None:
    arg, value, v = ctx.arg, ctx.item.value, ctx.validator
    if isinstance(arg, str):
        if arg not in v.schema_registry:
            ctx.raise_error(f"unknown registered schema: {arg}")
            return
        arg = v._stored(arg)
    if isinstance(value, dict):
        v._scan_dict(value, arg, ctx.path, ctx.policy)
    elif isinstance(value, list):
        for i in range(len(value)):
            elem = _Item(value=value[i])
            v._scan_item(elem, arg, ctx.path + (i,), ctx.parent, ctx.policy)
            if elem.value is not UNDEFINED:
                value[i] = elem.value


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


def _scan_valuesrules(ctx: RuleCtx) -> None:
    value = ctx.item.value
    if isinstance(value, dict):
        for key in list(value.keys()):
            elem = _Item(value=value[key])
            ctx.validator._scan_item(elem, ctx.arg, ctx.path + (key,), value,
                                     ctx.policy)
            if elem.value is not UNDEFINED:
                value[key] = elem.value


SCAN = {
    _emit_allowed: _scan_allowed,
    _emit_default: _scan_default,
    _emit_dependencies: _scan_dependencies,
    _emit_excludes: _scan_excludes,
    _emit_forbidden: _scan_forbidden,
    _emit_items: _scan_items,
    _emit_keysrules: _scan_keysrules,
    _emit_max: _scan_max,
    _emit_min: _scan_min,
    _emit_nothing: _scan_nothing,
    _emit_nullable: _scan_nullable,
    _emit_regex: _scan_regex,
    _emit_rename: _scan_rename,
    _emit_required: _scan_required,
    _emit_schema: _scan_schema,
    _emit_type: _scan_type,
    _emit_valuesrules: _scan_valuesrules,
}


class ScanValidator(Validator):
    """Six-phase scan per item, one ``RuleCtx`` per matched rule, the
    ctx form of every rule with an emitter; its meta-validator scans
    too."""

    def __init__(self, *args, _meta: bool = True, **kwargs) -> None:
        super().__init__(*args, **kwargs)
        if _meta:
            self._meta = ScanValidator(self.schema_schema,
                                       validate_schema=False, _meta=False)

    def _validate_dict(self, doc, schema) -> None:
        self._scan_dict(doc, schema, (), self._policy)

    def _scan_dict(self, doc, schema, path, policy) -> None:
        found = []
        for field_name, rules in schema.items():
            item = _Item(value=doc.get(field_name, UNDEFINED),
                         field=field_name)
            self._scan_item(item, rules, path + (field_name,), doc, policy)
            if item.field != field_name and field_name in doc:
                del doc[field_name]
            if item.value is not UNDEFINED:
                doc[item.field] = item.value
            found.append(item.field)
        if policy.purge_unknown:
            for k in list(doc.keys()):
                if k not in found:
                    del doc[k]
        if not policy.allow_unknown:
            for k in doc.keys():
                if k not in found:
                    self._state.errors.append(ValidationErrorItem(
                        format_path(path),
                        f"unknown field not permitted: {k}"))

    def _scan_item(self, item, rules, path, parent, policy) -> None:
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

    def _fn(self, *args):
        raise AssertionError("the oracle reached the generator")


def test_scan_oracle_covers_every_prepared_rule() -> None:
    assert set(SCAN) == _EMITTERS


def _run(v: Validator, doc, schema=None) -> tuple:
    ok = v.validate(doc, schema)
    return ok, [(e.path, e.message) for e in v.errors], v.get_document()


def _outcome(v: Validator, doc, schema=None) -> object:
    """:func:`_run`, or the type of the exception validation raised."""
    try:
        return repr(_run(v, doc, schema))
    except Exception as e:  # noqa: BLE001 — compared, not handled
        return type(e)


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
    """Meta-validation runs generated functions too: rule maps validated
    against the schema-of-schemas answer like the scan."""
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


# -- what the generator emits (pins of an internal representation) ----------

def _emitted(rules: dict, policy: _Policy = _Policy()) -> list[str]:
    return _Gen(Validator()).body(rules, policy)


def test_bookkeeping_keys_emit_nothing() -> None:
    """A truthy ``nullable``, ``meta``, the policy keys and the
    ``__nullable_injected__`` tag cost nothing per document."""
    assert _emitted({"nullable": True, "meta": {"unit": "px"},
                     "__nullable_injected__": True, "allow_unknown": True,
                     "purge_unknown": False}) == []
    line, = _emitted({"nullable": False})
    assert line.startswith("if v is None: E(p + (k,), ")


def test_require_all_injects_required() -> None:
    rules = {"type": "integer", "min": "7"}
    scoped = _emitted(rules, _Policy(require_all=True))
    assert scoped == _emitted({**rules, "required": True})
    assert scoped != _emitted(rules)
    assert sum(line.startswith("if v is U: E(") for line in scoped) == 1


def test_schema_values_are_bound_not_spliced() -> None:
    """Keys, literals, patterns and messages are namespace names: rule
    maps of one shape compile to one code object."""
    shapes = [{"k%d" % i: {"type": "string", "regex": "x{%d}" % i,
                           "allowed": ["a%d" % i], "min": "b%d" % i}}
              for i in range(3)]
    before = interpreter._compiled.cache_info()
    for schema in shapes:
        v = Validator(schema)
        v.validate({})
    after = interpreter._compiled.cache_info()
    assert after.hits - before.hits >= 2 * (len(shapes) - 1)


@pytest.mark.parametrize("validate_schema", [True, False])
def test_per_call_schemas_leave_program_store_bounded(
        validate_schema: bool) -> None:
    """10,000 schemas passed to ``validate`` leave no function behind,
    on the validator or its meta-validator; each call regenerates its
    functions from a memoized compile."""
    v = Validator(validate_schema=validate_schema)
    doc = {"a": 1, "b": ["x"]}

    def fresh() -> dict:
        return {"a": {"type": "integer", "min": 0},
                "b": {"type": "list", "schema": {"type": "string"}}}

    assert v.validate(doc, fresh())
    meta_programs = len(v._meta._programs) if v._meta else 0
    start = time.perf_counter()
    for _ in range(10_000):
        v.validate(doc, fresh())
    print(f"10,000 per-call schemas: {time.perf_counter() - start:.2f} s")
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


# -- seeded schemas over every emitted rule ---------------------------------

def _odd(ctx: RuleCtx) -> None:
    """A custom rule that also normalizes: an odd int is reported, an
    even one halved."""
    value = ctx.item.value
    if ctx.arg and type(value) is int:
        if value % 2:
            ctx.raise_error(f"odd at {ctx.item.field}")
        else:
            ctx.item.value = value // 2


def _move(ctx: RuleCtx) -> None:
    """A custom rule that renames a defined field."""
    if ctx.item.value is not UNDEFINED:
        ctx.item.field = ctx.arg


def _with_custom(v: Validator) -> None:
    v.register_rule("odd", {"type": "boolean"}, _odd)
    v.register_rule("move", {"type": "string"}, _move,
                    Priority.NORMALIZATION)
    v.register_type(TypeAdapter("word", _words))


_LEAVES = [
    {"type": "integer", "min": 0, "max": 9},
    {"type": "string", "regex": "[a-c]+", "allowed": ["a", "b", "ab"]},
    {"type": ["integer", "string"], "forbidden": [3, "x"]},
    {"type": "word", "min": "one", "allowed": ["two", 3]},
    {"type": "integer", "odd": True},
    {"type": "integer", "odd": True, "move": "b", "min": 1},
    {"type": "float", "nullable": True, "default": 1.5},
    {"type": "boolean", "required": True},
    {"default": {"n": [1, 2]}},
    {"default": [0, {"m": 1}]},
]
_KEYS = ["a", "b", "c", "d"]


def _rules(rng: random.Random, depth: int) -> dict:
    """One rule map: a leaf, or a container with a nested ``schema``
    (dict or list form), ``items`` or ``keysrules``/``valuesrules``;
    with policy keys, ``rename``, ``dependencies`` and ``excludes``
    sprinkled in."""
    kind = rng.randrange(7) if depth < 3 else 0
    if kind <= 1:
        rules = copy.deepcopy(rng.choice(_LEAVES))
    elif kind == 2:
        rules = {"type": "dict", "schema": _fields(rng, depth + 1)}
    elif kind == 3:
        rules = {"type": "list", "schema": _rules(rng, depth + 1)}
    elif kind == 4:
        rules = {"type": "list", "items": [
            _rules(rng, depth + 1) for _ in range(rng.randrange(1, 3))]}
    elif kind == 5:
        rules = {"type": "dict", "keysrules": {"type": "string",
                                               "regex": "[a-z]"},
                 "valuesrules": _rules(rng, depth + 1)}
    else:
        rules = {"type": "dict", "schema": "node"}
    for key in ("allow_unknown", "purge_unknown", "require_all"):
        if rng.random() < 0.1:
            rules[key] = rng.random() < 0.7
    if rng.random() < 0.15:
        rules["rename"] = rng.choice(_KEYS)
    if rng.random() < 0.2:
        rules["dependencies"] = rng.choice([
            rng.choice(_KEYS), ["^.a", "b"], {"^.c": [1, "x"]},
            "^.a.b", "a[0]"])
    if rng.random() < 0.15:
        rules["excludes"] = rng.choice(["^.d", rng.choice(_KEYS)])
    return rules


def _fields(rng: random.Random, depth: int) -> dict:
    return {key: _rules(rng, depth)
            for key in rng.sample(_KEYS, rng.randrange(1, 4))}


def _value(rng: random.Random, depth: int = 0) -> object:
    kind = rng.randrange(9 if depth < 3 else 6)
    if kind < 6:
        return rng.choice([0, 1, 2, 3, 7, -1, "a", "ab", "x", "two", "one",
                           True, None, 2.5, "3", 10])
    if kind < 8:
        return {rng.choice(_KEYS + ["Z", "e"]): _value(rng, depth + 1)
                for _ in range(rng.randrange(4))}
    return [_value(rng, depth + 1) for _ in range(rng.randrange(4))]


def _doc(rng: random.Random, rules, node: dict, depth: int = 0) -> object:
    """A value shaped by ``rules`` most of the time, else any value."""
    if not isinstance(rules, dict) or depth > 5 or rng.random() < 0.2:
        return _value(rng, 2)
    sub = rules.get("schema")
    if sub == "node":
        return _mapping(rng, node, node, depth + 1)
    if isinstance(sub, dict) and rules.get("type") == "list":
        return [_doc(rng, sub, node, depth + 1)
                for _ in range(rng.randrange(4))]
    if isinstance(sub, dict):
        return _mapping(rng, sub, node, depth + 1)
    if "items" in rules:
        return [_doc(rng, r, node, depth + 1)
                for r in rules["items"][:rng.randrange(4)]]
    if "valuesrules" in rules:
        return {rng.choice(["a", "B", "c"]): _doc(
            rng, rules["valuesrules"], node, depth + 1)
            for _ in range(rng.randrange(3))}
    return rng.choice([0, 1, 2, 4, 7, 10, "a", "ab", "x", "two", None,
                       2.5, True])


def _mapping(rng: random.Random, fields: dict, node: dict,
             depth: int) -> dict:
    out = {key: _doc(rng, rules, node, depth)
           for key, rules in fields.items() if rng.random() < 0.8}
    if rng.random() < 0.2:
        out[rng.choice(["Z", "a", "d"])] = 1
    return out


@pytest.mark.parametrize("seed", range(6))
def test_seeded_schemas_answer_like_the_scan(seed: int) -> None:
    """Nested ``schema`` (dict and list forms), ``items``,
    ``keysrules``/``valuesrules``, ``rename`` (also onto a key the
    mapping holds), container defaults, scoped policy keys, a recursive
    registered schema, ``^`` paths, a custom rule and a custom type."""
    rng = random.Random(seed)
    for _ in range(40):
        schema = _fields(rng, 0)
        node = {"value": _rules(rng, 2),
                "children": {"type": "list",
                             "schema": {"type": "dict", "schema": "node"}}}
        flags = {key: rng.random() < 0.3 for key in
                 ("allow_unknown", "purge_unknown", "require_all")}
        pair = (Validator(schema, **flags), ScanValidator(schema, **flags))
        for v in pair:
            _with_custom(v)
            v.register_schema("node", node)
        for i in range(20):
            doc = (_mapping(rng, schema, node, 0) if i % 4 else
                   _value(rng, 1))
            doc = doc if isinstance(doc, dict) else {"a": doc}
            got, want = (_outcome(v, doc) for v in pair)
            assert got == want, (schema, doc)


def test_container_default_is_copied_per_document() -> None:
    schema = {"a": {"type": "dict", "default": {"n": [1, 2]}},
              "b": {"type": "list", "items": [{"default": [0]}]}}
    outcomes = []
    for v in (Validator(schema), ScanValidator(schema)):
        runs = []
        for doc in ({}, {}, {"b": []}):
            runs.append(_outcome(v, doc))
            normalized = v.get_document()
            normalized["a"]["n"].append(9)
        outcomes.append(runs)
    assert outcomes[0] == outcomes[1]
    assert schema["a"]["default"] == {"n": [1, 2]}


def test_registered_schema_is_normalized_when_first_reached() -> None:
    """An ill-formed registered schema raises its ``SchemaError`` at the
    first document that reaches the rule map naming it, not before."""
    schema = {"outer": {"type": "dict", "schema": {
        "a": {"type": "dict", "schema": "sub"}}}}
    docs = [{"outer": 1}, {}, {"outer": {}}, {"outer": {"a": {}}}]
    outcomes = []
    for v in (Validator(schema), ScanValidator(schema)):
        v.register_schema("sub", {"x": {"type": "integer", "minlength": 2}})
        outcomes.append([_outcome(v, doc) for doc in docs])
        assert "sub" not in v._normalized
    assert outcomes[0] == outcomes[1]
    assert [o is SchemaError for o in outcomes[0]] == [False, False, True,
                                                       True]


@pytest.mark.parametrize("schema", [
    {"outer": {"type": "dict", "schema": {"a": 5}}},
    {"outer": {"type": "list", "schema": 4.5}},
    {"outer": {"type": "list", "items": [{"type": "integer"}, None]}},
    {"outer": {"type": "dict", "valuesrules": [1]}},
    {"outer": {"type": "dict", "keysrules": 7}},
    {"outer": {"type": "dict", "schema": [{"a": 1}]}},
])
def test_non_mapping_rule_map_raises_at_the_same_document(schema) -> None:
    docs = [{}, {"outer": 1}, {"outer": {}}, {"outer": []},
            {"outer": {"k": 1}}, {"outer": [1, 2]}]
    pair = (Validator(schema, validate_schema=False),
            ScanValidator(schema, validate_schema=False))
    outcomes = [[_outcome(v, doc) for doc in docs] for v in pair]
    assert outcomes[0] == outcomes[1]
    assert any(isinstance(o, type) for o in outcomes[0])


# -- hostile schema text ----------------------------------------------------

_HOSTILE = ['q"uo\'te', "back\\slash", "new\nline", "br{ace}s",
            'tri"""ple', "__import__('os').system('x')", "ünïcödé",
            "not an identifier!"]


def test_hostile_schema_text_stays_out_of_the_source(monkeypatch) -> None:
    """Keys, literals, patterns, rename targets, paths, registered
    schema names and custom rule names holding quotes, backslashes,
    newlines, braces, code or non-identifier text validate like the
    scan, and none of them reaches the generated source."""
    sources = []
    compiled = interpreter._compiled

    def spy(source: str):
        sources.append(source)
        return compiled(source)

    monkeypatch.setattr(interpreter, "_compiled", spy)
    h = _HOSTILE
    schema = {key: {"type": "string", "allowed": h, "forbidden": [key],
                    "regex": re.escape(key) + "|.*", "default": key,
                    "dependencies": {"^." + h[i - 1]: h},
                    "excludes": "^." + h[i - 2] + "[0]",
                    "rename": h[i - 3], rule: True}
              for i, (key, rule) in enumerate(zip(h, h[::-1]))}
    schema["nested"] = {"type": "dict", "schema": h[0],
                        "keysrules": {"regex": h[1] + "|.*"}}
    docs = [{}, dict.fromkeys(h, "x"), {h[0]: h[1], h[2]: h[2]},
            {"nested": {h[3]: h[4], "k": 1}, h[5]: [h[6]]},
            {"nested": [h[7]], h[7]: None}]
    pair = (Validator(schema), ScanValidator(schema))
    for v in pair:
        for name in h:
            v.register_rule(name, {"type": "boolean"}, _flag)
        v.register_schema(h[0], {key: {"type": "string", "min": key}
                                 for key in h})
    for doc in docs:
        got, want = (_outcome(v, doc) for v in pair)
        assert got == want, doc
    assert sources
    leaked = [s for s in h for source in sources if s in source]
    assert not leaked


def _flag(ctx: RuleCtx) -> None:
    if ctx.item.value is not UNDEFINED:
        ctx.raise_error(f"flagged {ctx.arg} at {ctx.item.field}")
