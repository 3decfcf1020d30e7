"""Dynamic document validator — the engine's fidelity path.

A from-scratch Python reimplementation of the reference's recursive
validation pipeline (``/root/reference/include/cerberus-cpp/
validator.hh:159-344`` + ``rules.hh:47-667``), used for three jobs:

1. **Schema meta-validation** on the driver (schema-of-schemas,
   ``validator.hh:159-175``) — raising :class:`SchemaError` for
   ill-formed schemas before anything touches the cluster.
2. **The dynamic fallback** for truly schemaless / heterogeneous
   documents that the columnar compiler cannot type statically —
   distributed via ``mapInPandas`` over a JSON column (see
   ``cerberus_cpp_spark.dynamic.spark``).
3. **The oracle** for the columnar compiler's own tests.

Semantics preserved exactly (see SURVEY.md §1.2): exclusive
``min``/``max`` with asymmetric null handling, ``nullable: false``
auto-injection via meta-schema defaults, YAML-decodability ``type``
checks, string-equality ``contains``/``dependencies``, full-match
``regex``, lexically scoped policies, six priority phases, error
accumulation without short-circuit, ``^``-anchored dependency paths.

Dispatch is specialized once per rule map, not once per document: the
first item a rule map validates builds its rule program, the ``(fn,
arg)`` steps of the six phases in order (:class:`_Program`), and every
later item runs those steps with one :class:`RuleCtx`. A step holds its
argument prepared (:data:`_PREPARED`): ``regex`` compiled; ``type`` as
its names, the adapters they resolve to and the Python types a builtin
adapter accepts by a conversion, which pass with one set test;
``min``/``max``/``allowed``/``forbidden`` literals decoded once with
the field's adapter (one that never decodes is marked so); a falsy
``nullable`` as ``False``, a truthy one as no step. A custom decode is
thus called on a schema literal when the program is built, not on
every value. The programs of the stored schemas (the constructor
schema, the registered schemas and, on the meta-validator, the
schema-of-schemas) live until the next ``register_*`` call; a schema
passed to ``validate`` gets programs that go when the call returns. A
program reads its rule map and the adapters once, so a stored rule map
edited in place after its first use keeps its old program, and a type
change reaches the programs through ``register_type``, not through
``types`` mutated directly.

Documents are plain Python trees (``yaml.safe_load`` output); the
``UNDEFINED`` sentinel distinguishes an absent key from explicit null.
"""

from __future__ import annotations

import copy
import re
from dataclasses import dataclass, field as dc_field, replace
from enum import IntEnum
from typing import Any, Callable, NamedTuple

from ..errors import SchemaError, ValidationErrorItem
from ..functions.pytypes import (
    BOOL_TEXT,
    BUILTIN_TYPES,
    CONVERTS,
    INT64,
    UNDEFINED,
    TypeAdapter,
    scalar_text,
)


class Priority(IntEnum):
    """Six rule-execution phases (reference ``rules.hh:17-31``)."""

    FIRST = 0
    NORMALIZATION = 1
    VALIDATION = 2
    TYPECHECKING = 3
    POST_NORMALIZATION = 4
    LAST = 5


_PHASES = tuple(Priority)


def as_list(node: Any) -> list[Any]:
    """Scalar → one-element list; list → itself (``rules.hh:36-45``)."""
    if isinstance(node, list):
        return list(node)
    if node is UNDEFINED or node is None:
        return []
    return [node]


def _schema_form(rules: dict) -> str | None:
    """How a rule map's dict-valued ``schema`` argument reads, by the
    declared type: ``"list"`` → one rule map for every element,
    ``"dict"`` → a field map, None → undecided until data arrives (the
    reference's laissez-faire), so meta-normalization leaves it as-is."""
    types = [str(t) for t in as_list(rules.get("type"))]
    if "list" in types:
        return "list"
    return "dict" if "dict" in types else None


def _truthy(arg: Any) -> bool:
    if isinstance(arg, bool):
        return arg
    if isinstance(arg, str):
        return BOOL_TEXT.get(arg, False)
    return bool(arg)


def format_path(parts: tuple[Any, ...]) -> str:
    """Reference path grammar ``^.key[i]`` (``stack.hh:30-54``)."""
    out = ["^"]
    for p in parts:
        if isinstance(p, int):
            out.append(f"[{p}]")
        else:
            out.append(f".{p}")
    return "".join(out)


_PATH_TOKEN = re.compile(r"([^.\[\]]+)|\[(\d+)\]")

#: the one violation of a document that nests containers deeper than
#: MAX_DEPTH, or whose JSON parse exhausts the recursion limit
#: (``validate_json``): a hostile document, not a ``RecursionError``
TOO_DEEP_MSG = "document nested too deeply"
#: deepest container nesting a document may have. Copying, validating
#: and serializing a document each recurse once or more per level; this
#: bound keeps them well inside Python's default recursion limit of
#: 1,000 frames.
MAX_DEPTH = 400


def too_deep(doc: Any) -> bool:
    """Containers nest deeper than MAX_DEPTH; walked level by level,
    without recursion."""
    level = [doc] if isinstance(doc, (dict, list)) else []
    for _ in range(MAX_DEPTH):
        level = [c for node in level
                 for c in (node.values() if isinstance(node, dict) else node)
                 if isinstance(c, (dict, list))]
        if not level:
            return False
    return True


@dataclass(slots=True)
class _Item:
    """Mutable holder for one (value, field-name) pair during the
    phases — lets normalization rules (default/rename) write back."""

    value: Any
    field: str | None = None


@dataclass(slots=True)
class RuleCtx:
    """What a rule implementation sees — the Python analogue of the
    reference's ``ValidationRuleInterface`` (``validator.hh:225-470``).
    One context serves every rule of a field: the rule program swaps
    ``arg`` before each step."""

    validator: "Validator"
    state: "_State"
    item: _Item
    arg: Any                      # the rule's value in the schema
    field_schema: dict            # the enclosing field rule-map
    path: tuple[Any, ...]
    parent: Any                   # enclosing document mapping (or None)
    policy: _Policy               # the policy in force for this field

    def raise_error(self, message: str) -> None:
        self.state.errors.append(
            ValidationErrorItem(format_path(self.path), message)
        )

    def get_type(self, name: str | None = None) -> TypeAdapter:
        """Type adapter by name, or from the enclosing field schema's
        ``type:`` entry (:func:`_adapter`)."""
        return _adapter(self.validator.types, self.field_schema, name)

    def lookup_path(self, path_str: str) -> Any:
        """Mini path language of ``dependencies``/``excludes``:
        ``^`` anchors at the document root, dotted keys descend,
        ``[i]`` indexes (reference ``stack.hh:146-172``)."""
        text = str(path_str)
        if text.startswith("^"):
            node = self.state.root
            text = text[1:].lstrip(".")
        else:
            node = self.parent
        for m in _PATH_TOKEN.finditer(text):
            key, idx = m.group(1), m.group(2)
            if idx is not None:
                if isinstance(node, list) and int(idx) < len(node):
                    node = node[int(idx)]
                else:
                    return UNDEFINED
            else:
                if isinstance(node, dict) and key in node:
                    node = node[key]
                else:
                    return UNDEFINED
        return node


@dataclass(frozen=True)
class _Policy:
    """The three lexically scoped schema policies (``rules.hh:47-77,
    406-436, 471-501``): a policy key on a field holds for that field's
    whole subtree — nested schemas, ``items``, list elements, keys,
    values and registered schemas alike."""

    allow_unknown: bool = False
    purge_unknown: bool = False
    require_all: bool = False

    def enter(self, rules: dict) -> "_Policy":
        """The policy in force inside the field whose rule map is
        ``rules``: its own policy keys override the enclosing ones."""
        own = {k: _truthy(rules[k]) for k in _POLICY_KEYS if k in rules}
        return replace(self, **own) if own else self

    @property
    def rejects_unknown(self) -> bool:
        """Unknown keys are violations: purge removes them before the
        allow check sees them (``validator.hh:326-339``)."""
        return not (self.allow_unknown or self.purge_unknown)


_POLICY_KEYS = ("allow_unknown", "purge_unknown", "require_all")
#: bookkeeping key on a rule map whose ``nullable: false`` the
#: meta-schema injected (see :meth:`Validator.normalized_schema`)
_INJECTED = "__nullable_injected__"


@dataclass
class _State:
    """Per-validate() mutable state."""

    root: Any
    errors: list[ValidationErrorItem] = dc_field(default_factory=list)


RuleFn = Callable[[RuleCtx], None]
Types = dict[str, TypeAdapter]


class _Program:
    """One rule map, dispatched once: its ``(fn, arg)`` steps in phase
    order, schema-key order within a phase (``validator.hh:266-287``),
    plus the variant with ``required: true`` injected for a
    ``require_all`` scope (``validator.hh:273-275``). A key that names
    no rule (``__nullable_injected__``, say) gets no step. The program
    holds its rule map, so the map's ``id`` keys it uniquely."""

    __slots__ = ("rules", "scoped", "steps", "all_rules", "all_steps")

    def __init__(self, registered: dict, types: Types, rules: dict) -> None:
        self.rules = rules
        #: the map has its own policy keys (:meth:`_Policy.enter`)
        self.scoped = any(k in rules for k in _POLICY_KEYS)
        self.steps = _steps(registered, types, rules)
        self.all_rules = {**rules, "required": True}
        self.all_steps = _steps(registered, types, self.all_rules)


def _steps(registered: dict, types: Types,
           rules: dict) -> list[tuple[RuleFn, Any]]:
    """The six-phase scan, done once per rule map; a rule listed in
    :data:`_PREPARED` gets its argument prepared here, once (an
    ill-formed ``regex`` raises here), and no step where the prepared
    argument is :data:`_NO_STEP`."""
    steps = []
    for phase in _PHASES:
        for name, arg in rules.items():
            fn = registered.get((phase, name))
            if fn is None:
                continue
            prepare = _PREPARED.get(fn)
            if prepare is not None:
                arg = prepare(arg, rules, types)
                if arg is _NO_STEP:
                    continue
            steps.append((fn, arg))
    return steps


def _adapter(types: Types, rules: dict, name: Any = None) -> TypeAdapter:
    """Type adapter by name, or from the rule map's ``type:`` entry
    (reference ``getType`` — ``validator.hh:368-387``); defaults to
    string comparison when no type is declared."""
    if name is None:
        t = rules.get("type", "string")
        name = t[0] if isinstance(t, list) and t else t
    adapter = types.get(str(name))
    return types["string"] if adapter is None else adapter


#: a prepared argument for a rule that can never fire: no step
_NO_STEP = object()
#: a value or schema literal that does not decode with its adapter
_NEVER = object()


def _decoded(adapter: TypeAdapter, value: Any) -> Any:
    """``adapter.decode(value)``, or :data:`_NEVER` where it fails."""
    try:
        return adapter.decode(value)
    except (ValueError, TypeError):
        return _NEVER


def _lt(a: Any, b: Any) -> Any:
    """``a < b`` of two decoded values, False where they do not compare
    (:meth:`TypeAdapter.less`)."""
    try:
        return a < b
    except (ValueError, TypeError):
        return False


def _eq(a: Any, b: Any) -> Any:
    """``a == b`` of two decoded values (:meth:`TypeAdapter.equality`);
    ``==``, not a set, so NaN and unhashable values answer alike."""
    try:
        return a == b
    except (ValueError, TypeError):
        return False


def _compile_regex(arg: Any, *_: Any) -> re.Pattern:
    return re.compile(str(arg))


class _TypeCheck(NamedTuple):
    """A ``type`` argument, prepared: the names as written, the
    adapters they resolve to, and the Python types a builtin adapter
    among them accepts by a conversion (:data:`CONVERTS`)."""

    names: tuple[str, ...]
    adapters: tuple[TypeAdapter, ...]
    converts: frozenset[type]


def _type_check(arg: Any, rules: dict, types: Types) -> _TypeCheck:
    names = tuple(str(t) for t in as_list(arg))
    adapters = tuple(types[n] for n in names if n in types)
    converts: frozenset[type] = frozenset()
    for adapter in adapters:
        if adapter is not BUILTIN_TYPES.get(adapter.name):
            break  # a custom decode runs before any later adapter
        converts |= CONVERTS[adapter.name]
    return _TypeCheck(names, adapters, converts)


def _nullable(arg: Any, rules: dict, types: Types) -> Any:
    return _NO_STEP if _truthy(arg) else False


def _bound(arg: Any, rules: dict, types: Types) -> tuple[TypeAdapter, Any]:
    """``min``/``max``: the field's adapter and the bound decoded with
    it, or :data:`_NEVER`."""
    adapter = _adapter(types, rules)
    return adapter, _decoded(adapter, arg)


def _literals(arg: Any, rules: dict, types: Types
              ) -> tuple[TypeAdapter, tuple[tuple[Any, Any], ...]]:
    """``allowed``/``forbidden``: the field's adapter and the
    ``(literal, decoded)`` pairs of the literals that decode; one that
    does not can never equal a value."""
    adapter = _adapter(types, rules)
    pairs = ((lit, _decoded(adapter, lit)) for lit in as_list(arg))
    return adapter, tuple((lit, d) for lit, d in pairs if d is not _NEVER)


class Validator:
    """Public API mirroring the reference's ``Validator``
    (``validator.hh:22-212``): construct with an optional schema,
    ``validate(doc[, schema])``, ``errors``, ``get_document()`` for the
    normalized output, plus ``register_rule`` / ``register_type`` /
    ``register_schema`` extension points (``validator.hh:56-95``).
    """

    def __init__(
        self,
        schema: dict | None = None,
        *,
        allow_unknown: bool = False,
        purge_unknown: bool = False,
        require_all: bool = False,
        validate_schema: bool = True,
    ) -> None:
        self.schema = schema
        self.allow_unknown = allow_unknown
        self.purge_unknown = purge_unknown
        self.require_all = require_all
        self.validate_schema = validate_schema
        self.types: dict[str, TypeAdapter] = dict(BUILTIN_TYPES)
        self.schema_registry: dict[str, dict] = {}
        # (priority, name) → rule fn; meta-schemas accumulate the
        # schema-of-schemas exactly like registerRule does
        # (``validator.hh:75-80``).
        self._rules: dict[tuple[Priority, str], RuleFn] = {}
        self.schema_schema: dict[str, dict] = {}
        self._state: _State | None = None
        self._meta: Validator | None = None  # built by _meta_one
        # the constructor schema (key None) and registered schemas,
        # normalized on first use; every register_* call empties it
        self._normalized: dict[str | None, dict] = {}
        # id(rule map) → _Program for the stored schemas; register_*
        # empties it. _live is the store the running validate() fills:
        # this one, or a per-call one for a schema passed to validate
        self._programs: dict[int, _Program] = {}
        self._live = self._programs
        _register_builtin_rules(self)

    @classmethod
    def from_yaml(cls, source: str, **kwargs) -> "Validator":
        """Construct from a YAML schema — the reference's native
        schema format (its ``Validator`` takes ``YAML::Node`` schemas
        and every ``test/testdata.yml`` case is YAML;
        ``validator.hh:33-38``). ``source`` is YAML text, or a path to
        a ``.yml``/``.yaml`` file. ``yaml.safe_load`` output is
        exactly the dict/scalar tree the engine's YAML-decode type
        semantics were built for, so a cerberus-cpp user's schema
        file works verbatim. Keyword arguments pass through to the
        constructor. A path-shaped source naming no existing file
        raises ``FileNotFoundError`` (shared helper,
        ``yamlschema.py``)."""
        from ..yamlschema import load_yaml_schema

        return cls(load_yaml_schema(source), **kwargs)

    # -- extension API -------------------------------------------------
    def register_rule(
        self,
        name: str,
        meta_schema: dict,
        fn: RuleFn,
        priority: Priority = Priority.VALIDATION,
    ) -> None:
        self._rules[(priority, name)] = fn
        if name not in self.schema_schema or meta_schema:
            self.schema_schema[name] = meta_schema
        self._reset()

    def register_type(self, adapter: TypeAdapter) -> None:
        self.types[adapter.name] = adapter
        self._reset()
        if self._meta is not None:  # it shares self.types (_meta_one)
            self._meta._reset()

    def register_schema(self, name: str, schema: dict) -> None:
        self.schema_registry[name] = schema
        self._reset()

    def _reset(self) -> None:
        """Forget the normalized schemas and their rule programs."""
        self._normalized.clear()
        self._programs.clear()

    # -- public validation entry points --------------------------------
    def validate(self, document: Any, schema: dict | str | None = None) -> bool:
        if too_deep(document):  # checked before the copy recurses
            self._state = _State(root=None, errors=[
                ValidationErrorItem("^", TOO_DEEP_MSG)])
            return False
        if isinstance(document, dict):
            document = copy.deepcopy(document)  # never mutate caller data
        return self._validate_owned(document, schema)

    def _validate_owned(
        self, document: Any, schema: dict | str | None = None,
    ) -> bool:
        """:meth:`validate` on a document the caller hands over: the
        normalization rules write into it. A stored schema keeps its
        rule programs; a schema passed here gets programs that go when
        the call returns."""
        if schema is None or isinstance(schema, str):
            schema = self._stored(schema)
        else:
            if self.validate_schema:
                schema = self.normalized_schema(schema)
            self._live = {}
        try:
            self._state = _State(root=document)
            if not isinstance(document, dict):
                # top-level documents are always mappings (doc/index.rst:88)
                self._state.errors.append(
                    ValidationErrorItem("^", "document is not a mapping")
                )
                return False
            self._validate_dict(document, schema, (), self._policy)
            return not self._state.errors
        finally:
            self._live = self._programs

    @property
    def _policy(self) -> _Policy:
        """The root policy: the constructor's three flags."""
        return _Policy(self.allow_unknown, self.purge_unknown,
                       self.require_all)

    @property
    def errors(self) -> list[ValidationErrorItem]:
        return list(self._state.errors) if self._state else []

    def get_document(self) -> Any:
        """Normalized document of the last validate() call."""
        return self._state.root if self._state else None

    # -- schema meta-validation ----------------------------------------
    def _stored(self, name: str | None) -> dict:
        """The constructor schema (``name`` None) or the registered
        schema ``name``: under ``validate_schema`` normalized on first
        use and kept until the next ``register_*`` call."""
        raw = self.schema if name is None else self.schema_registry.get(name)
        if raw is None:
            raise SchemaError("no schema given" if name is None
                              else f"unknown registered schema: {name}")
        if not self.validate_schema:
            return raw
        if name not in self._normalized:
            self._normalized[name] = self.normalized_schema(raw)
        return self._normalized[name]

    def normalized_schemas(self) -> tuple[dict, dict[str, dict]]:
        """The constructor schema and every registered schema, as
        :meth:`normalized_schema` returns them, each normalized once."""
        return self._stored(None), {
            name: self._stored(name) for name in self.schema_registry}

    def normalized_schema(self, schema: dict) -> dict:
        """Meta-validate + normalize a user schema; raise SchemaError.

        Reference ``validator.hh:159-175``: each field's rule-map is
        validated against the accumulated schema-of-schemas by an inner
        validator with meta-validation off; the *normalized* rule-map
        (e.g. ``nullable: false`` injected by the meta-schema default)
        replaces the user's. We additionally recurse into nested
        ``schema``/``items``/``keysrules``/``valuesrules`` arguments
        (the reference silently skips nested meta-validation — an
        unpinned gap we close; divergence documented in SURVEY.md §5).

        A ``nullable: false`` the meta-schema injected (the user's rule
        map has no ``nullable``) is tagged ``__nullable_injected__:
        True``, so ``presence="null"`` compiles it inert (SURVEY.md §7:
        the undefined/null collapse); rules ignore the tag. The result
        is a fixed point: normalizing it again keeps every tag and
        returns an equal tree. ``validate`` normalizes the constructor
        schema and each registered schema once (:meth:`_stored`); a
        schema passed to ``validate`` is normalized on every call.

        A ``regex`` that does not compile is refused here: at
        validation time it would raise on every string value.
        """
        if not isinstance(schema, dict):
            raise SchemaError(f"schema must be a mapping, got {type(schema)}")
        out: dict[str, dict] = {}
        for field_name, rules in schema.items():
            if not isinstance(rules, dict):
                raise SchemaError(
                    f"rules for field {field_name!r} must be a mapping"
                )
            out[field_name] = self._meta_one(rules)
        return out

    def _normalize_nested(self, rules: dict) -> dict:
        if "schema" in rules and isinstance(rules["schema"], dict):
            form = _schema_form(rules)
            if form == "list":
                rules["schema"] = self._meta_one(rules["schema"])
            elif form == "dict":
                rules["schema"] = self.normalized_schema(rules["schema"])
        if "items" in rules and isinstance(rules["items"], list):
            rules["items"] = [
                self._meta_one(s) if isinstance(s, dict) else s
                for s in rules["items"]
            ]
        for key in ("keysrules", "valuesrules"):
            if key in rules and isinstance(rules[key], dict):
                rules[key] = self._meta_one(rules[key])
        return rules

    def _meta_one(self, rule_map: dict) -> dict:
        """Meta-validate one rule map against the schema-of-schemas
        with one inner validator, reused for every rule map, then
        normalize the rule maps nested in it, refuse a ``regex`` that
        does not compile and tag an injected ``nullable``."""
        if self._meta is None:
            self._meta = Validator(self.schema_schema, validate_schema=False)
        inner = self._meta
        inner.types = self.types
        inner.schema_registry = self.schema_registry
        if not inner.validate(
                {k: v for k, v in rule_map.items() if k != _INJECTED}):
            raise SchemaError(inner.errors)
        out = self._normalize_nested(inner.get_document())
        if "regex" in out:
            try:
                _compile_regex(out["regex"])
            except re.error as e:
                raise SchemaError([ValidationErrorItem(
                    "^.regex", f"regex does not compile: {e}")]) from None
        if rule_map.get(_INJECTED) or (
                "nullable" not in rule_map
                and not _truthy(out.get("nullable"))):
            out[_INJECTED] = True
        return out

    # -- recursive traversal (reference validateDict/validateItem) -----
    def _validate_dict(
        self, doc: dict, schema: dict, path: tuple[Any, ...],
        policy: _Policy,
    ) -> None:
        """Reference ``validateDict`` (``validator.hh:302-344``):
        iterate schema fields, descend, apply rename moves, then purge
        or flag unknown keys by ``policy``."""
        st = self._state
        assert st is not None
        found: list[str] = []
        for field_name, rules in schema.items():
            item = _Item(
                value=doc.get(field_name, UNDEFINED), field=field_name
            )
            self._validate_item(
                item, rules, path + (field_name,), doc, policy)
            if item.field != field_name and field_name in doc:
                del doc[field_name]  # rename move (validator.hh:316-320)
            if item.value is not UNDEFINED:
                doc[item.field] = item.value
            found.append(item.field)
        if policy.purge_unknown:
            for k in list(doc.keys()):
                if k not in found:
                    del doc[k]  # validator.hh:326-333
        if not policy.allow_unknown:
            for k in doc.keys():
                if k not in found:
                    st.errors.append(
                        ValidationErrorItem(
                            format_path(path),
                            f"unknown field not permitted: {k}",
                        )
                    )  # validator.hh:334-339

    def _validate_item(
        self,
        item: _Item,
        rules: dict,
        path: tuple[Any, ...],
        parent: Any,
        policy: _Policy,
    ) -> None:
        """Reference ``validateItem`` (``validator.hh:261-290``): run
        the rule program of ``rules`` (six priority phases, schema-key
        order within a phase). The field's own policy keys scope over
        its subtree, and require_all selects the program variant with
        ``required: true`` injected (``validator.hh:273-275``)."""
        prog = self._live.get(id(rules)) or self._program(rules)
        if prog.scoped:
            policy = policy.enter(rules)
        if policy.require_all:
            rules, steps = prog.all_rules, prog.all_steps
        else:
            steps = prog.steps
        ctx = RuleCtx(self, self._state, item, None, rules, path, parent,
                      policy)
        for fn, arg in steps:
            ctx.arg = arg
            fn(ctx)

    def _program(self, rules: dict) -> _Program:
        """The rule program of ``rules``, built on first use."""
        prog = self._live[id(rules)] = _Program(self._rules, self.types,
                                                rules)
        return prog


# ---------------------------------------------------------------------------
# Builtin rules — the full reference vocabulary (``rules.hh:640-667``),
# re-implemented in Python idiom. Order of registration mirrors the
# reference list for documentation purposes only (execution order is
# phase-then-schema-key order, ``validator.hh:266-287``).
# ---------------------------------------------------------------------------


def _rule_allowed(ctx: RuleCtx) -> None:
    """``rules.hh:79-100``. Divergence (unpinned by the reference
    corpus): undefined/null values are skipped rather than failing the
    equality probe — matches Python cerberus."""
    value = ctx.item.value
    if value is UNDEFINED or value is None:
        return
    adapter, literals = ctx.arg  # decoded once (_literals)
    doc = _decoded(adapter, value) if literals else _NEVER
    if doc is not _NEVER:
        for _, d in literals:
            if _eq(d, doc):
                return
    ctx.raise_error("value disallowed by allowed-rule")


def _rule_contains(ctx: RuleCtx) -> None:
    """``rules.hh:102-126`` — string equality, ALL listed values
    required; an undefined/non-list document leaves every needed value
    missing (reference iterates zero items → error)."""
    needed = [str(scalar_text(x)) for x in as_list(ctx.arg)]
    items = ctx.item.value if isinstance(ctx.item.value, list) else []
    t = ctx.get_type("string")
    for item in items:
        needed = [n for n in needed if not t.equality(n, item)]
    if needed:
        ctx.raise_error(
            "contains-rule violated: missing " + ", ".join(needed)
        )


def _rule_default(ctx: RuleCtx) -> None:
    """``rules.hh:128-141`` — fires only on UNDEFINED, not null."""
    if ctx.item.value is UNDEFINED:
        ctx.item.value = copy.deepcopy(ctx.arg)


def _rule_dependencies(ctx: RuleCtx) -> None:
    """``rules.hh:143-187``: skip when the field itself is undefined;
    map form pins the dependency's value (string equality); paths may
    be ``^``-anchored at the document root."""
    if ctx.item.value is UNDEFINED:
        return
    t = ctx.get_type("string")
    if isinstance(ctx.arg, dict):
        for dep, pinned in ctx.arg.items():
            looked = ctx.lookup_path(str(dep))
            if looked is UNDEFINED:
                ctx.raise_error(
                    f"dependencies-rule violated: {dep} required"
                )
            if not any(t.equality(looked, v) for v in as_list(pinned)):
                opts = ", ".join(str(v) for v in as_list(pinned))
                ctx.raise_error(
                    f"dependencies-rule violated: {dep} requires value"
                    f" out of [{opts}]"
                )
        return
    for dep in as_list(ctx.arg):
        if ctx.lookup_path(str(dep)) is UNDEFINED:
            ctx.raise_error(f"dependencies-rule violated: {dep} required")


def _rule_empty(ctx: RuleCtx) -> None:
    """``rules.hh:189-203`` — only sequences are checked."""
    value = ctx.item.value
    if isinstance(value, list) and not _truthy(ctx.arg) and not value:
        ctx.raise_error("empty-rule violated for sequence")


def _rule_excludes(ctx: RuleCtx) -> None:
    """``rules.hh:205-227`` — skip when the field is undefined."""
    if ctx.item.value is UNDEFINED:
        return
    for exc in as_list(ctx.arg):
        if ctx.lookup_path(str(exc)) is not UNDEFINED:
            ctx.raise_error(
                f"excludes-rule violated: {exc} is not allowed"
            )


def _rule_forbidden(ctx: RuleCtx) -> None:
    """``rules.hh:229-244``."""
    value = ctx.item.value
    if value is UNDEFINED or value is None:
        return
    adapter, literals = ctx.arg  # decoded once (_literals)
    doc = _decoded(adapter, value) if literals else _NEVER
    if doc is _NEVER:
        return
    for cand, d in literals:
        if _eq(d, doc):
            ctx.raise_error(f"forbidden-rule violated: {cand}")


def _rule_items(ctx: RuleCtx) -> None:
    """``rules.hh:246-268`` — positional per-index schemas."""
    seq = ctx.item.value if isinstance(ctx.item.value, list) else []
    for i, sub in enumerate(ctx.arg or []):
        elem = _Item(value=seq[i] if i < len(seq) else UNDEFINED)
        ctx.validator._validate_item(
            elem, sub, ctx.path + (i,), ctx.parent, ctx.policy
        )
        if i < len(seq) and elem.value is not UNDEFINED:
            seq[i] = elem.value


def _rule_keysrules(ctx: RuleCtx) -> None:
    """``rules.hh:270-288`` — apply a rule-map to every KEY."""
    value = ctx.item.value
    if not isinstance(value, dict):
        return
    for key in value:
        ctx.validator._validate_item(
            _Item(value=key), ctx.arg, ctx.path + (key,), value, ctx.policy,
        )


def _rule_meta(ctx: RuleCtx) -> None:
    """``rules.hh:290-301`` — metadata carrier, no validation."""


def _rule_max(ctx: RuleCtx) -> None:
    """``rules.hh:303-320`` — EXCLUSIVE bound: doc must be strictly
    less than the bound; skip undefined; a non-decodable doc (incl.
    null) passes (both comparisons fail) — asymmetric vs min."""
    value = ctx.item.value
    if value is UNDEFINED:
        return
    adapter, bound = ctx.arg  # decoded once (_bound)
    doc = _NEVER if bound is _NEVER else _decoded(adapter, value)
    if doc is not _NEVER and (_lt(bound, doc) or _eq(doc, bound)):
        ctx.raise_error("max-rule violated")


def _rule_min(ctx: RuleCtx) -> None:
    """``rules.hh:322-339`` — EXCLUSIVE bound: doc must be strictly
    greater; skip undefined; a non-decodable doc (incl. null) FAILS
    (``less`` returns false)."""
    value = ctx.item.value
    if value is UNDEFINED:
        return
    adapter, bound = ctx.arg  # decoded once (_bound)
    doc = _NEVER if bound is _NEVER else _decoded(adapter, value)
    if doc is _NEVER or not _lt(bound, doc):
        ctx.raise_error("min-rule violated")


def _count_items(value: Any) -> int:
    if isinstance(value, (list, dict)):
        return len(value)
    return 0  # reference iterates a scalar/undefined node zero times


def _rule_maxlength(ctx: RuleCtx) -> None:
    """``rules.hh:341-363``."""
    if _count_items(ctx.item.value) > int(ctx.arg):
        ctx.raise_error("maxlength-rule violated")


def _rule_minlength(ctx: RuleCtx) -> None:
    """``rules.hh:365-387``."""
    if _count_items(ctx.item.value) < int(ctx.arg):
        ctx.raise_error("minlength-rule violated")


def _rule_nullable(ctx: RuleCtx) -> None:
    """``rules.hh:389-404`` — fires on explicit null only; the
    ``default: false`` in its meta-schema is what auto-injects
    ``nullable: false`` into every field (SURVEY.md §1.2.2). Only a
    falsy ``nullable`` gets a step (:func:`_nullable`)."""
    if ctx.item.value is None:
        ctx.raise_error("nullable-rule violated")


def _rule_regex(ctx: RuleCtx) -> None:
    """``rules.hh:438-452`` — FULL match (``std::regex_match``)."""
    value = ctx.item.value
    if value is UNDEFINED or value is None:
        return
    text = scalar_text(value)
    # the rule program compiled the argument (_steps)
    if text is None or not ctx.arg.fullmatch(text):
        ctx.raise_error("regex-rule violated")


def _rule_rename(ctx: RuleCtx) -> None:
    """``rules.hh:454-469`` — POST_NORMALIZATION field move, applied
    by the dict traversal (``validator.hh:316-320``)."""
    ctx.item.field = str(ctx.arg)


def _rule_required(ctx: RuleCtx) -> None:
    """``rules.hh:503-517`` — fires only on UNDEFINED (null passes
    required but fails nullable)."""
    if _truthy(ctx.arg) and ctx.item.value is UNDEFINED:
        ctx.raise_error("required-rule violated: field missing")


def _rule_schema(ctx: RuleCtx) -> None:
    """``rules.hh:519-573``: dict doc → recurse field-map; list doc →
    apply one rule-map to every element; scalar arg → registered
    schema lookup (``validator.hh:408-415``), meta-validated like the
    top-level schema: once, and only under ``validate_schema``."""
    arg, value = ctx.arg, ctx.item.value
    if isinstance(arg, str):
        if arg not in ctx.validator.schema_registry:
            ctx.raise_error(f"unknown registered schema: {arg}")
            return
        arg = ctx.validator._stored(arg)
    if isinstance(value, dict):
        ctx.validator._validate_dict(value, arg, ctx.path, ctx.policy)
    elif isinstance(value, list):
        for i in range(len(value)):
            elem = _Item(value=value[i])
            ctx.validator._validate_item(
                elem, arg, ctx.path + (i,), ctx.parent, ctx.policy
            )
            if elem.value is not UNDEFINED:
                value[i] = elem.value


def _rule_type(ctx: RuleCtx) -> None:
    """``rules.hh:575-612``: skipped for null/undefined; containers
    check structurally against ``list``/``dict``; scalars must be
    YAML-decodable to at least one named type. TYPECHECKING phase —
    runs after ordinary validation."""
    value = ctx.item.value
    kind = type(value)
    names, adapters, converts = ctx.arg  # prepared once (_type_check)
    if kind in converts and (kind is not int
                             or INT64[0] <= value <= INT64[1]):
        return  # a builtin conversion: no parse, no decode call
    if value is UNDEFINED or value is None:
        return
    if isinstance(value, list):
        ok = "list" in names
    elif isinstance(value, dict):
        ok = "dict" in names
    else:
        ok = any(a.is_convertible(value) for a in adapters)
    if not ok:
        ctx.raise_error(
            "type-rule violated: expected " + "/".join(names)
        )


def _rule_valuesrules(ctx: RuleCtx) -> None:
    """``rules.hh:614-632`` — apply a rule-map to every VALUE."""
    value = ctx.item.value
    if not isinstance(value, dict):
        return
    for key in list(value.keys()):
        elem = _Item(value=value[key])
        ctx.validator._validate_item(
            elem, ctx.arg, ctx.path + (key,), value, ctx.policy
        )
        if elem.value is not UNDEFINED:
            value[key] = elem.value


#: rule fn → how its program step prepares the schema argument from
#: ``(argument, rule map, types)``, once per rule map instead of once
#: per value
_PREPARED: dict[RuleFn, Callable[[Any, dict, Types], Any]] = {
    _rule_allowed: _literals,
    _rule_forbidden: _literals,
    _rule_max: _bound,
    _rule_min: _bound,
    _rule_nullable: _nullable,
    _rule_regex: _compile_regex,
    _rule_type: _type_check,
}


def _register_builtin_rules(v: Validator) -> None:
    """Register the 21 + 3 builtin rules with their meta-schemas.

    Meta-schemas transcribed from the reference's registerRule calls
    (``rules.hh:47-667``); note ``minlength``/``maxlength`` use the
    rule vocabulary itself (``dependencies: {type: [list, dict]}``) to
    reject scalar-typed fields at meta-validation time — that is what
    turns ``test/illformedschemas.yml`` cases into SchemaErrors.
    """
    P = Priority
    length_meta = {
        "type": "integer",
        "min": 0,
        "dependencies": {"type": ["list", "dict"]},
    }
    # policy keys act through _Policy.enter; their rules are no-ops
    # that carry the meta-schema
    v.register_rule("allow_unknown", {"type": "boolean"}, _rule_meta)
    v.register_rule("allowed", {"type": "list"}, _rule_allowed)
    v.register_rule(
        "contains", {"type": ["string", "list"]}, _rule_contains
    )
    v.register_rule("default", {}, _rule_default, P.NORMALIZATION)
    v.register_rule("dependencies", {}, _rule_dependencies)
    v.register_rule("empty", {"type": "boolean"}, _rule_empty)
    v.register_rule(
        "excludes", {"type": ["string", "list"]}, _rule_excludes
    )
    v.register_rule("forbidden", {"type": "list"}, _rule_forbidden)
    v.register_rule("items", {"type": "list"}, _rule_items)
    v.register_rule("keysrules", {"type": "dict"}, _rule_keysrules)
    v.register_rule(
        "meta", {"type": "dict", "allow_unknown": True}, _rule_meta
    )
    v.register_rule("max", {}, _rule_max)
    v.register_rule("min", {}, _rule_min)
    v.register_rule("maxlength", dict(length_meta), _rule_maxlength)
    v.register_rule("minlength", dict(length_meta), _rule_minlength)
    v.register_rule(
        "nullable", {"type": "boolean", "default": False}, _rule_nullable
    )
    v.register_rule("purge_unknown", {"type": "boolean"}, _rule_meta)
    v.register_rule("regex", {"type": "string"}, _rule_regex)
    v.register_rule("rename", {"type": "string"}, _rule_rename, P.POST_NORMALIZATION)
    v.register_rule("require_all", {"type": "boolean"}, _rule_meta)
    v.register_rule("required", {"type": "boolean"}, _rule_required)
    v.register_rule("schema", {}, _rule_schema)
    v.register_rule("type", {}, _rule_type, P.TYPECHECKING)
    v.register_rule("valuesrules", {"type": "dict"}, _rule_valuesrules)
