"""Dynamic document validator — the engine's fidelity path.

A from-scratch Python reimplementation of the reference's recursive
validation pipeline (``/root/reference/include/cerberus-cpp/
validator.hh:159-344`` + ``rules.hh:47-667``), used for three jobs:

1. **Schema meta-validation** on the driver (schema-of-schemas,
   ``validator.hh:159-175``) — raising :class:`SchemaError` for
   ill-formed schemas before anything touches the cluster.
2. **The dynamic fallback** for truly schemaless / heterogeneous
   documents that the columnar compiler cannot type statically —
   distributed via ``mapInArrow`` over a JSON column (see
   ``cerberus_cpp_spark.dynamic.spark``).
3. **The oracle** for the columnar compiler's own tests.

Semantics preserved exactly (see SURVEY.md §1.2): exclusive
``min``/``max`` with asymmetric null handling, ``nullable: false``
auto-injection via meta-schema defaults, YAML-decodability ``type``
checks, string-equality ``contains``/``dependencies``, full-match
``regex``, lexically scoped policies, six priority phases, error
accumulation without short-circuit, ``^``-anchored dependency paths.

Each schema is compiled to Python once, not dispatched per document.
The first document that reaches a rule map under a policy generates
one function for the pair (:func:`_generate`). A field map's function
unrolls its fields: read, run the field's rules, rename, write back,
then purge or report the unknown keys. A rule map reached as a list
element, an ``items`` entry, a key or a value gets an item function.
Each builtin rule with an emitter (:data:`_EMITTERS`) is inlined in
phase order, schema-key order within a phase, with its argument
prepared once: ``regex`` compiled; ``type`` resolved to its adapters
and to the Python types a builtin adapter accepts by a conversion,
which pass with one set test; ``min``/``max``/``allowed``/``forbidden``
literals decoded with the field's adapter; a truthy ``nullable``,
``meta`` and the policy keys emit nothing. Every other rule (a custom
one, an override of a builtin name, and the cold ``contains``,
``empty``, ``minlength`` and ``maxlength``) is a ``fn(RuleCtx)`` call
from the generated code, which writes the context's item back; a
custom type is called through its :class:`TypeAdapter`.

No schema value is spliced into the source text. Keys, literals,
messages, patterns, paths, adapters and custom rules are bound in the
function's namespace under generated names, so the source depends only
on the schema's shape, and ``compile()`` is memoized by source text
(:func:`_compiled`). A nested rule map or field map is generated when a
document first reaches it, and a registered schema is looked up and
normalized then too: a rule map that is not a mapping raises, and a
registered schema raises its ``SchemaError``, at the same document as
a walk that looked them up per item. The functions of the stored
schemas (the constructor schema, the registered schemas and, on the
meta-validator, the schema-of-schemas) live until the next
``register_*`` call; a schema passed to ``validate`` gets functions
that go when the call returns. A function reads its schema and the
adapters once, so a stored schema edited in place after its first use
keeps its old function, and a type change reaches the functions
through ``register_type``, not through ``types`` mutated directly.

Documents are plain Python trees (``yaml.safe_load`` output); the
``UNDEFINED`` sentinel distinguishes an absent key from explicit null.
"""

from __future__ import annotations

import copy
import re
from dataclasses import dataclass, field as dc_field, replace
from enum import IntEnum
from functools import lru_cache
from typing import Any, Callable

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


def _path_steps(text: str) -> tuple[bool, tuple[Any, ...]]:
    """A ``dependencies``/``excludes`` path: whether ``^`` anchors it at
    the document root, and its steps, a key or an ``int`` index."""
    anchored = text.startswith("^")
    if anchored:
        text = text[1:].lstrip(".")
    return anchored, tuple(int(idx) if idx else key
                           for key, idx in _PATH_TOKEN.findall(text))


def _follow(node: Any, steps: tuple[Any, ...]) -> Any:
    """The node ``steps`` lead to from ``node``, or UNDEFINED."""
    for step in steps:
        if type(step) is int:
            if not (isinstance(node, list) and step < len(node)):
                return UNDEFINED
        elif not (isinstance(node, dict) and step in node):
            return UNDEFINED
        node = node[step]
    return node


@dataclass(slots=True)
class _Item:
    """Mutable holder for one (value, field-name) pair handed to a
    ``fn(RuleCtx)`` rule — lets it normalize the value or rename the
    field; the generated code reads both back."""

    value: Any
    field: str | None = None


@dataclass(slots=True)
class RuleCtx:
    """What a rule implementation sees — the Python analogue of the
    reference's ``ValidationRuleInterface`` (``validator.hh:225-470``).
    The generated code builds one per custom rule call and reads its
    ``item`` back."""

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
        anchored, steps = _path_steps(str(path_str))
        return _follow(self.state.root if anchored else self.parent,
                       steps)


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


def _adapter(types: Types, rules: dict, name: Any = None) -> TypeAdapter:
    """Type adapter by name, or from the rule map's ``type:`` entry
    (reference ``getType`` — ``validator.hh:368-387``); defaults to
    string comparison when no type is declared."""
    if name is None:
        t = rules.get("type", "string")
        name = t[0] if isinstance(t, list) and t else t
    adapter = types.get(str(name))
    return types["string"] if adapter is None else adapter


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
        # (kind, id(node), policy) → (node, generated function) for the
        # stored schemas; register_* empties it. _live is the store the
        # running validate() fills: this one, or a per-call one for a
        # schema passed to validate
        self._programs: dict[tuple, tuple[Any, Callable]] = {}
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

    def register_schema(self, name: str, schema: dict) -> None:
        self.schema_registry[name] = schema
        self._reset()

    def _reset(self) -> None:
        """Forget the normalized schemas and their functions, and the
        meta-validator's: it reads ``schema_schema``, ``types`` and the
        registry of this validator (:meth:`_meta_one`)."""
        self._normalized.clear()
        self._programs.clear()
        if self._meta is not None:
            self._meta._reset()

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
        generated functions; a schema passed here gets functions that
        go when the call returns."""
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
            self._validate_dict(document, schema)
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
                re.compile(str(out["regex"]))
            except re.error as e:
                raise SchemaError([ValidationErrorItem(
                    "^.regex", f"regex does not compile: {e}")]) from None
        if rule_map.get(_INJECTED) or (
                "nullable" not in rule_map
                and not _truthy(out.get("nullable"))):
            out[_INJECTED] = True
        return out


    # -- generated validation (reference validateDict/validateItem) -----
    def _validate_dict(self, doc: dict, schema: dict) -> None:
        """Reference ``validateDict`` (``validator.hh:302-344``) on the
        document root, by the generated function of ``schema``."""
        self._fn("dict", schema, self._policy)(doc, ())

    def _fn(self, kind: str, node: Any, policy: _Policy) -> Callable:
        """The generated function of ``node`` — a field map (``kind``
        ``"dict"``) or a rule map (``"item"``) — under ``policy``, built
        on first use. The store holds ``node``, so its ``id`` keys it
        uniquely."""
        key = (kind, id(node), policy)
        entry = self._live.get(key)
        if entry is None:
            entry = self._live[key] = (node, _generate(self, kind, node,
                                                       policy))
        return entry[1]

    def _error(self, path: tuple[Any, ...], message: str) -> None:
        self._state.errors.append(
            ValidationErrorItem(format_path(path), message))


# ---------------------------------------------------------------------------
# The generator. A field map's function is ``f(doc, p)``: ``doc`` the
# mapping, ``p`` its path. A rule map's item function is
# ``f(v, p, k, doc) -> v``: the value, the path of its container and its
# key there, and the enclosing mapping (``dependencies``/``excludes``
# resolve against it); it returns the value as normalized. Inside a
# field map's function each field runs the same lines, with ``k`` the
# field's key and ``doc`` the mapping.
# ---------------------------------------------------------------------------


def _indent(lines: list[str]) -> list[str]:
    return ["    " + line for line in lines]


@lru_cache(maxsize=1024)
def _compiled(source: str) -> Any:
    """``compile`` memoized by source text: the source holds no schema
    value, so rule maps of one shape share one code object."""
    return compile(source, "<rule map>", "exec")


class _Gen:
    """The source lines and the namespace of one generated function.
    Schema values reach the source only as names bound in :attr:`ns`."""

    def __init__(self, validator: Validator) -> None:
        self.v = validator
        self.ns: dict[str, Any] = {
            "U": UNDEFINED, "NEVER": _NEVER, "LO": INT64[0], "HI": INT64[1],
            "V": validator, "E": validator._error, "dec": _decoded,
            "lt": _lt, "eq": _eq, "text": scalar_text, "follow": _follow,
            "deepcopy": copy.deepcopy, "Item": _Item, "Ctx": RuleCtx,
        }
        #: the expression of the item's field name: a bound name while
        #: it is known here, a local once a custom rule may have set it
        self.field = "None"
        #: the policy in force for the rule map being emitted
        self.policy = _Policy()

    def bind(self, value: Any) -> str:
        name = f"c{len(self.ns)}"
        self.ns[name] = value
        return name

    def err(self, message: str) -> str:
        """A statement reporting ``message`` at the item's path."""
        return f"E(p + (k,), {self.bind(message)})"

    def child(self, kind: str, node: Any) -> str:
        """A name calling the function of ``node`` under the current
        policy: generated at its first call, which rebinds the name, so
        a nested rule map is generated when a document first reaches
        it."""
        ns, v, policy = self.ns, self.v, self.policy
        name = f"c{len(ns)}"

        def first(*args: Any) -> Any:
            fn = ns[name] = v._fn(kind, node, policy)
            return fn(*args)

        ns[name] = first
        return name

    @staticmethod
    def builtin(adapter: TypeAdapter) -> bool:
        return adapter is BUILTIN_TYPES.get(adapter.name)

    def decode(self, adapter: TypeAdapter) -> str:
        """An expression: ``v`` decoded with ``adapter``, or NEVER. A
        value of the Python type a builtin decodes to is itself."""
        call = f"dec({self.bind(adapter)}, v)"
        own = _OWN.get(adapter.name) if self.builtin(adapter) else None
        if own is None:
            return call
        test = ("type(v) is int and LO <= v <= HI" if own is int
                else f"type(v) is {own.__name__}")
        return f"(v if {test} else {call})"

    def look(self, path: str) -> str:
        """An expression: the node a ``dependencies``/``excludes`` path
        names, or UNDEFINED (:meth:`RuleCtx.lookup_path`)."""
        anchored, steps = _path_steps(path)
        node = "V._state.root" if anchored else "doc"
        return f"follow({node}, {self.bind(steps)})"

    def body(self, rules: Any, policy: _Policy) -> list[str]:
        """Reference ``validateItem`` (``validator.hh:261-290``): the
        lines running ``rules`` on ``v``, six priority phases, schema-key
        order within a phase. The rule map's own policy keys scope over
        its subtree, and require_all injects ``required: true``
        (``validator.hh:273-275``). A key that names no rule
        (``__nullable_injected__``, say) emits nothing; a rule without
        an emitter is a ``fn(RuleCtx)`` call."""
        self.policy = policy = policy.enter(rules)
        if policy.require_all:
            rules = {**rules, "required": True}
        lines: list[str] = []
        ctx = None
        for phase in _PHASES:
            for name, arg in rules.items():
                fn = self.v._rules.get((phase, name))
                if fn in _EMITTERS:
                    lines += fn(self, arg, rules)
                elif fn is not None:
                    if ctx is None:
                        ctx = (f"{self.bind(rules)}, p + (k,), doc, "
                               f"{self.bind(policy)}")
                    var = f"f{len(self.ns)}"
                    lines += [
                        f"it = Item(v, {self.field})",
                        f"{self.bind(fn)}(Ctx(V, V._state, it, "
                        f"{self.bind(arg)}, {ctx}))",
                        f"v, {var} = it.value, it.field"]
                    self.field = var
        return lines


def _generate(validator: Validator, kind: str, node: Any,
              policy: _Policy) -> Callable:
    """The function of a rule map (``kind`` ``"item"``) or of a field
    map (``"dict"``: its fields unrolled, each read, run, renamed and
    written back, then the unknown keys purged or reported by
    ``policy``, ``validator.hh:302-344``)."""
    g = _Gen(validator)
    if kind == "item":
        lines = ["def f(v, p, k, doc):", *_indent(g.body(node, policy)),
                 "    return v"]
    else:
        lines, found = ["def f(doc, p):", "    pass"], []
        for key, rules in node.items():
            g.field = g.bind(key)
            lines += [f"    k = {g.field}", "    v = doc.get(k, U)",
                      *_indent(g.body(rules, policy))]
            final = g.field
            if final not in g.ns:  # a custom rule may have moved it
                lines.append(f"    if {final} != k and k in doc: del doc[k]")
            elif g.ns[final] != key:  # renamed (validator.hh:316-320)
                lines.append("    if k in doc: del doc[k]")
            lines.append(f"    if v is not U: doc[{final}] = v")
            found.append(final)
        if all(name in g.ns for name in found):
            known = g.bind(frozenset(g.ns[name] for name in found))
        else:
            known = "found"
            lines.append(f"    found = [{', '.join(found)}]")
        if policy.purge_unknown:  # validator.hh:326-333
            lines += ["    for x in list(doc):",
                      f"        if x not in {known}: del doc[x]"]
        elif not policy.allow_unknown:  # validator.hh:334-339
            lines += ["    for x in doc:",
                      f"        if x not in {known}:",
                      "            E(p, f'unknown field not permitted: {x}')"]
    exec(_compiled("\n".join(lines)), g.ns)
    return g.ns["f"]


# ---------------------------------------------------------------------------
# Builtin rules — the full reference vocabulary (``rules.hh:640-667``).
# An emitter ``(gen, argument, rule map) -> lines`` prepares its argument
# once and returns the lines that check ``v``; the cold rules stay
# ``fn(RuleCtx)`` calls. Order of registration mirrors the reference list
# for documentation purposes only (execution order is phase-then-schema-
# key order, ``validator.hh:266-287``).
# ---------------------------------------------------------------------------


#: builtin target → the Python type it decodes to itself (an int only
#: within INT64)
_OWN = {"integer": int, "float": float, "number": float, "string": str,
        "boolean": bool}


def _literals(g: _Gen, arg: Any, rules: dict
              ) -> tuple[TypeAdapter, list[tuple[Any, Any]]]:
    """``allowed``/``forbidden``: the field's adapter and the
    ``(literal, decoded)`` pairs of the literals that decode; one that
    does not can never equal a value."""
    adapter = _adapter(g.v.types, rules)
    pairs = ((lit, _decoded(adapter, lit)) for lit in as_list(arg))
    return adapter, [(lit, d) for lit, d in pairs if d is not _NEVER]


def _emit_allowed(g: _Gen, arg: Any, rules: dict) -> list[str]:
    """``rules.hh:79-100``. Divergence (unpinned by the reference
    corpus): undefined/null values are skipped rather than failing the
    equality probe — matches Python cerberus. Under a builtin type the
    decoded literals are a set (NaN, equal to nothing, left out)."""
    adapter, pairs = _literals(g, arg, rules)
    fail = g.err("value disallowed by allowed-rule")
    if not pairs:
        return [f"if v is not U and v is not None: {fail}"]
    if g.builtin(adapter):
        known = g.bind(frozenset(d for _, d in pairs if d == d))
        return [f"if v is not U and v is not None and "
                f"{g.decode(adapter)} not in {known}: {fail}"]
    return ["if v is not U and v is not None:",
            f"    d = {g.decode(adapter)}",
            f"    if d is NEVER or not any(eq(x, d) for x in "
            f"{g.bind(tuple(d for _, d in pairs))}): {fail}"]


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


def _emit_default(g: _Gen, arg: Any, rules: dict) -> list[str]:
    """``rules.hh:128-141`` — fires only on UNDEFINED, not null; a
    container default is copied per document."""
    value = g.bind(arg)
    if type(arg) not in (str, int, float, bool, type(None)):
        value = f"deepcopy({value})"
    return [f"if v is U: v = {value}"]


def _emit_dependencies(g: _Gen, arg: Any, rules: dict) -> list[str]:
    """``rules.hh:143-187``: skip when the field itself is undefined;
    map form pins the dependency's value (string equality); paths may
    be ``^``-anchored at the document root."""
    lines = []
    if isinstance(arg, dict):
        equal = g.bind(_adapter(g.v.types, rules, "string").equality)
        for dep, pinned in arg.items():
            opts = as_list(pinned)
            lines += [
                f"x = {g.look(str(dep))}",
                f"if x is U: "
                f"{g.err(f'dependencies-rule violated: {dep} required')}",
                f"if not any({equal}(x, c) for c in {g.bind(opts)}): "
                + g.err(f"dependencies-rule violated: {dep} requires value"
                        f" out of [{', '.join(str(o) for o in opts)}]")]
    else:
        lines += [f"if {g.look(str(dep))} is U: "
                  f"{g.err(f'dependencies-rule violated: {dep} required')}"
                  for dep in as_list(arg)]
    return ["if v is not U:", *_indent(lines)] if lines else []


def _rule_empty(ctx: RuleCtx) -> None:
    """``rules.hh:189-203`` — only sequences are checked."""
    value = ctx.item.value
    if isinstance(value, list) and not _truthy(ctx.arg) and not value:
        ctx.raise_error("empty-rule violated for sequence")


def _emit_excludes(g: _Gen, arg: Any, rules: dict) -> list[str]:
    """``rules.hh:205-227`` — skip when the field is undefined."""
    lines = [f"if {g.look(str(exc))} is not U: "
             f"{g.err(f'excludes-rule violated: {exc} is not allowed')}"
             for exc in as_list(arg)]
    return ["if v is not U:", *_indent(lines)] if lines else []


def _emit_forbidden(g: _Gen, arg: Any, rules: dict) -> list[str]:
    """``rules.hh:229-244`` — one violation per equal literal."""
    adapter, pairs = _literals(g, arg, rules)
    if not pairs:
        return []
    hits = g.bind(tuple((f"forbidden-rule violated: {lit}", d)
                        for lit, d in pairs))
    if g.builtin(adapter):
        known = g.bind(frozenset(d for _, d in pairs if d == d))
        test, equal = f"d in {known}", "x == d"
    else:
        test, equal = "d is not NEVER", "eq(x, d)"
    return ["if v is not U and v is not None:",
            f"    d = {g.decode(adapter)}",
            f"    if {test}:",
            f"        for m, x in {hits}:",
            f"            if {equal}: E(p + (k,), m)"]


def _each_element(fn: str) -> list[str]:
    """Lines running the item function ``fn`` on every element of the
    list ``v``, writing each normalized element back."""
    return ["q = p + (k,)", "for i in range(len(v)):",
            f"    x = {fn}(v[i], q, i, doc)", "    if x is not U: v[i] = x"]


def _emit_items(g: _Gen, arg: Any, rules: dict) -> list[str]:
    """``rules.hh:246-268`` — positional per-index rule maps; an index
    past the list's end validates as undefined."""
    lines = ["s = v if isinstance(v, list) else ()", "q = p + (k,)"]
    for i, sub in enumerate(arg or []):
        lines += [f"x = {g.child('item', sub)}"
                  f"(s[{i}] if {i} < len(s) else U, q, {i}, doc)",
                  f"if {i} < len(s) and x is not U: s[{i}] = x"]
    return lines


def _emit_keysrules(g: _Gen, arg: Any, rules: dict) -> list[str]:
    """``rules.hh:270-288`` — apply a rule-map to every KEY."""
    return ["if isinstance(v, dict):", "    q = p + (k,)",
            f"    for x in v: {g.child('item', arg)}(x, q, x, v)"]


def _emit_nothing(g: _Gen, arg: Any, rules: dict) -> list[str]:
    """``meta`` (``rules.hh:290-301``), a metadata carrier, and the
    policy keys, which act through :meth:`_Policy.enter`."""
    return []


def _emit_max(g: _Gen, arg: Any, rules: dict) -> list[str]:
    """``rules.hh:303-320`` — EXCLUSIVE bound: doc must be strictly
    less than the bound; skip undefined; a non-decodable doc (incl.
    null) passes (both comparisons fail) — asymmetric vs min."""
    adapter = _adapter(g.v.types, rules)
    bound = _decoded(adapter, arg)
    if bound is _NEVER:
        return []
    b = g.bind(bound)
    test = f"{b} <= d" if g.builtin(adapter) else f"lt({b}, d) or eq(d, {b})"
    return ["if v is not U:", f"    d = {g.decode(adapter)}",
            f"    if d is not NEVER and ({test}): "
            f"{g.err('max-rule violated')}"]


def _emit_min(g: _Gen, arg: Any, rules: dict) -> list[str]:
    """``rules.hh:322-339`` — EXCLUSIVE bound: doc must be strictly
    greater; skip undefined; a non-decodable doc (incl. null) FAILS
    (``less`` returns false)."""
    adapter = _adapter(g.v.types, rules)
    bound = _decoded(adapter, arg)
    fail = g.err("min-rule violated")
    if bound is _NEVER:
        return [f"if v is not U: {fail}"]
    b = g.bind(bound)
    less = f"{b} < d" if g.builtin(adapter) else f"lt({b}, d)"
    return ["if v is not U:", f"    d = {g.decode(adapter)}",
            f"    if d is NEVER or not {less}: {fail}"]


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


def _emit_nullable(g: _Gen, arg: Any, rules: dict) -> list[str]:
    """``rules.hh:389-404`` — fires on explicit null only; the
    ``default: false`` in its meta-schema is what auto-injects
    ``nullable: false`` into every field (SURVEY.md §1.2.2)."""
    if _truthy(arg):
        return []
    return [f"if v is None: {g.err('nullable-rule violated')}"]


def _emit_regex(g: _Gen, arg: Any, rules: dict) -> list[str]:
    """``rules.hh:438-452`` — FULL match (``std::regex_match``)."""
    match = g.bind(re.compile(str(arg)).fullmatch)
    return ["if v is not U and v is not None:",
            "    x = v if type(v) is str else text(v)",
            f"    if x is None or not {match}(x): "
            f"{g.err('regex-rule violated')}"]


def _emit_rename(g: _Gen, arg: Any, rules: dict) -> list[str]:
    """``rules.hh:454-469`` — POST_NORMALIZATION field move, applied
    by the field map's function (``validator.hh:316-320``)."""
    g.field = g.bind(str(arg))
    return []


def _emit_required(g: _Gen, arg: Any, rules: dict) -> list[str]:
    """``rules.hh:503-517`` — fires only on UNDEFINED (null passes
    required but fails nullable)."""
    if not _truthy(arg):
        return []
    return [f"if v is U: {g.err('required-rule violated: field missing')}"]


def _emit_schema(g: _Gen, arg: Any, rules: dict) -> list[str]:
    """``rules.hh:519-573``: dict doc → the field map's function; list
    doc → one rule map for every element; a string argument names a
    registered schema (``validator.hh:408-415``), looked up and
    meta-validated when a document first reaches it: once, and only
    under ``validate_schema``."""
    if not isinstance(arg, str):
        return [f"if isinstance(v, dict): {g.child('dict', arg)}(v, p + (k,))",
                "elif isinstance(v, list):",
                *_indent(_each_element(g.child("item", arg)))]
    name, policy = g.bind(arg), g.bind(g.policy)
    return [f"if {name} not in V.schema_registry: "
            f"{g.err(f'unknown registered schema: {arg}')}",
            "else:",
            f"    s = V._stored({name})",
            f"    if isinstance(v, dict): V._fn('dict', s, {policy})"
            "(v, p + (k,))",
            "    elif isinstance(v, list):",
            f"        w = V._fn('item', s, {policy})",
            *_indent(_indent(_each_element("w")))]


def _emit_type(g: _Gen, arg: Any, rules: dict) -> list[str]:
    """``rules.hh:575-612``: skipped for null/undefined; containers
    check structurally against ``list``/``dict``; scalars must be
    YAML-decodable to at least one named type. TYPECHECKING phase —
    runs after ordinary validation. A value of a Python type that a
    builtin adapter converts (:data:`CONVERTS`, an int only within
    INT64) passes with one set test, counting the adapters up to the
    first custom one: a custom decode listed first still runs first."""
    names = tuple(str(t) for t in as_list(arg))
    adapters = [g.v.types[n] for n in names if n in g.v.types]
    converts: frozenset[type] = frozenset()
    for adapter in adapters:
        if not g.builtin(adapter):
            break
        converts |= CONVERTS[adapter.name]
    fail = g.err("type-rule violated: expected " + "/".join(names))
    skip = "v is U or v is None"
    if converts:
        skip = (f"type(v) in {g.bind(converts)}"
                + (" and (type(v) is not int or LO <= v <= HI)"
                   if int in converts else "") + " or " + skip)
    scalar = " or ".join(f"{g.bind(a.is_convertible)}(v)"
                         for a in adapters)
    return [f"if {skip}: pass",
            f"elif isinstance(v, list): {'pass' if 'list' in names else fail}",
            f"elif isinstance(v, dict): {'pass' if 'dict' in names else fail}",
            f"elif not ({scalar or 'False'}): {fail}"]


def _emit_valuesrules(g: _Gen, arg: Any, rules: dict) -> list[str]:
    """``rules.hh:614-632`` — apply a rule-map to every VALUE."""
    return ["if isinstance(v, dict):", "    q = p + (k,)",
            "    for x in list(v):",
            f"        y = {g.child('item', arg)}(v[x], q, x, v)",
            "        if y is not U: v[x] = y"]


#: the rules whose checks are generated inline; every other rule runs
#: as a ``fn(RuleCtx)`` call
_EMITTERS = frozenset({
    _emit_allowed, _emit_default, _emit_dependencies, _emit_excludes,
    _emit_forbidden, _emit_items, _emit_keysrules, _emit_max, _emit_min,
    _emit_nothing, _emit_nullable, _emit_regex, _emit_rename,
    _emit_required, _emit_schema, _emit_type, _emit_valuesrules,
})


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
    # policy keys act through _Policy.enter; they emit no code and
    # carry the meta-schema
    v.register_rule("allow_unknown", {"type": "boolean"}, _emit_nothing)
    v.register_rule("allowed", {"type": "list"}, _emit_allowed)
    v.register_rule(
        "contains", {"type": ["string", "list"]}, _rule_contains
    )
    v.register_rule("default", {}, _emit_default, P.NORMALIZATION)
    v.register_rule("dependencies", {}, _emit_dependencies)
    v.register_rule("empty", {"type": "boolean"}, _rule_empty)
    v.register_rule(
        "excludes", {"type": ["string", "list"]}, _emit_excludes
    )
    v.register_rule("forbidden", {"type": "list"}, _emit_forbidden)
    v.register_rule("items", {"type": "list"}, _emit_items)
    v.register_rule("keysrules", {"type": "dict"}, _emit_keysrules)
    v.register_rule(
        "meta", {"type": "dict", "allow_unknown": True}, _emit_nothing
    )
    v.register_rule("max", {}, _emit_max)
    v.register_rule("min", {}, _emit_min)
    v.register_rule("maxlength", dict(length_meta), _rule_maxlength)
    v.register_rule("minlength", dict(length_meta), _rule_minlength)
    v.register_rule(
        "nullable", {"type": "boolean", "default": False}, _emit_nullable
    )
    v.register_rule("purge_unknown", {"type": "boolean"}, _emit_nothing)
    v.register_rule("regex", {"type": "string"}, _emit_regex)
    v.register_rule("rename", {"type": "string"}, _emit_rename,
                    P.POST_NORMALIZATION)
    v.register_rule("require_all", {"type": "boolean"}, _emit_nothing)
    v.register_rule("required", {"type": "boolean"}, _emit_required)
    v.register_rule("schema", {}, _emit_schema)
    v.register_rule("type", {}, _emit_type, P.TYPECHECKING)
    v.register_rule("valuesrules", {"type": "dict"}, _emit_valuesrules)
