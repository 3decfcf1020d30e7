"""Schema → fused Column-expression compiler: the engine's scale path.

Where the reference interprets rules per document node with a map
lookup per rule (``validator.hh:279``), we compile the WHOLE schema
once into a single projection: every rule of every field folds into
one ``violations: array<struct<path,message>>`` expression evaluated
in one narrow, shuffle-free pass (Catalyst folds constants, prunes
unread columns, and runs the whole thing inside whole-stage codegen).
N rules never means N scans — SURVEY.md §4.2's "key design move".

Presence semantics (SURVEY.md §7 "undefined vs null collapse"):

- ``presence="null"`` (production tables): SQL NULL plays the
  reference's "undefined". ``required`` fires on NULL, skip-rules
  (min/max/type/allowed/regex) skip NULL, and the auto-injected
  ``nullable: false`` is inert (only an *explicit* ``nullable: false``
  fires) — otherwise every optional column would reject NULL.
- ``presence="defined"`` (full fidelity): a companion
  ``__defined__: array<string>`` column (and sibling struct fields for
  nested dicts) preserves the reference's three-state semantics
  exactly — absent vs explicit-null vs value — including reference
  oddities like min failing on null while max passes
  (``rules.hh:316-336``).

Rules take one descent at every depth, like the reference's
validateItem/validateDict (``validator.hh:261-344``): every rule map
compiles through :func:`compile_field`, and every mapping — the frame
row and each nested struct or map — through :func:`_compile_mapping`.
A mapping's :class:`Scope` is the mapping as normalized so far, the
document ``dependencies``/``excludes`` paths resolve against
(``stack.hh:146-172``). List elements and map entries compile inside
``F.transform`` with the index or key, so per-element violation paths
keep the reference's ``^.field[i]`` grammar (``stack.hh:39-54``)
without a posexplode; a ``Column`` path marks a ctx below an element.
Only two things are refused there: custom column rules (a pandas UDF
cannot run inside a lambda) and a non-scalar ``default`` on a field
the element's struct lacks, which has no type to validate by.
"""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field, replace
from functools import reduce
from typing import Any, Optional

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..dynamic.interpreter import (
    _POLICY_KEYS,
    _Policy,
    _path_steps,
    _truthy,
    as_list,
)
from ..errors import SchemaError
from ..functions.pytypes import scalar_text
from ..functions.sparktypes import (
    INTEGRAL_TYPES,
    convertible_expr,
    decode_expr,
    text_expr,
    typed_literal,
)

VIOL_ARRAY_T = "array<struct<path:string,message:string>>"


class CompileError(SchemaError):
    """A rule/shape combination the columnar compiler cannot express;
    the dynamic interpreter path still handles it."""


class ScalarViol:
    """One rule violation: the boolean firing condition, the path and
    the message (both Columns). The struct<path,message> entry is
    built only where a violation array is assembled, so the engine
    compiles ``n_violations`` from the conditions alone as a pure
    integer sum — zero per-row allocations on the verdict/count path
    (the 100TB hot path); the struct array is only evaluated by the
    violation-explode path, which Catalyst filter-pushdown restricts
    to violating rows."""

    __slots__ = ("cond", "path", "message")

    def __init__(self, cond: Column, path: Column, message: Column):
        self.cond = cond
        self.path = path
        self.message = message


def _viol(cond: Column, path: Column, message) -> ScalarViol:
    """A violation at ``path`` whenever ``cond`` holds."""
    msg = message if isinstance(message, Column) else F.lit(message)
    return ScalarViol(cond, path, msg)


class ArrayViol:
    """Marker wrapper: a Column of array<struct<path,message>> (one
    entry per element, null entries allowed) as opposed to a
    :class:`ScalarViol`."""

    __slots__ = ("col",)

    def __init__(self, col: Column):
        self.col = col


@dataclass
class FieldRef:
    """A resolvable document field: value expr + dtype + definedness."""

    value: Optional[Column]
    dtype: Optional[T.DataType]
    defined: Column


class _Row:
    """The frame row as a mapping value: its keys are its columns."""

    def __getitem__(self, name: str) -> Column:
        return F.col(name)


_ROW = _Row()


def row_ref(df_schema: T.StructType) -> FieldRef:
    """The frame row as the root mapping, always defined."""
    return FieldRef(_ROW, df_schema, F.lit(True))


class Scope:
    """One mapping as normalized so far, as ``_validate_dict`` sees its
    document: the resolution context of the ``dependencies`` /
    ``excludes`` path language (``stack.hh:146-172``). Every key the
    mapping holds resolves; a compiled field's entry is its effective
    ref, and a renamed field's old name is undefined (None).
    Non-anchored paths resolve here, ``^`` against ``root``."""

    def __init__(self, mapping: FieldRef, root: "Scope | None"):
        self.mapping = mapping
        self.entries: dict[str, Optional[FieldRef]] = {}
        self.root = root if root is not None else self

    def get(self, name: str, opts: "CompilerOpts") -> Optional[FieldRef]:
        if name in self.entries:
            return self.entries[name]
        return _child_ref(self.mapping, name, opts)


@dataclass
class CompilerOpts:
    presence: str = "null"  # "null" | "defined"
    # engine-supplied registries
    schema_registry: dict = dc_field(default_factory=dict)
    column_rules: dict = dc_field(default_factory=dict)
    spark_types: dict = dc_field(default_factory=dict)


@dataclass
class FieldCtx:
    opts: CompilerOpts
    rules: dict
    value: Optional[Column]
    dtype: Optional[T.DataType]
    defined: Column
    # a Column below an element under list-form schema, keysrules or
    # valuesrules (_elem_viols): inside an F.transform lambda the index
    # or map key is known at run time alone (_join_path). A Column path
    # is the compile-time marker of such a ctx.
    path: str | Column
    # the mapping dependencies/excludes paths resolve against: the
    # field's own mapping; for a list element, the list's enclosing
    # mapping; for a key or value, the mapping itself
    scope: Scope
    # True when this ctx is a list ELEMENT (items rule), an element
    # under list-form schema / keysrules / valuesrules, or a field of
    # such an element (a Column path): null is then unambiguously
    # explicit, so injected nullable:false fires in every presence
    # mode and explicit nullable gates on definedness.
    elem: bool = False
    # the ENCLOSING policy; compile_field enters the field's own keys
    policy: _Policy = _Policy()

    def declared_type(self) -> str:
        t = self.rules.get("type", "string")
        return str(t[0]) if isinstance(t, list) and t else str(t)

    def decoded(self) -> Optional[Column]:
        """The value decoded as the declared type, a registered custom
        type's ``decode`` first."""
        if self.value is None or self.dtype is None:
            return None
        ad = self.opts.spark_types.get(self.declared_type())
        if ad is not None and ad.decode is not None:
            return ad.decode(self.value, self.dtype)
        return decode_expr(self.value, self.dtype, self.declared_type())

    def literal(self, value) -> Optional[Column]:
        """``value`` decoded as the declared type: a registered custom
        type's ``literal``, else the value as written; None when a
        builtin decode fails, so no value is less than or equal to it."""
        ad = self.opts.spark_types.get(self.declared_type())
        if ad is not None:
            return F.lit(value) if ad.literal is None else ad.literal(value)
        return typed_literal(value, self.declared_type())


def _child_ref(parent: FieldRef, name: str, opts: CompilerOpts) -> Optional[FieldRef]:
    """Descend one mapping level below a struct/map-typed field, or
    from the frame row to a column; None when the key is absent."""
    if parent.value is None or parent.dtype is None:
        return None
    if isinstance(parent.dtype, T.StructType):
        names = parent.dtype.fieldNames()
        if name not in names or name == "__defined__":
            return None
        v = parent.value[name]
        dt = parent.dtype[name].dataType
        if opts.presence == "defined" and "__defined__" in names:
            defined = F.coalesce(
                F.array_contains(parent.value["__defined__"], name),
                F.lit(False),
            )
        else:
            defined = v.isNotNull()
        if parent.value is not _ROW:
            defined = parent.defined & defined
        return FieldRef(v, dt, defined)
    if isinstance(parent.dtype, T.MapType):
        v = F.try_element_at(parent.value, F.lit(name))
        defined = parent.defined & F.coalesce(
            F.map_contains_key(parent.value, F.lit(name)), F.lit(False)
        )
        return FieldRef(v, parent.dtype.valueType, defined)
    return None


def _resolve(scope: Scope, path_str: str, opts: CompilerOpts) -> Optional[FieldRef]:
    """The ref a ``dependencies``/``excludes`` path names, or None
    where it is undefined; the steps are the interpreter's own
    (``_path_steps``), so both engines read one path grammar."""
    anchored, steps = _path_steps(str(path_str))
    start = scope.root if anchored else scope
    ref: Optional[FieldRef] = None
    for step in steps:
        if type(step) is int:
            # `[i]` list index (stack.hh:146-172): descend into an
            # array element; out-of-range → undefined, mirroring the
            # dynamic interpreter's ``_follow``.
            if (ref is None or ref.value is None
                    or not isinstance(ref.dtype, T.ArrayType)):
                return None
            ref = FieldRef(
                F.try_element_at(ref.value, F.lit(step + 1)),
                ref.dtype.elementType,
                ref.defined
                & (F.coalesce(F.size(ref.value), F.lit(0)) > step),
            )
            continue
        ref = (start.get(step, opts) if ref is None
               else _child_ref(ref, step, opts))
        if ref is None:
            return None
    return ref


# ---------------------------------------------------------------------------
# Element-level rules: one array element (an F.transform lambda
# variable) or one key/value under keysrules/valuesrules, compiled by
# compile_field like any field. Element paths are Columns, as the index
# or map key may be known at run time only: a Column path is the marker
# of a ctx below an element.
# ---------------------------------------------------------------------------


def _join_path(*parts: str | Column) -> str | Column:
    """Extend a path: a ``str`` while every segment is known at compile
    time, an ``F.concat`` Column once any segment is a Column."""
    if all(isinstance(p, str) for p in parts):
        return "".join(parts)
    return F.concat(*[_path_col(p) for p in parts])


def _path_col(path: str | Column) -> Column:
    return path if isinstance(path, Column) else F.lit(path)


def _elem_viols(ctx: FieldCtx, rules: dict, ref: FieldRef,
                path: Column, scope: Scope) -> list:
    """``rules`` on one element ``ref`` below the field ``ctx``, with
    element null semantics (``FieldCtx.elem``), resolving paths in
    ``scope``."""
    viols, _ = compile_field(FieldCtx(
        ctx.opts, rules, ref.value, ref.dtype, ref.defined, path, scope,
        elem=True, policy=ctx.policy))
    return viols


def _array_rule_viols(ctx: FieldCtx, elem_rules: dict) -> list:
    """schema (list form): ``elem_rules`` on every element inside one
    F.transform, under the element's own ``path[i]``
    (``stack.hh:39-54``), flattened into one array. Element paths
    resolve against the list's enclosing mapping, as in ``_rule_schema``."""
    elem_dt = ctx.dtype.elementType

    def one(x: Column, i: Column) -> Column:
        return assemble_violations(_elem_viols(
            ctx, elem_rules, FieldRef(x, elem_dt, F.lit(True)),
            _join_path(ctx.path, "[", i.cast("string"), "]"), ctx.scope))

    arr = F.flatten(F.transform(ctx.value, one))
    return [ArrayViol(F.coalesce(arr, F.array().cast(VIOL_ARRAY_T)))]


def _kv_viols(ctx: FieldCtx, which: str, arg: dict, defined: Column) -> list:
    """keysrules/valuesrules (``rules.hh:270-288, 614-632``): ``arg``
    on every key/value PRESENT in the field's mapping — known and
    unknown keys alike — at ``path.<key>``, resolving paths against
    that mapping. A struct's key names are compile-time constants (a
    dict-form ``schema`` alongside types the value as a struct), so its
    checks stay scalar; a map's entries are iterated in one
    F.transform."""
    ref = FieldRef(ctx.value, ctx.dtype, defined)
    scope = Scope(ref, ctx.scope.root)
    if isinstance(ref.dtype, T.MapType):
        dt = ref.dtype.keyType if which == "keysrules" else ref.dtype.valueType

        def one(e: Column) -> Column:
            target = e["key"] if which == "keysrules" else e["value"]
            return assemble_violations(_elem_viols(
                ctx, arg, FieldRef(target, dt, F.lit(True)),
                _join_path(ctx.path, ".", e["key"].cast("string")), scope))

        arr = F.flatten(F.transform(F.map_entries(ref.value), one))
        return [ArrayViol(F.coalesce(arr, F.array().cast(VIOL_ARRAY_T)))]
    viols: list = []
    for fname in ref.dtype.fieldNames():
        child = _child_ref(ref, fname, opts=ctx.opts)
        if child is None:  # __defined__
            continue
        target = (FieldRef(F.lit(fname), T.StringType(), F.lit(True))
                  if which == "keysrules"
                  else FieldRef(child.value, child.dtype, F.lit(True)))
        # a Column like a map entry's path: the marker of an element
        path = _join_path(_path_col(ctx.path), f".{fname}")
        viols += _gate_viols(_elem_viols(ctx, arg, target, path, scope),
                             child.defined)
    return viols


def _unknown_key_viols(
    known: frozenset[str], parent: FieldRef, path: str | Column,
    opts: CompilerOpts,
) -> list:
    """Keys of the struct/map ``parent`` outside ``known``
    (``validator.hh:334-339``), reported at the mapping's own path."""
    path = _path_col(path)
    if isinstance(parent.dtype, T.StructType):
        return [
            _viol(_child_ref(parent, fname, opts).defined, path,
                  f"unknown field not permitted: {fname}")
            for fname in parent.dtype.fieldNames()
            if fname not in known and fname != "__defined__"
        ]
    known = (F.array(*[F.lit(k) for k in sorted(map(str, known))]) if known
             else F.array().cast("array<string>"))
    arr = F.transform(
        F.map_keys(parent.value),
        lambda k: F.when(
            ~F.array_contains(known, k.cast("string")),
            F.struct(
                path.alias("path"),
                F.concat(F.lit("unknown field not permitted: "),
                         k.cast("string")).alias("message"))))
    return [ArrayViol(F.coalesce(arr, F.array().cast(VIOL_ARRAY_T)))]


# ---------------------------------------------------------------------------
# Field-level compilation
# ---------------------------------------------------------------------------


def _scalar_dtype(value: Any) -> Optional[T.DataType]:
    """Spark type of a scalar schema constant; None for anything else."""
    for py, dt in ((bool, T.BooleanType()), (int, T.LongType()),
                   (float, T.DoubleType()), (str, T.StringType())):
        if isinstance(value, py):
            return dt
    return None


def _count_expr(ctx: FieldCtx) -> Column:
    """Item count of a list/dict value (reference iterates the node —
    scalars and undefined count 0, ``rules.hh:355-359``)."""
    if ctx.value is None or ctx.dtype is None:
        return F.lit(0)
    if isinstance(ctx.dtype, (T.ArrayType, T.MapType)):
        return F.coalesce(F.size(ctx.value), F.lit(0))
    if isinstance(ctx.dtype, T.StructType):
        names = ctx.dtype.fieldNames()
        if ctx.opts.presence == "defined" and "__defined__" in names:
            return F.coalesce(F.size(ctx.value["__defined__"]), F.lit(0))
        counts = [
            F.when(ctx.value[n].isNotNull(), 1).otherwise(0)
            for n in names if n != "__defined__"
        ]
        base = reduce(lambda a, b: a + b, counts) if counts else F.lit(0)
        return F.when(ctx.value.isNotNull(), base).otherwise(F.lit(0))
    return F.lit(0)


def compile_field(ctx: FieldCtx) -> tuple[list, FieldRef]:
    """Compile one field's rule-map.

    Returns the violations and the field's effective ref: its value
    with NORMALIZATION (default) applied, so later rules validate the
    normalized value, mirroring the reference's phase order
    (``validator.hh:266-287``). The field's own policy keys scope over
    its subtree, and require_all injects ``required: true``
    (``validator.hh:273-275``).
    """
    policy = ctx.policy.enter(ctx.rules)
    rules = {**ctx.rules, "required": True} if policy.require_all \
        else ctx.rules
    ctx = replace(ctx, rules=rules, policy=policy)
    opts = ctx.opts
    viols: list[Column] = []

    # ---- NORMALIZATION phase: default (rules.hh:128-141) ----
    value, defined = ctx.value, ctx.defined
    if "default" in rules:
        raw = rules["default"]
        dlit = ctx.literal(raw)
        if dlit is None:  # normalized as written, as the interpreter does
            dlit = F.lit(raw)
        if value is None:
            # column absent: the rules see a column holding the raw
            # default, as the interpreter validates it (_rule_default);
            # the normalized output is the typed literal
            dt = _scalar_dtype(raw)
            if dt is None and isinstance(ctx.path, Column):
                raise CompileError(
                    "non-scalar `default` on an element field absent from"
                    " its struct is not columnar-compilable (use the"
                    " dynamic interpreter path)")
            ctx = replace(ctx, value=dlit if dt is None
                          else F.lit(raw).cast(dt), dtype=dt)
            value = dlit
        else:
            value = F.when(~defined, dlit).otherwise(value)
            ctx = replace(ctx, value=value)
        defined = F.lit(True)
        ctx = replace(ctx, defined=defined)

    path = _path_col(ctx.path)

    for name, arg in rules.items():
        if name.startswith("__"):
            continue
        if name in opts.column_rules:  # custom registered column rules
            if isinstance(ctx.path, Column):
                raise CompileError(
                    f"rule {name!r} not supported on array/map elements by"
                    " the columnar compiler (use the dynamic interpreter"
                    " path)")
            for v in opts.column_rules[name](ctx, arg) or []:
                # a custom rule may also return a raw
                # struct<path,message>-or-null Column: it violates
                # wherever it is not null
                viols.append(
                    v if isinstance(v, (ScalarViol, ArrayViol))
                    else ScalarViol(v.isNotNull(), v["path"], v["message"]))
            continue
        if name == "required":
            if _truthy(arg):
                viols.append(_viol(~defined, path,
                                   "required-rule violated: field missing"))
        elif name == "nullable":
            explicit = not rules.get("__nullable_injected__", False)
            if not _truthy(arg) and (explicit or opts.presence == "defined"
                                     or ctx.elem):
                if ctx.value is not None:
                    cond = (defined & ctx.value.isNull()
                            if opts.presence == "defined" or ctx.elem
                            else ctx.value.isNull())
                    viols.append(_viol(cond, path, "nullable-rule violated"))
        elif name == "min":
            dec, lit = ctx.decoded(), ctx.literal(arg)
            cond = (defined & ~F.coalesce(dec > lit, F.lit(False))
                    if dec is not None and lit is not None else defined)
            viols.append(_viol(cond, path, "min-rule violated"))
        elif name == "max":
            dec, lit = ctx.decoded(), ctx.literal(arg)
            if dec is not None and lit is not None:
                viols.append(_viol(
                    defined & F.coalesce(dec >= lit, F.lit(False)),
                    path, "max-rule violated"))
        elif name == "allowed":
            dec = ctx.decoded()
            if ctx.value is None:
                continue
            base = defined & ctx.value.isNotNull()
            lits = [lit for lit in map(ctx.literal, as_list(arg))
                    if lit is not None]
            if dec is None or not lits or isinstance(
                    ctx.dtype, (T.ArrayType, T.MapType, T.StructType)):
                viols.append(_viol(base, path,
                                   "value disallowed by allowed-rule"))
            else:
                viols.append(_viol(
                    base & ~F.coalesce(dec.isin(*lits), F.lit(False)),
                    path, "value disallowed by allowed-rule"))
        elif name == "forbidden":
            dec = ctx.decoded()
            if dec is None or ctx.value is None:
                continue
            for cand in as_list(arg):
                lit = ctx.literal(cand)
                if lit is not None:
                    viols.append(_viol(
                        defined & ctx.value.isNotNull()
                        & F.coalesce(dec.eqNullSafe(lit), F.lit(False)),
                        path, f"forbidden-rule violated: {cand}"))
        elif name == "regex":
            if ctx.value is None:
                continue
            # full match (rules.hh:448); \A..\z so a trailing newline
            # can't sneak past Java's line-terminator-tolerant $ —
            # keeps rlike, the interpreter twin (re.fullmatch), and the
            # C++ reference in agreement
            pattern = f"\\A(?:{arg})\\z"
            text = text_expr(ctx.value, ctx.dtype)
            viols.append(_viol(
                defined & ctx.value.isNotNull()
                & ~F.coalesce(text.rlike(pattern), F.lit(False)),
                path, "regex-rule violated"))
        elif name == "empty":
            if (ctx.value is not None and isinstance(ctx.dtype, T.ArrayType)
                    and not _truthy(arg)):
                viols.append(_viol(
                    defined & ctx.value.isNotNull()
                    & (F.size(ctx.value) == 0),
                    path, "empty-rule violated for sequence"))
        elif name == "minlength":
            viols.append(_viol(_count_expr(ctx) < F.lit(int(arg)), path,
                               "minlength-rule violated"))
        elif name == "maxlength":
            viols.append(_viol(_count_expr(ctx) > F.lit(int(arg)), path,
                               "maxlength-rule violated"))
        elif name == "contains":
            needed = [str(scalar_text(v)) for v in as_list(arg)]
            needed_arr = F.array(*[F.lit(n) for n in needed])
            prefix = "contains-rule violated: missing "
            if ctx.value is not None and isinstance(ctx.dtype, T.ArrayType):
                elem_dt = ctx.dtype.elementType
                have = F.transform(ctx.value, lambda x: text_expr(x, elem_dt))
                ok = F.size(F.array_except(needed_arr, have)) == 0
                # needed values absent from the list, in order with
                # duplicates; a null list lacks them all
                missing = F.filter(needed_arr, lambda n: ~F.coalesce(
                    F.array_contains(have, n), F.lit(False)))
                viols.append(_viol(
                    ~F.coalesce(ok, F.lit(False)), path,
                    F.concat(F.lit(prefix), F.array_join(missing, ", "))))
            else:
                # reference iterates zero items → every needed missing
                viols.append(_viol(F.lit(True), path,
                                   prefix + ", ".join(needed)))
        elif name == "type":
            if ctx.value is None or ctx.dtype is None:
                continue  # undefined always → type skipped
            names = [str(n) for n in as_list(arg)]
            base = defined & ctx.value.isNotNull()
            if isinstance(ctx.dtype, T.ArrayType):
                if "list" not in names:
                    viols.append(_viol(base, path,
                                       "type-rule violated: expected "
                                       + "/".join(names)))
            elif isinstance(ctx.dtype, (T.MapType, T.StructType)):
                if "dict" not in names:
                    viols.append(_viol(base, path,
                                       "type-rule violated: expected "
                                       + "/".join(names)))
            else:
                preds = [
                    opts.spark_types[n].convertible(ctx.value, ctx.dtype)
                    if n in opts.spark_types
                    else convertible_expr(ctx.value, ctx.dtype, n)
                    for n in names
                ]
                ok = reduce(lambda a, b: a | b, preds) if preds else F.lit(False)
                viols.append(_viol(base & ~ok, path,
                                   "type-rule violated: expected "
                                   + "/".join(names)))
        elif name == "dependencies":
            if ctx.value is None:
                continue
            if isinstance(arg, dict):
                for dep, pinned in arg.items():
                    ref = _resolve(ctx.scope, str(dep), opts)
                    if ref is None:
                        viols.append(_viol(
                            defined, path,
                            f"dependencies-rule violated: {dep} required"))
                        continue
                    viols.append(_viol(
                        defined & ~ref.defined, path,
                        f"dependencies-rule violated: {dep} required"))
                    strs = [str(scalar_text(v)) for v in as_list(pinned)]
                    pin_ok = ref.defined & F.coalesce(
                        text_expr(ref.value, ref.dtype).isin(strs),
                        F.lit(False))
                    opts_s = ", ".join(strs)
                    viols.append(_viol(
                        defined & ~pin_ok, path,
                        f"dependencies-rule violated: {dep} requires value"
                        f" out of [{opts_s}]"))
            else:
                for dep in as_list(arg):
                    ref = _resolve(ctx.scope, str(dep), opts)
                    cond = (defined & ~ref.defined) if ref is not None else defined
                    viols.append(_viol(
                        cond, path,
                        f"dependencies-rule violated: {dep} required"))
        elif name == "excludes":
            if ctx.value is None:
                continue
            for exc in as_list(arg):
                ref = _resolve(ctx.scope, str(exc), opts)
                if ref is not None:
                    viols.append(_viol(
                        defined & ref.defined, path,
                        f"excludes-rule violated: {exc} is not allowed"))
        elif name == "schema":
            viols.extend(_compile_schema_rule(ctx, arg, defined))
        elif name == "items":
            if ctx.value is not None and isinstance(ctx.dtype, T.ArrayType):
                elem_dt = ctx.dtype.elementType
                for i, sub in enumerate(as_list(arg)):
                    ectx = FieldCtx(
                        opts, sub,
                        F.try_element_at(ctx.value, F.lit(i + 1)), elem_dt,
                        defined & (F.coalesce(F.size(ctx.value), F.lit(0)) > i),
                        _join_path(ctx.path, f"[{i}]"), ctx.scope, elem=True,
                        policy=policy)
                    v2, _ = compile_field(ectx)
                    # items no-ops on an undefined list (same skip
                    # semantics as the schema rule)
                    viols.extend(_gate_viols(v2, defined))
        elif name in ("keysrules", "valuesrules"):
            if ctx.value is not None and isinstance(
                    ctx.dtype, (T.StructType, T.MapType)):
                viols.extend(_kv_viols(ctx, name, arg, defined))
        elif name in ("meta", "rename", "default") or name in _POLICY_KEYS:
            pass  # no-op / handled by normalization and the policy
        else:
            raise CompileError(
                f"unknown rule {name!r} reached the compiler — schema was"
                " not meta-validated")
    return viols, FieldRef(value, ctx.dtype, defined)


def _compile_schema_rule(ctx: FieldCtx, arg: Any, defined: Column) -> list[Column]:
    """The ``schema`` rule (``rules.hh:519-573``): dict form recurses
    into struct/map fields; list form applies one rule-map per element
    via F.transform."""
    opts = ctx.opts
    if isinstance(arg, str):  # a registered schema (validator.hh:408-415)
        if arg not in opts.schema_registry:
            raise CompileError(f"unknown registered schema: {arg}")
        arg = opts.schema_registry[arg]
    if ctx.value is None or ctx.dtype is None:
        return []
    if isinstance(ctx.dtype, T.ArrayType):
        return _array_rule_viols(ctx, arg)
    if isinstance(ctx.dtype, (T.StructType, T.MapType)):
        # the schema rule NO-OPS when the carrying field is undefined
        # or null (reference: rules skip such values; a missing dict
        # must not fire its children's `required`) — gate every nested
        # violation on the parent being defined and non-null
        nested, _ = _compile_mapping(
            arg, FieldRef(ctx.value, ctx.dtype, defined), ctx.path,
            ctx.scope.root, opts, ctx.policy, isinstance(ctx.path, Column))
        return _gate_viols(nested, defined & ctx.value.isNotNull())
    return []


def _gate_viols(viols: list, gate: Column) -> list:
    """AND every violation's firing condition with ``gate``."""
    out = []
    empty = F.array().cast(VIOL_ARRAY_T)
    for v in viols:
        if isinstance(v, ArrayViol):
            out.append(ArrayViol(F.when(gate, v.col).otherwise(empty)))
        else:
            out.append(ScalarViol(gate & F.coalesce(v.cond, F.lit(False)),
                                  v.path, v.message))
    return out


def _compile_mapping(
    schema: dict,
    parent: FieldRef,
    path: str | Column,
    root: Optional[Scope],
    opts: CompilerOpts,
    policy: _Policy,
    elem: bool = False,
    exempt: frozenset[str] = frozenset(),
) -> tuple[list, list[tuple[str, FieldRef]]]:
    """validateDict (``validator.hh:302-344``) over the mapping
    ``parent`` — the frame row (:func:`row_ref`, ``root`` None) or a
    nested struct/map value — under the carrying field's ``policy``.
    Each schema field compiles against the mapping as normalized so far
    (:class:`Scope`); then keys neither ``schema`` nor ``exempt`` names
    are violations; a ``rename`` target is known, as in the
    interpreter's ``found``. ``elem`` is the fields' ``FieldCtx.elem``.
    Returns the violations and, in schema order, each field's name
    after ``rename`` with its effective ref."""
    scope = Scope(parent, root)
    viols: list = []
    fields: list[tuple[str, FieldRef]] = []
    for fname, rules in schema.items():
        ref = scope.get(fname, opts) or FieldRef(None, None, F.lit(False))
        v2, eff = compile_field(FieldCtx(
            opts, rules, ref.value, ref.dtype, ref.defined,
            _join_path(path, f".{fname}"), scope, elem=elem, policy=policy))
        viols.extend(v2)
        out_name = str(rules.get("rename", fname))
        if out_name != fname:
            scope.entries[fname] = None  # a rename moves the entry
            held = scope.get(out_name, opts)
            if held is not None and held.value is not None:
                # an undefined field moves nothing: the key keeps its value
                eff = held if eff.value is None else _moved(eff, held)
        scope.entries[out_name] = eff
        fields.append((out_name, eff))
    if policy.rejects_unknown:
        known = exempt | set(schema) | {name for name, _ in fields}
        viols.extend(_unknown_key_viols(known, parent, path, opts))
    return viols, fields


def _moved(field: FieldRef, held: FieldRef) -> FieldRef:
    """A field renamed onto the key ``held``: its value where defined,
    else the key's own; integral dtypes widen to bigint, other mixed
    dtypes have no one column."""
    a, b, dtype = field.value, held.value, field.dtype
    if dtype != held.dtype:
        if not (isinstance(dtype, INTEGRAL_TYPES)
                and isinstance(held.dtype, INTEGRAL_TYPES)):
            raise CompileError(
                f"rename onto a key of another type ({dtype} over"
                f" {held.dtype}) is not columnar-compilable (use the"
                " dynamic interpreter path)")
        a, b, dtype = a.cast("long"), b.cast("long"), T.LongType()
    return FieldRef(F.when(field.defined, a).otherwise(b), dtype,
                    field.defined | held.defined)


def assemble_violations(viols: list) -> Column:
    """Fuse per-rule violation columns into one array.

    Codegen note: higher-order functions (``F.filter``/``transform``
    lambdas) are CodegenFallback in Spark — one lambda in the fused
    projection demotes the ENTIRE expression tree to interpreted mode
    (~10× slower at 1M rows, measured). Scalar rule violations are
    therefore merged as ``concat`` of conditional single-element
    arrays, which stays inside whole-stage codegen. Only genuine
    per-element rules (arrays/maps) pay the HOF cost — their producers
    already use ``transform``, so nothing extra is lost filtering
    their nulls lazily at the same fallback tier."""
    empty = F.array().cast(VIOL_ARRAY_T)
    parts: list[Column] = []
    for v in viols:
        if isinstance(v, ArrayViol):
            parts.append(
                F.filter(v.col, lambda x: x.isNotNull())
                .cast(VIOL_ARRAY_T)
            )
        else:
            entry = F.struct(v.path.alias("path"), v.message.alias("message"))
            parts.append(F.when(v.cond, F.array(entry)).otherwise(empty))
    if not parts:
        return empty
    merged = F.concat(*parts) if len(parts) > 1 else parts[0]
    return merged.cast(VIOL_ARRAY_T)


def assemble_violation_count(viols: list) -> Column:
    """``n_violations`` as a pure integer expression — no arrays, no
    structs, no string literals on the count path. This is what makes
    verdict-only jobs (the north metric) allocation-free."""
    terms: list[Column] = []
    for v in viols:
        if isinstance(v, ArrayViol):
            terms.append(
                F.coalesce(
                    F.size(F.filter(v.col, lambda x: x.isNotNull())),
                    F.lit(0),
                )
            )
        else:
            terms.append(F.when(v.cond, F.lit(1)).otherwise(F.lit(0)))
    if not terms:
        return F.lit(0)
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out
