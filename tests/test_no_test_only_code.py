"""Regrowth guard: every top-level definition in ``cerberus_cpp_spark/``
must be reachable from a real caller.

The real callers are the query contract (``__spark_entry__.py``),
``perfbench/``, the bench scripts (``bench.py``, ``bench_extra.py``,
``scaling_bench.py``) and the names the package exports. Every name
they use in code (a ``Name``, an ``Attribute.attr`` or an import
alias, f-string expressions included) is a root, and so is every name
used by a module-level statement of the library that is not a
definition or an import, and every ``ALLOWED`` entry. A top-level
definition is reached when a root or the body of a reached definition
uses it. A use names its definition by module wherever the module is
known: a name defined at the top of the using module, a name imported
from a library module (followed through re-exports), or an attribute of
an imported library module. Any other use (``obj.method``, a name no
import explains) matches every definition of that bare name, so a
collision can only hide dead code, never flag live code. String
literals and comments never count: no library code looks up one of its
own definitions by string.

Library code that only its own tests reach is deleted together with
those tests; the few definitions that tests need as fixtures or oracles
are listed in ``ALLOWED`` with the reason they stay.

The options pass applies the same rule one level down. In the layers
the system is made of (``OPTION_SCOPE``), every defaulted parameter of
a public function, public method or public class's ``__init__`` must
be set to a value other than its default by a real caller: the callers
above or library code outside the function itself (:class:`_Options`
says how a call binds). An option only tests set keeps its whole code
path alive, so it becomes its default constant, or a value worked out
from the inputs; the few that stay without a caller are listed in
``ALLOWED_OPTIONS`` with one of three reasons: the reference's
policies, its extension points, or a cost bound that tests lower to
reach the bounded path.
"""

from __future__ import annotations

import ast
from collections import defaultdict
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
LIB = ROOT / "cerberus_cpp_spark"
CALLERS = (
    [ROOT / n for n in ("__spark_entry__.py", "bench.py",
                        "bench_extra.py", "scaling_bench.py")]
    + sorted((ROOT / "perfbench").rglob("*.py"))
)

# "<module path under cerberus_cpp_spark>::<name>" -> why it stays.
ALLOWED = {
    "sources/webpcodec.py::encode_webp_lz77":
        "fixture: encodes the LZ77 lossless inputs of the WebP decoder "
        "tests",
    "sources/webpcodec.py::encode_webp_cached":
        "fixture: VP8L color-cache inputs of the WebP decoder tests",
    "sources/webpcodec.py::encode_webp_color_transformed":
        "fixture: VP8L color-transform inputs of the WebP decoder tests",
    "sources/webpcodec.py::encode_webp_meta":
        "fixture: VP8L meta-prefix-code inputs of the WebP decoder tests",
    "sources/webpcodec.py::encode_webp_predicted":
        "fixture: VP8L predictor-transform inputs of the WebP decoder "
        "tests",
    "sources/libwebp.py::encode_rgba":
        "fixture: libwebp lossy encoder building VP8 decoder inputs",
    "sources/libwebp.py::encode_lossless_rgba":
        "fixture: libwebp lossless encoder building VP8L decoder inputs",
    "sources/libwebp.py::decode_yuv_ex":
        "oracle: libwebp's YUV planes that the from-scratch VP8 decoder "
        "is compared against",
    "sources/libwebp.py::decode_yuv":
        "oracle: libwebp's YUV planes for the plain VP8 decoder tests",
    "sources/webpx.py::anim_frame_infos":
        "introspection helper: per-frame animation headers asserted in "
        "the animated WebP tests",
    "sources/webpx.py::decode_webp_subframes":
        "oracle: per-frame decode that the animated WebP compositing "
        "tests compare against",
    "sources/pngcodec.py::encode_png_ex":
        "fixture: PNG encoder with explicit filter/interlace choices "
        "for the PNG decoder tests",
    "sources/imagegen.py::_decode_png":
        "oracle: reference PNG decode the synthetic image tests compare "
        "against",
    "sources/fixtures.py::golden_frame":
        "fixture: builds the DataFrame of a golden case for the engine "
        "differential tests",
    "sources/fixtures.py::image_caption_table":
        "fixture: the image/caption table of the production-mode tests",
    "sources/textgen.py::synthetic_docs":
        "fixture: synthetic corpus of the dedup scale tests",
    "sources/textgen.py::planted_exact_pairs":
        "fixture: the exact-duplicate pairs planted in synthetic_docs",
    "sources/textgen.py::planted_near_pairs":
        "fixture: the near-duplicate pairs planted in synthetic_docs",
    "sources/robots.py::is_allowed":
        "oracle: per-URL robots.txt matcher that url.robots_audit is "
        "compared against",
    "sources/archive.py::MSG_ZIP_CRC":
        "error text the archive tests accept from a corrupted member",
    "sources/tfrecord.py::MSG_DATA_CRC":
        "error text the TFRecord tests assert on",
    "sources/pngcodec.py::png_header_info":
        "introspection helper asserted in PNG round-trip tests",
    "sources/tfrecord.py::sniff_tfrecord":
        "introspection helper asserted in TFRecord round-trip tests",
    "sources/libheif.py::heif_image_count":
        "introspection helper asserted in HEIF round-trip tests",
    "sources/libheif.py::heif_version":
        "introspection helper asserted in HEIF round-trip tests",
}

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef,
         ast.Assign, ast.AnnAssign)
PKG = "cerberus_cpp_spark"


def _bound(node: ast.AST) -> list[str]:
    """The names a top-level definition binds."""
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                         ast.ClassDef)):
        return [node.name]
    targets = node.targets if isinstance(node, ast.Assign) else [node.target]
    return [n.id for t in targets for n in ast.walk(t)
            if isinstance(n, ast.Name)]


def _module_key(lib: Path, parts: list[str]) -> str | None:
    """The module under ``lib`` that the package path ``parts`` names."""
    base = "/".join(parts)
    for key in (f"{base}.py", f"{base}/__init__.py" if base else
                "__init__.py"):
        if (lib / key).is_file():
            return key
    return None


class _Library:
    """Every module's top-level definitions and import table: local
    name -> ``(module, name)`` targets, ``name`` None for a module."""

    def __init__(self, lib: Path) -> None:
        self.lib = lib
        self.trees = {path.relative_to(lib).as_posix(): ast.parse(
            path.read_text()) for path in sorted(lib.rglob("*.py"))}
        self.names = {module: {name for node in tree.body
                               if isinstance(node, _DEFS)
                               for name in _bound(node)}
                      for module, tree in self.trees.items()}
        self.imports = {module: self.import_table(module, tree)
                        for module, tree in self.trees.items()}

    def import_table(self, module: str | None, tree: ast.AST
                     ) -> dict[str, set[tuple[str, str | None]]]:
        package = module.split("/")[:-1] if module else []
        table = defaultdict(set)
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom):
                dotted = (node.module or "").split(".") if node.module else []
                if node.level:
                    up = len(package) - (node.level - 1)
                    if up < 0:
                        continue
                    base = package[:up] + dotted
                elif dotted[:1] == [PKG]:
                    base = dotted[1:]
                else:
                    continue
                source = _module_key(self.lib, base)
                for alias in node.names:
                    sub = _module_key(self.lib, base + [alias.name])
                    target = (sub, None) if sub else (source, alias.name)
                    if target[0]:
                        table[alias.asname or alias.name].add(target)
            elif isinstance(node, ast.Import):
                for alias in node.names:
                    dotted = alias.name.split(".")
                    sub = _module_key(self.lib, dotted[1:])
                    if dotted[0] == PKG and alias.asname and sub:
                        table[alias.asname].add((sub, None))
        return table

    def resolve(self, module: str | None, name: str,
                table: dict | None = None, depth: int = 0) -> set[str]:
        """``name`` as ``module`` sees it, as definition keys, through
        re-exports; the bare name where no definition explains it. A
        caller outside the library (``module`` None) brings its own
        import ``table``."""
        if module is not None and name in self.names[module]:
            return {f"{module}::{name}"}
        out = set()
        for source, imported in (self.imports[module] if table is None
                                 else table).get(name, ()):
            if imported is not None and depth < 8:
                out |= self.resolve(source, imported, depth=depth + 1)
        return out or {name}

    def uses(self, node: ast.AST, module: str | None,
             table: dict) -> set[str]:
        """Every definition ``node`` uses in code, as a key where the
        module is known, else as a bare name; string literals do not
        count."""
        out = set()
        for n in ast.walk(node):
            if isinstance(n, ast.Name):
                out |= self.resolve(module, n.id, table)
            elif isinstance(n, ast.Attribute):
                modules = [source for source, imported in table.get(
                    n.value.id, ()) if imported is None] if isinstance(
                    n.value, ast.Name) else []
                out |= set().union(*(self.resolve(m, n.attr)
                                     for m in modules)) or {n.attr}
            elif isinstance(n, ast.alias):
                out |= self.resolve(module, n.asname or n.name.split(".")[0],
                                    table)
        return out


def _graph(lib: Path = LIB, callers: list[Path] = CALLERS
           ) -> tuple[set[str], dict[str, set[str]]]:
    """(roots, definitions): what the real callers and the library's
    non-definition module-level statements use, and
    ``"<module>::<name>"`` of every top-level definition -> what its
    body uses (:meth:`_Library.uses`)."""
    library = _Library(lib)
    roots: set[str] = set()
    for path in callers:
        tree = ast.parse(path.read_text())
        roots |= library.uses(tree, None, library.import_table(None, tree))
    defs: dict[str, set[str]] = {}
    for module, tree in library.trees.items():
        table = library.imports[module]
        for node in tree.body:
            if isinstance(node, (ast.Import, ast.ImportFrom)):
                if module == "__init__.py":  # the package exports
                    roots |= library.uses(node, module, table)
                continue
            names = [n for n in (_bound(node) if isinstance(node, _DEFS)
                                 else [])
                     if not (n.startswith("__") and n.endswith("__"))]
            if not names:
                roots |= library.uses(node, module, table)
            for name in names:
                defs[f"{module}::{name}"] = library.uses(node, module, table)
    return roots, defs


def _bare(key: str) -> str:
    return key.split("::")[1]


def _reached(roots: set[str], defs: dict[str, set[str]]) -> set[str]:
    """The definition keys reached from ``roots`` through the
    definitions' bodies; a bare name reaches every definition of it."""
    by_name = defaultdict(list)
    for key in defs:
        by_name[_bare(key)].append(key)
    seen: set[str] = set()
    todo = list(roots)
    while todo:
        use = todo.pop()
        for key in ([use] if "::" in use else by_name[use]):
            if key in defs and key not in seen:
                seen.add(key)
                todo.extend(defs[key])
    return seen


def test_every_definition_has_a_non_test_caller() -> None:
    roots, defs = _graph()
    reached = _reached(roots | ALLOWED.keys(), defs)
    unreached = sorted(defs.keys() - reached)
    assert not unreached, (
        f"only tests reach {unreached}: delete them with their tests, or "
        "list a fixture or oracle in ALLOWED with its reason")
    gone = sorted(ALLOWED.keys() - defs.keys())
    assert not gone, f"ALLOWED names a gone definition: {gone}"
    stale = sorted(k for k in ALLOWED if k in _reached(
        roots | ALLOWED.keys() - {k}, defs))
    assert not stale, f"ALLOWED names a definition reached without it: {stale}"


@pytest.fixture
def colliding(tmp_path: Path) -> tuple[Path, list[Path]]:
    """A library whose modules share names: ``helper`` in ``a`` (used
    in ``a``) and ``b`` (dead); ``size`` in ``b`` (imported by ``a``) and
    ``c`` (dead); ``run`` in ``a`` (called through a module alias) and
    ``c`` (dead)."""
    lib = tmp_path / PKG
    (lib / "sub").mkdir(parents=True)
    (lib / "__init__.py").write_text("")
    (lib / "sub" / "__init__.py").write_text("")
    (lib / "sub" / "a.py").write_text(
        "from .b import size\n\n\ndef helper(x):\n    return x\n\n\n"
        "def run(x):\n    return helper(size(x))\n")
    (lib / "sub" / "b.py").write_text(
        "def helper(x):\n    return -x\n\n\ndef size(x):\n"
        "    return len(x)\n")
    (lib / "sub" / "c.py").write_text(
        "def size(x):\n    return 0\n\n\ndef run(x):\n    return x\n")
    caller = tmp_path / "caller.py"
    caller.write_text(f"import {PKG}.sub.a as A\n\nA.run([1])\n")
    return lib, [caller]


def test_name_collision_no_longer_hides_dead_code(colliding) -> None:
    """By bare name every colliding definition was reached through its
    live namesake; resolved by module, the dead ones are not."""
    roots, defs = _graph(*colliding)
    reached = _reached(roots, defs)
    assert defs.keys() - reached == {
        "sub/b.py::helper", "sub/c.py::size", "sub/c.py::run"}
    bare = {_bare(k) for k in reached}
    assert all(_bare(k) in bare for k in defs)  # what bare names saw


# ---------------------------------------------------------------------------
# Options: a defaulted parameter whose other values only tests pass keeps
# its whole code path alive, so each needs a real caller too.
# ---------------------------------------------------------------------------

#: the layers the system is made of; their options are checked
OPTION_SCOPE = ("plans/", "dynamic/", "operators/checks.py",
                "operators/pipeline.py", "operators/ledger.py",
                "operators/partitioning.py")
#: the three reasons an option may stay without a real caller
OPTION_REASONS = ("policy:", "extension point:", "cost bound:")

# "<module>::<function or Class.method>(<parameter>)" -> why it stays.
ALLOWED_OPTIONS = {
    "dynamic/interpreter.py::Validator.__init__(require_all)":
        "policy: the reference's require_all",
    "plans/engine.py::TableValidator.__init__(require_all)":
        "policy: the reference's require_all",
    "dynamic/spark.py::validate_json(allow_unknown)":
        "policy: the reference's allow_unknown",
    "dynamic/spark.py::validate_json(purge_unknown)":
        "policy: the reference's purge_unknown",
    "dynamic/spark.py::validate_json(require_all)":
        "policy: the reference's require_all",
    "dynamic/interpreter.py::Validator.validate(schema)":
        "extension point: the reference's validate(document, schema)",
    "dynamic/spark.py::validate_json(configure)":
        "extension point: registers custom rules and types on each "
        "worker's Validator",
    "dynamic/spark.py::validate_json(registry)":
        "extension point: registerSchema for the schemaless path",
    "plans/engine.py::TableValidator.__init__(registry)":
        "extension point: registerSchema for the columnar path",
    "plans/engine.py::TableValidator.register_column_rule(interpreter_fn)":
        "extension point: registerRule's rule function",
    "plans/engine.py::TableValidator.register_column_rule(priority)":
        "extension point: registerRule's priority",
    "plans/engine.py::TableValidator.register_spark_type(convertible)":
        "extension point: registerType's convertibility check",
    "plans/engine.py::TableValidator.register_spark_type(decode)":
        "extension point: registerType's ordering (types.hh:16-21)",
    "plans/engine.py::TableValidator.register_spark_type(literal)":
        "extension point: registerType's ordering of schema literals",
    "plans/engine.py::TableValidator.register_spark_type(py_decode)":
        "extension point: registerType for the interpreter twin",
    "operators/checks.py::missing_time_buckets(max_buckets)":
        "cost bound: tests lower it to reach the guarded explode",
    "operators/ledger.py::ValidationLedger.__init__(compact_every)":
        "cost bound: tests lower it to reach compaction",
}

_FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef)


def _defaults(node: ast.FunctionDef) -> dict[str, ast.expr]:
    """Parameter name -> default of ``node``'s defaulted parameters."""
    a = node.args
    pos = a.posonlyargs + a.args
    out = dict(zip([p.arg for p in pos[len(pos) - len(a.defaults):]],
                   a.defaults))
    out.update((p.arg, d) for p, d in zip(a.kwonlyargs, a.kw_defaults)
               if d is not None)
    return out


def _params(node: ast.FunctionDef | ast.Lambda) -> set[str]:
    a = node.args
    return {p.arg for p in a.posonlyargs + a.args + a.kwonlyargs}


def _same(value: ast.expr, default: ast.expr) -> bool:
    """Whether ``value`` is written as the default itself."""
    try:
        v, d = ast.literal_eval(value), ast.literal_eval(default)
    except (ValueError, TypeError, SyntaxError, MemoryError,
            RecursionError):
        return ast.dump(value) == ast.dump(default)
    return type(v) is type(d) and v == d


class _Options:
    """Which defaulted parameters of the library's functions and
    methods some real caller binds to a value other than the default.

    A call is resolved like a use in the definition pass
    (:meth:`_Library.resolve`); a name that no module explains matches
    every function and method of that name, bound both with and
    without a leading ``self``, so a collision can only count an
    option as set, never miss one. A class call reaches the class's
    ``__init__`` (inherited through library bases). A positional
    argument, a keyword, a ``*args`` (every later parameter) and a
    ``**kwargs`` all bind: a ``**kwargs`` that forwards the enclosing
    function's own ``**kwargs`` binds what that function's callers put
    into it, any other one binds everything. A parameter forwarded
    under an equal default is set only where the enclosing function's
    own parameter is set. A call inside the function itself does not
    count."""

    def __init__(self, library: _Library, callers: list[Path]) -> None:
        self.library = library
        #: "<module>::<function or Class.method>" -> its node
        self.funcs: dict[str, ast.FunctionDef] = {}
        self.classes: dict[str, tuple[ast.ClassDef, str]] = {}
        for module, tree in library.trees.items():
            for node in tree.body:
                if isinstance(node, _FUNCS):
                    self.funcs[f"{module}::{node.name}"] = node
                elif isinstance(node, ast.ClassDef):
                    self.classes[f"{module}::{node.name}"] = (node, module)
                    for item in node.body:
                        if isinstance(item, _FUNCS):
                            self.funcs[f"{module}::{node.name}.{item.name}"] \
                                = item
        self.key_of = {id(node): key for key, node in self.funcs.items()}
        self.by_name = defaultdict(list)
        for key in self.funcs:
            self.by_name[key.split("::")[1].split(".")[-1]].append(key)
        #: (call, enclosing functions, the functions it may reach)
        self.sites = []
        for module, tree in library.trees.items():
            self._collect(tree, module, library.imports[module], ())
        for path in callers:
            tree = ast.parse(path.read_text())
            self._collect(tree, None, library.import_table(None, tree), ())
        #: key -> parameters some real call binds to a non-default value
        self.bound: dict[str, set[str]] = defaultdict(set)
        #: key -> keyword names callers put into its ``**kwargs``
        #: ("*" where unknown)
        self.spread: dict[str, set[str]] = defaultdict(set)
        size = -1
        while size != (size := sum(map(len, self.bound.values()))
                       + sum(map(len, self.spread.values()))):
            for site in self.sites:
                self._bind(*site)

    def _collect(self, node: ast.AST, module: str | None, table: dict,
                 stack: tuple) -> None:
        for child in ast.iter_child_nodes(node):
            if isinstance(child, ast.Call):
                targets = self._targets(child.func, module, table)
                if targets:
                    self.sites.append((child, stack, targets))
            self._collect(child, module, table, stack + (child,) if
                          isinstance(child, _FUNCS + (ast.Lambda,))
                          else stack)

    def _init(self, key: str, depth: int = 0) -> list[str]:
        """The ``__init__`` a call of class ``key`` reaches."""
        if f"{key}.__init__" in self.funcs:
            return [f"{key}.__init__"]
        node, module = self.classes[key]
        return [init for base in node.bases if isinstance(base, ast.Name)
                and depth < 8
                for k in self.library.resolve(module, base.id)
                if k in self.classes for init in self._init(k, depth + 1)]

    def _targets(self, func: ast.expr, module: str | None, table: dict
                 ) -> list[tuple[str, int | None]]:
        """(function key, leading parameters the call binds implicitly;
        None where unknown) of every function the call may reach."""
        if isinstance(func, ast.Name):
            keys = self.library.resolve(module, func.id, table)
        elif isinstance(func, ast.Attribute):
            modules = [source for source, imported in table.get(
                func.value.id, ()) if imported is None] if isinstance(
                func.value, ast.Name) else []
            keys = set().union(*(self.library.resolve(m, func.attr)
                                 for m in modules)) or {func.attr}
        else:
            return []
        out = []
        for key in keys:
            if key in self.funcs:
                out.append((key, 0))
            elif key in self.classes:
                out += [(init, 1) for init in self._init(key)]
            elif "::" not in key:  # a bare name
                out += [(k, None) for k in self.by_name[key]]
                out += [(init, 1) for k in self.classes if _bare(k) == key
                        for init in self._init(k)]
        return out

    def _owner(self, name: str, stack: tuple):
        """The innermost enclosing function that has parameter
        ``name``, or None."""
        for fn in reversed(stack):
            if name in _params(fn) or fn.args.kwarg is not None and \
                    fn.args.kwarg.arg == name:
                return fn
        return None

    def _sets(self, value: ast.expr, default: ast.expr, stack: tuple
              ) -> bool:
        """Whether binding ``value`` sets an option whose default is
        ``default``."""
        if _same(value, default):
            return False
        if isinstance(value, ast.Name):
            fn = self._owner(value.id, stack)
            key = self.key_of.get(id(fn))
            if key is not None and not any(
                    isinstance(n, ast.Name) and n.id == value.id
                    and not isinstance(n.ctx, ast.Load)
                    for n in ast.walk(fn)):
                outer = _defaults(fn).get(value.id)
                if outer is not None and _same(outer, default):
                    return value.id in self.bound[key]
        return True

    def _bind(self, call: ast.Call, stack: tuple, targets: list) -> None:
        inside = {self.key_of[id(fn)] for fn in stack
                  if id(fn) in self.key_of}
        for key, lead in targets:
            if key in inside:
                continue
            node = self.funcs[key]
            a = node.args
            positional = [p.arg for p in a.posonlyargs + a.args]
            named = set(positional) | {p.arg for p in a.kwonlyargs}
            defaults = _defaults(node)
            pairs: list[tuple[str, ast.expr | None]] = []  # None: unknown
            for skip in ((0, 1) if lead is None else (lead,)):
                for i, arg in enumerate(call.args):
                    if isinstance(arg, ast.Starred):
                        pairs += [(p, None) for p in positional[skip + i:]]
                        break
                    if skip + i < len(positional):
                        pairs.append((positional[skip + i], arg))
            for kw in call.keywords:
                if kw.arg is not None:
                    pairs.append((kw.arg, kw.value))
                    continue
                names = {"*"}
                if isinstance(kw.value, ast.Name):
                    fn = self._owner(kw.value.id, stack)
                    outer = self.key_of.get(id(fn))
                    if outer is not None and fn.args.kwarg is not None \
                            and fn.args.kwarg.arg == kw.value.id:
                        names = self.spread[outer]
                elif isinstance(kw.value, ast.Dict) and all(
                        isinstance(k, ast.Constant) for k in kw.value.keys):
                    names = {k.value for k in kw.value.keys}
                pairs += [(p, None) for p in
                          (named | {"*"} if "*" in names else names)]
            for name, value in pairs:
                if name in defaults:
                    if value is None or self._sets(value, defaults[name],
                                                   stack):
                        self.bound[key].add(name)
                elif name not in named and a.kwarg is not None:
                    self.spread[key].add(name)

    def options(self) -> set[str]:
        """``"<key>(<parameter>)"`` of every defaulted parameter of a
        public function, public method or public class's ``__init__``
        in :data:`OPTION_SCOPE`."""
        out = set()
        for key, node in self.funcs.items():
            module, name = key.split("::")
            if not module.startswith(OPTION_SCOPE):
                continue
            if any(part.startswith("_") for part in name.split(".")) \
                    and not (name.count(".") == 1
                             and not name.startswith("_")
                             and name.endswith(".__init__")):
                continue
            out |= {f"{key}({p})" for p in _defaults(node)}
        return out

    def unset(self) -> set[str]:
        """The options no real caller sets."""
        return {o for o in self.options()
                if o[o.index("(") + 1:-1] not in self.bound[o[:o.index("(")]]}


def _option_faults(found: _Options, allowed: dict[str, str]) -> list[str]:
    """What is wrong with ``allowed`` against the options ``found``."""
    unset = found.unset()
    gone = sorted(allowed.keys() - found.options())
    faults = [f"only tests set {o}: make it its default or a value worked "
              "out from the inputs, or list it in ALLOWED_OPTIONS with one "
              f"of the reasons {OPTION_REASONS}"
              for o in sorted(unset - allowed.keys())]
    faults += [f"ALLOWED_OPTIONS names a gone option: {o}" for o in gone]
    faults += [f"ALLOWED_OPTIONS names an option a caller sets: {o}"
               for o in sorted(allowed.keys() - unset - set(gone))]
    faults += [f"ALLOWED_OPTIONS gives no allowed reason for {o}"
               for o, why in sorted(allowed.items())
               if not why.startswith(OPTION_REASONS)]
    return faults


def test_every_option_has_a_non_test_caller() -> None:
    faults = _option_faults(_Options(_Library(LIB), CALLERS),
                            ALLOWED_OPTIONS)
    assert not faults, "\n".join(faults)


@pytest.fixture
def optioned(tmp_path: Path) -> tuple[Path, list[Path]]:
    """A library function with three options: ``limit`` bound by
    position, ``exact`` through a wrapper's ``**kw``, and ``mode``
    that only a test would set (the caller passes its default)."""
    lib = tmp_path / PKG
    (lib / "plans").mkdir(parents=True)
    (lib / "__init__.py").write_text("")
    (lib / "plans" / "__init__.py").write_text("")
    (lib / "plans" / "a.py").write_text(
        "def scan(df, limit=10, *, exact=False, mode='fast'):\n"
        "    return df\n\n\n"
        "def scan_all(df, **kw):\n    return scan(df, **kw)\n")
    caller = tmp_path / "caller.py"
    caller.write_text(
        f"from {PKG}.plans.a import scan, scan_all\n\n"
        "scan([], 5, mode='fast')\nscan_all([], exact=True)\n")
    return lib, [caller]


def test_options_pass_flags_only_a_test_set_option(optioned) -> None:
    found = _Options(_Library(optioned[0]), optioned[1])
    assert found.options() == {"plans/a.py::scan(limit)",
                               "plans/a.py::scan(exact)",
                               "plans/a.py::scan(mode)"}
    assert found.unset() == {"plans/a.py::scan(mode)"}
    assert _option_faults(found, {
        "plans/a.py::scan(mode)": "cost bound: the fixture's"}) == []
    assert len(_option_faults(found, {})) == 1
    stale = _option_faults(found, {
        "plans/a.py::scan(mode)": "policy: the fixture's",
        "plans/a.py::scan(exact)": "policy: set through **kw"})
    assert stale == ["ALLOWED_OPTIONS names an option a caller sets: "
                     "plans/a.py::scan(exact)"]
    gone = _option_faults(found, {
        "plans/a.py::scan(mode)": "policy: the fixture's",
        "plans/a.py::scan(depth)": "policy: no such option"})
    assert gone == ["ALLOWED_OPTIONS names a gone option: "
                    "plans/a.py::scan(depth)"]
    unreasoned = _option_faults(found, {
        "plans/a.py::scan(mode)": "handy in tests"})
    assert unreasoned == ["ALLOWED_OPTIONS gives no allowed reason for "
                          "plans/a.py::scan(mode)"]
