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
