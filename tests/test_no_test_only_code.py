"""Regrowth guard: every top-level definition in ``cerberus_cpp_spark/``
must be reachable from a real caller.

The real callers are the query contract (``__spark_entry__.py``),
``perfbench/``, the bench scripts (``bench.py``, ``bench_extra.py``,
``scaling_bench.py``) and the names the package exports. Every name
they use in code (a ``Name``, an ``Attribute.attr`` or an import
alias, f-string expressions included) is a root, and so is every name
used by a module-level statement of the library that is not a
definition or an import, and every ``ALLOWED`` entry. A top-level
definition is reached when its name is a root or occurs in the body of
a reached definition. Names match by bare name, so a collision can only
hide dead code, never flag live code. String literals and comments
never count: no library code looks up one of its own definitions by
string.

Library code that only its own tests reach is deleted together with
those tests; the few definitions that tests need as fixtures or oracles
are listed in ``ALLOWED`` with the reason they stay.
"""

from __future__ import annotations

import ast
from collections import defaultdict
from pathlib import Path

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


def _names(node: ast.AST) -> set[str]:
    """Every name ``node`` uses in code; string literals do not count."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.update(n.name.split("."))
            if n.asname:
                out.add(n.asname)
    return out


def _bound(node: ast.AST) -> list[str]:
    """The names a top-level definition binds."""
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                         ast.ClassDef)):
        return [node.name]
    targets = node.targets if isinstance(node, ast.Assign) else [node.target]
    return [n.id for t in targets for n in ast.walk(t)
            if isinstance(n, ast.Name)]


def _graph() -> tuple[set[str], dict[str, set[str]]]:
    """(roots, definitions): the names the real callers and the
    library's non-definition module-level statements use, and
    ``"<module>::<name>"`` of every top-level definition -> the names
    its body uses."""
    roots: set[str] = set()
    for path in CALLERS:
        roots |= _names(ast.parse(path.read_text()))
    defs: dict[str, set[str]] = {}
    for path in sorted(LIB.rglob("*.py")):
        module = path.relative_to(LIB).as_posix()
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, (ast.Import, ast.ImportFrom)):
                if module == "__init__.py":  # the package exports
                    roots |= _names(node)
                continue
            names = [n for n in (_bound(node) if isinstance(node, _DEFS)
                                 else [])
                     if not (n.startswith("__") and n.endswith("__"))]
            if not names:
                roots |= _names(node)
            for name in names:
                defs[f"{module}::{name}"] = _names(node)
    return roots, defs


def _bare(key: str) -> str:
    return key.split("::")[1]


def _reached(roots: set[str], defs: dict[str, set[str]]) -> set[str]:
    """Names reached from ``roots`` through the definitions' bodies."""
    by_name = defaultdict(list)
    for key, uses in defs.items():
        by_name[_bare(key)].append(uses)
    seen, todo = set(), list(roots)
    while todo:
        name = todo.pop()
        if name not in seen:
            seen.add(name)
            for uses in by_name[name]:
                todo.extend(uses - seen)
    return seen


def test_every_definition_has_a_non_test_caller() -> None:
    roots, defs = _graph()
    allowed = {_bare(k) for k in ALLOWED}
    reached = _reached(roots | allowed, defs)
    unreached = sorted(k for k in defs if _bare(k) not in reached)
    assert not unreached, (
        f"only tests reach {unreached}: delete them with their tests, or "
        "list a fixture or oracle in ALLOWED with its reason")
    gone = sorted(ALLOWED.keys() - defs.keys())
    assert not gone, f"ALLOWED names a gone definition: {gone}"
    stale = sorted(k for k in ALLOWED if _bare(k) in _reached(
        roots | allowed - {_bare(k)}, defs))
    assert not stale, f"ALLOWED names a definition reached without it: {stale}"
