"""Regrowth guard: every top-level definition in ``cerberus_cpp_spark/``
must be reached from outside ``tests/``.

A definition is reached when its name occurs, outside its own
definition, in a non-test caller: the library itself, the query
contract (``__spark_entry__.py``), ``perfbench/`` or the bench
scripts. Occurrences count in code and in string literals (SQL text,
worker-side imports, docstrings), not in comments. Library code that
only its own tests call is deleted together with those tests; the few
definitions that tests need as fixtures or oracles are listed in
``ALLOWED`` with the reason they stay.
"""

from __future__ import annotations

import ast
import re
import tokenize
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
LIB = ROOT / "cerberus_cpp_spark"
CALLERS = (
    sorted(LIB.rglob("*.py"))
    + [ROOT / n for n in ("__spark_entry__.py", "bench.py",
                          "bench_extra.py", "scaling_bench.py")]
    + sorted((ROOT / "perfbench").rglob("*.py"))
)

# "<module path under cerberus_cpp_spark>::<name>" -> why it stays.
ALLOWED = {
    "sources/webpcodec.py::encode_webp_lz77":
        "fixture: encodes the LZ77 lossless inputs of the WebP decoder "
        "tests",
    "sources/libwebp.py::encode_rgba":
        "fixture: libwebp lossy encoder building VP8 decoder inputs",
    "sources/libwebp.py::encode_lossless_rgba":
        "fixture: libwebp lossless encoder building VP8L decoder inputs",
    "sources/libwebp.py::decode_yuv_ex":
        "oracle: libwebp's YUV planes that the from-scratch VP8 decoder "
        "is compared against",
    "sources/textgen.py::synthetic_docs":
        "fixture: synthetic corpus of the dedup scale tests",
    "sources/textgen.py::planted_exact_pairs":
        "fixture: the exact-duplicate pairs planted in synthetic_docs",
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

_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def _occurrences() -> dict[str, list[tuple[Path, int]]]:
    """name -> every (file, line) of the callers where it occurs."""
    out: dict[str, list[tuple[Path, int]]] = defaultdict(list)
    for path in CALLERS:
        with open(path, "rb") as f:
            for tok in tokenize.tokenize(f.readline):
                if tok.type == tokenize.NAME:
                    out[tok.string].append((path, tok.start[0]))
                elif tok.type == tokenize.STRING:
                    for m in _IDENT.finditer(tok.string):
                        out[m.group()].append((path, tok.start[0]))
    return out


def _definitions():
    """(key, file, first line, last line) of every top-level name."""
    for path in sorted(LIB.rglob("*.py")):
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                 ast.ClassDef)):
                names = [node.name]
            elif isinstance(node, (ast.Assign, ast.AnnAssign)):
                targets = (node.targets if isinstance(node, ast.Assign)
                           else [node.target])
                names = [n.id for t in targets for n in ast.walk(t)
                         if isinstance(n, ast.Name)]
            else:
                continue
            lo = min([node.lineno] + [d.lineno for d in getattr(
                node, "decorator_list", [])])
            for name in names:
                if not (name.startswith("__") and name.endswith("__")):
                    key = f"{path.relative_to(LIB).as_posix()}::{name}"
                    yield key, path, lo, node.end_lineno


def _unreached() -> set[str]:
    occ = _occurrences()
    return {
        key for key, path, lo, hi in _definitions()
        if not any(p != path or not lo <= line <= hi
                   for p, line in occ.get(key.split("::")[1], ()))
    }


def test_every_definition_has_a_non_test_caller() -> None:
    unreached = _unreached()
    extra = sorted(unreached - ALLOWED.keys())
    assert not extra, (
        f"only tests reach {extra}: delete them with their tests, or "
        "list a fixture or oracle in ALLOWED with its reason")
    stale = sorted(ALLOWED.keys() - unreached)
    assert not stale, f"ALLOWED names a caller-reached or gone {stale}"
