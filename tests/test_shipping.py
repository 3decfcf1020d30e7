"""The executor-side import bootstrap (``functions/shipping.py``)."""

from __future__ import annotations

import ast
import sys
import zipfile
import zipimport
from pathlib import Path

from cerberus_cpp_spark.functions.shipping import drop_zip_finders

LIB = Path(__file__).resolve().parents[1] / "cerberus_cpp_spark"


def test_drop_zip_finders_keeps_zip_imports_working(tmp_path) -> None:
    archive = tmp_path / "zipped_pair.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zipped_pair/__init__.py", "")
        z.writestr("zipped_pair/first.py", "VALUE = 1\n")
        z.writestr("zipped_pair/second.py", "VALUE = 2\n")
    sys.path.insert(0, str(archive))
    try:
        from zipped_pair import first
        assert first.VALUE == 1
        assert any(isinstance(f, zipimport.zipimporter)
                   for f in sys.path_importer_cache.values())
        drop_zip_finders()
        assert not any(isinstance(f, zipimport.zipimporter)
                       for f in sys.path_importer_cache.values())
        from zipped_pair import second  # the finder comes back on demand
        assert second.VALUE == 2
    finally:
        sys.path.remove(str(archive))
        for name in ("zipped_pair", "zipped_pair.first",
                     "zipped_pair.second"):
            sys.modules.pop(name, None)


def _calls(fn: ast.AST) -> list[str]:
    """The calls of ``fn``'s own statements as source text, nested
    definitions left out."""
    out, todo = [], list(fn.body)
    while todo:
        node = todo.pop()
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                             ast.Lambda, ast.ClassDef)):
            continue
        if isinstance(node, ast.Call):
            out.append(ast.unparse(node))
        todo.extend(ast.iter_child_nodes(node))
    return out


def test_every_worker_closure_drops_zip_finders() -> None:
    """Each library function that puts ``pkg_parent`` on ``sys.path``
    (a worker closure re-importing the package) also drops the zip
    finders, so its tasks re-read no zip directory."""
    closures, missing = 0, []
    for path in sorted(LIB.rglob("*.py")):
        for fn in ast.walk(ast.parse(path.read_text())):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            calls = _calls(fn)
            if "sys.path.insert(0, pkg_parent)" not in calls:
                continue
            closures += 1
            if "drop_zip_finders()" not in calls:
                missing.append(f"{path.relative_to(LIB)}::{fn.name}")
    assert closures >= 45
    assert not missing
