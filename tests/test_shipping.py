"""The executor-side import bootstrap (``functions/shipping.py``)."""

from __future__ import annotations

import ast
import json
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
LIB = ROOT / "cerberus_cpp_spark"

#: runs in a fresh interpreter, so the test process's heap is never
#: frozen; prints what it saw as one JSON object
PRELUDE_PROBE = """
import gc, json, sys, weakref, zipfile, zipimport
sys.path.insert(0, sys.argv[1])
from cerberus_cpp_spark.functions.shipping import task_prelude

def zip_finders():
    return any(isinstance(f, zipimport.zipimporter)
               for f in sys.path_importer_cache.values())

archive = sys.argv[2]
with zipfile.ZipFile(archive, "w") as z:
    z.writestr("zipped_pair/__init__.py", "")
    z.writestr("zipped_pair/first.py", "VALUE = 1\\n")
    z.writestr("zipped_pair/second.py", "VALUE = 2\\n")
sys.path.insert(0, archive)
from zipped_pair import first
out = {"first": first.VALUE, "finders_before": zip_finders(),
       "frozen_before": gc.get_freeze_count()}
task_prelude()
out["finders_after"] = zip_finders()
out["frozen_first"] = gc.get_freeze_count()
next_task = [[] for _ in range(10)]  # built before the next prelude
task_prelude()
out["frozen_again"] = gc.get_freeze_count()
from zipped_pair import second  # a new module, its finder made anew
out["second"] = second.VALUE
task_prelude()
out["frozen_after_import"] = gc.get_freeze_count()

class Node:
    pass

a, b = Node(), Node()
a.peer, b.peer = b, a
gone = weakref.ref(a)
del a, b
gc.collect()
out["cycle_reclaimed"] = gone() is None
print(json.dumps(out))
"""


@pytest.fixture(scope="module")
def prelude(tmp_path_factory) -> dict:
    archive = tmp_path_factory.mktemp("prelude") / "zipped_pair.zip"
    done = subprocess.run(
        [sys.executable, "-c", PRELUDE_PROBE, str(ROOT), str(archive)],
        capture_output=True, text=True, timeout=120, check=True)
    return json.loads(done.stdout)


def test_task_prelude_freezes_once_per_module_set(prelude) -> None:
    """The first call freezes the heap; a call with no new import
    freezes nothing more; after an import the next call freezes
    again."""
    assert prelude["frozen_before"] == 0
    assert prelude["frozen_first"] > 0
    assert prelude["frozen_again"] == prelude["frozen_first"]
    assert prelude["frozen_after_import"] > prelude["frozen_again"]


def test_task_prelude_leaves_new_cycles_collectable(prelude) -> None:
    assert prelude["cycle_reclaimed"]


def test_task_prelude_keeps_zip_imports_working(prelude) -> None:
    """The prelude drops the zip finders; an import from the zip after
    it still works, because the finder comes back on demand."""
    assert prelude["first"] == 1 and prelude["finders_before"]
    assert not prelude["finders_after"]
    assert prelude["second"] == 2


#: the DataFrame methods that run a Python function in a worker
WORKER_METHODS = {"mapInPandas", "mapInArrow", "applyInPandas"}


def _own(fn: ast.AST) -> list[ast.AST]:
    """The nodes of ``fn``'s own statements, nested definitions left
    out but listed themselves."""
    out, todo = [], list(fn.body)
    while todo:
        node = todo.pop()
        out.append(node)
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                             ast.Lambda, ast.ClassDef)):
            continue
        todo.extend(ast.iter_child_nodes(node))
    return out


def _runs_prelude(fn: ast.AST, helpers: dict[str, ast.AST]) -> bool:
    """Whether ``fn`` calls ``task_prelude()``, itself or through a
    function of ``helpers`` that it calls by name."""
    seen, todo = set(), [fn]
    while todo:
        f = todo.pop()
        if id(f) in seen:
            continue
        seen.add(id(f))
        for node in _own(f):
            if not isinstance(node, ast.Call):
                continue
            if ast.unparse(node) == "task_prelude()":
                return True
            if isinstance(node.func, ast.Name) and node.func.id in helpers:
                todo.append(helpers[node.func.id])
    return False


def test_every_worker_closure_runs_the_task_prelude() -> None:
    """Every function the library hands to ``mapInPandas``,
    ``mapInArrow`` or ``applyInPandas``, and every function that puts
    ``pkg_parent`` on ``sys.path``, runs the task prelude, itself or
    through a helper defined beside it, so its tasks re-read no zip
    directory and the daemon's per-task collection walks no imported
    module."""
    workers, bootstraps, missing = 0, 0, []
    for path in sorted(LIB.rglob("*.py")):
        for scope in ast.walk(ast.parse(path.read_text())):
            if not isinstance(scope, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            own = _own(scope)
            defs = {f.name: f for f in own
                    if isinstance(f, (ast.FunctionDef, ast.AsyncFunctionDef))}
            calls = [n for n in own if isinstance(n, ast.Call)]
            if "sys.path.insert(0, pkg_parent)" in map(ast.unparse, calls):
                bootstraps += 1
                if not _runs_prelude(scope, {}):
                    missing.append(f"{path.relative_to(LIB)}::{scope.name}")
            for call in calls:
                if not (isinstance(call.func, ast.Attribute)
                        and call.func.attr in WORKER_METHODS):
                    continue
                workers += 1
                arg = call.args[0] if call.args else None
                if not (isinstance(arg, ast.Name) and arg.id in defs
                        and _runs_prelude(defs[arg.id], defs)):
                    missing.append(f"{path.relative_to(LIB)}:{call.lineno}")
    assert not missing
    assert workers >= 58 and bootstraps >= 57
