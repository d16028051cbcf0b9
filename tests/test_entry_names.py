"""Engine names used outside the engine must resolve (no Spark session).

The tools, ``bench.py``, the driver entry and perfbench reach into the
engine by name: ``from nahuatl_data_pipeline_spark.x import y`` and
``module.attr`` reads off an imported engine module. perfbench's tracer
also patches ``(module, attr)`` targets by name. None of those paths
runs in the rest of the suite, so a renamed or deleted engine function
would break them silently; this test parses them and resolves every
name.
"""

from __future__ import annotations

import ast
import glob
import importlib
import importlib.util
import os
from types import ModuleType

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "nahuatl_data_pipeline_spark"
_SCOPES = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)

FILES = sorted(
    glob.glob(os.path.join(ROOT, "tools", "*.py"))
    + glob.glob(os.path.join(ROOT, "perfbench", "*.py"))
    + [os.path.join(ROOT, "bench.py"), os.path.join(ROOT, "__spark_entry__.py")]
)


def _lookup(module: ModuleType, name: str):
    """``module.name`` as an attribute or a submodule, else None."""
    if hasattr(module, name):
        return getattr(module, name)
    sub = f"{module.__name__}.{name}"
    if hasattr(module, "__path__") and importlib.util.find_spec(sub):
        return importlib.import_module(sub)
    return None


def _own_nodes(scope: ast.AST):
    """Nodes of ``scope`` outside its nested function and class bodies."""
    todo = list(ast.iter_child_nodes(scope))
    while todo:
        node = todo.pop()
        yield node
        if not isinstance(node, _SCOPES):
            todo.extend(ast.iter_child_nodes(node))


def _check_scope(scope: ast.AST, env: dict, where: str, missing: list) -> None:
    env = dict(env)
    nodes = list(_own_nodes(scope))
    for node in nodes:
        if isinstance(node, ast.ImportFrom) and not node.level and (
            node.module or ""
        ).split(".")[0] == PKG:
            module = importlib.import_module(node.module)
            for alias in node.names:
                obj = _lookup(module, alias.name)
                if obj is None:
                    missing.append(f"{where}:{node.lineno} {node.module}.{alias.name}")
                elif isinstance(obj, ModuleType):
                    env[alias.asname or alias.name] = obj
        elif isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.split(".")[0] == PKG and alias.asname:
                    env[alias.asname] = importlib.import_module(alias.name)
    for node in nodes:
        if (
            isinstance(node, ast.Attribute)
            and isinstance(node.value, ast.Name)
            and node.value.id in env
            and _lookup(env[node.value.id], node.attr) is None
        ):
            module = env[node.value.id].__name__
            missing.append(f"{where}:{node.lineno} {module}.{node.attr}")
    for node in nodes:
        if isinstance(node, _SCOPES):
            _check_scope(node, env, where, missing)


@pytest.mark.parametrize("path", FILES, ids=lambda p: os.path.relpath(p, ROOT))
def test_engine_names_resolve(path):
    with open(path, encoding="utf-8") as fh:
        tree = ast.parse(fh.read(), path)
    missing: list[str] = []
    _check_scope(tree, {}, os.path.relpath(path, ROOT), missing)
    assert not missing


def test_perfbench_trace_targets_resolve():
    from perfbench import workloads

    targets = workloads._corpus_targets() + workloads._curation_targets()
    assert targets
    missing = [
        f"{module.__name__}.{attr}"
        for module, attr, *_ in targets
        if not callable(getattr(module, attr, None))
    ]
    assert not missing
