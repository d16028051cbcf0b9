"""Every engine module is reachable from a runtime entry point.

"Reachable" means imported, directly or transitively, from one of the
two pipelines, the CLI, the query registry or the benchmark harness. A
module that only its own tests import is dead weight: delete it rather
than let it drift. The walk is static (AST imports, function-local ones
included, plus each imported module's parent packages), so it needs no
Spark session.
"""

from __future__ import annotations

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "nahuatl_data_pipeline_spark"

ROOTS = (
    f"{PKG}.pipeline",
    f"{PKG}.plans.curation_pipeline",
    f"{PKG}.cli",
    f"{PKG}.__main__",
    f"{PKG}.registry",
)


def _module_path(name: str) -> str | None:
    base = os.path.join(REPO, *name.split("."))
    for path in (base + ".py", os.path.join(base, "__init__.py")):
        if os.path.isfile(path):
            return path
    return None


def _with_parents(name: str) -> list[str]:
    parts = name.split(".")
    return [".".join(parts[:i]) for i in range(1, len(parts) + 1)]


def _imports(name: str, path: str) -> set[str]:
    """Modules ``name`` imports: each target, its parent packages, and
    ``from pkg import sub`` submodules."""
    is_pkg = path.endswith("__init__.py")
    package = name if is_pkg else name.rpartition(".")[0]
    found: set[str] = set()
    for node in ast.walk(ast.parse(open(path, encoding="utf-8").read())):
        if isinstance(node, ast.Import):
            for alias in node.names:
                found.update(_with_parents(alias.name))
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                anchor = package.split(".")[: len(package.split(".")) - node.level + 1]
                base = ".".join(anchor + ([node.module] if node.module else []))
            else:
                base = node.module
            found.update(_with_parents(base))
            found.update(f"{base}.{alias.name}" for alias in node.names)
    return {m for m in found if _module_path(m)}


def _perfbench_roots() -> list[str]:
    folder = os.path.join(REPO, "perfbench")
    return [
        f"perfbench.{f[:-3]}"
        for f in sorted(os.listdir(folder))
        if f.endswith(".py") and f != "__init__.py"
    ]


def reachable() -> set[str]:
    seen: set[str] = set()
    todo = [m for root in (*ROOTS, *_perfbench_roots()) for m in _with_parents(root)]
    while todo:
        name = todo.pop()
        path = _module_path(name)
        if name in seen or path is None:
            continue
        seen.add(name)
        todo.extend(_imports(name, path) - seen)
    return seen


def engine_modules() -> set[str]:
    out = set()
    for dirpath, _, files in os.walk(os.path.join(REPO, PKG)):
        rel = os.path.relpath(dirpath, REPO).replace(os.sep, ".")
        for f in files:
            if f == "__init__.py":
                out.add(rel)
            elif f.endswith(".py"):
                out.add(f"{rel}.{f[:-3]}")
    return out


def test_every_engine_module_is_reachable():
    unreached = sorted(engine_modules() - reachable())
    assert not unreached, (
        "engine modules no pipeline, CLI command, query or benchmark "
        f"imports (delete them with their tests): {unreached}"
    )
