"""Static import-graph guards, read from the source with ``ast`` (no imports
run): the query-language modules import each other at module top, never
inside a function, and the package's import-time graph has no cycle, so a
cycle can neither hide behind a lazy import nor break a fresh import."""

from __future__ import annotations

import ast
from pathlib import Path

PKG = "tweets_elastic_spark"
ROOT = Path(__file__).resolve().parent.parent / PKG


def _modules() -> dict[str, ast.Module]:
    out = {}
    for path in ROOT.rglob("*.py"):
        parts = path.relative_to(ROOT.parent).with_suffix("").parts
        name = ".".join(parts[:-1] if parts[-1] == "__init__" else parts)
        out[name] = ast.parse(path.read_text(), str(path))
    return out


def _imported(node: ast.AST) -> list[str]:
    """The package names an import statement names (each ``from m import x``
    as ``m.x``, which resolves to submodule ``x`` when there is one)."""
    if isinstance(node, ast.Import):
        return [a.name for a in node.names if a.name.startswith(PKG)]
    if isinstance(node, ast.ImportFrom) and (node.module or "").startswith(PKG):
        return [f"{node.module}.{a.name}" for a in node.names]
    return []


def _import_time(node: ast.AST):
    """Import statements that run when the module is imported: everything
    outside function bodies."""
    for child in ast.iter_child_nodes(node):
        if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
            continue
        if isinstance(child, (ast.Import, ast.ImportFrom)):
            yield child
        yield from _import_time(child)


def test_plans_have_no_in_function_package_imports():
    lazy = []
    for name, tree in _modules().items():
        if not name.startswith(f"{PKG}.plans"):
            continue
        for fn in ast.walk(tree):
            if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                lazy += [f"{name}:{n.lineno} in {fn.name}()" for n in ast.walk(fn)
                         if _imported(n)]
    assert lazy == []


def test_package_import_graph_has_no_cycle():
    modules = _modules()

    def resolve(dotted: str) -> str:
        while dotted not in modules:
            dotted = dotted.rpartition(".")[0]
        return dotted

    graph = {
        name: {resolve(d) for n in _import_time(tree) for d in _imported(n)} - {name}
        for name, tree in modules.items()
    }
    # the walk sees top-level imports
    assert f"{PKG}.plans.search" in graph[f"{PKG}.plans.joinfield"]
    state: dict[str, int] = {}  # 1 = on the current path, 2 = done

    def visit(name: str, path: list[str]) -> None:
        state[name] = 1
        for dep in sorted(graph[name]):
            assert state.get(dep) != 1, " -> ".join(path + [name, dep])
            if dep not in state:
                visit(dep, path + [name])
        state[name] = 2

    for name in sorted(graph):
        if name not in state:
            visit(name, [])
