"""Static import-graph guards, read from the source with ``ast`` (no imports
run): the query-language modules import each other at module top, never
inside a function; the package's import-time graph has no cycle, so a
cycle can neither hide behind a lazy import nor break a fresh import; and
every module has a caller outside the tests."""

from __future__ import annotations

import ast
from pathlib import Path

PKG = "tweets_elastic_spark"
REPO = Path(__file__).resolve().parent.parent
ROOT = REPO / PKG
# code that calls the package besides the package itself
CALLERS = ["perfbench", "scripts", "bench.py", "__spark_entry__.py"]
# the tests' data generator: the one module only tests are meant to import
TEST_ONLY = {f"{PKG}.sources.fixtures"}


def _module_name(path: Path) -> str:
    parts = path.relative_to(REPO).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _modules() -> dict[str, ast.Module]:
    return {_module_name(path): ast.parse(path.read_text(), str(path))
            for path in ROOT.rglob("*.py")}


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


def test_every_module_has_a_caller_outside_tests():
    """Each module is imported by package code, the benchmarks, the scripts
    or the driver entry point, not by tests alone."""
    sources = {path: _module_name(path) for path in ROOT.rglob("*.py")}
    for caller in map(REPO.joinpath, CALLERS):
        for path in sorted(caller.rglob("*.py")) if caller.is_dir() else [caller]:
            if "tests" not in path.relative_to(REPO).parts:
                sources[path] = None
    imported = set()
    for path, own in sources.items():
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            for dotted in _imported(node):
                # importing a submodule imports its parent packages too
                while dotted:
                    if dotted != own:
                        imported.add(dotted)
                    dotted = dotted.rpartition(".")[0]
    assert sorted(set(_modules()) - imported - TEST_ONLY - {PKG}) == []
