"""Static import-graph guards, read from the source with ``ast`` (no imports
run): every import in the package sits at module top, never inside a
function, save the registry's one plugin load; only the registry touches
its own table; the package's import-time graph has no cycle, so a cycle
can neither hide behind a lazy import nor break a fresh import; every
module has a caller outside the tests; and every public function has one
too, or a MIGRATION.md row."""

from __future__ import annotations

import ast
import re
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


def _caller_files() -> list[Path]:
    """The package and the non-test code in CALLERS."""
    files = sorted(ROOT.rglob("*.py"))
    for caller in map(REPO.joinpath, CALLERS):
        for path in sorted(caller.rglob("*.py")) if caller.is_dir() else [caller]:
            if "tests" not in path.relative_to(REPO).parts:
                files.append(path)
    return files


# registry._ensure_loaded imports the query modules, which import the
# registry to register themselves: the one import that must wait for a call
IMPORT_IN_FUNCTION_OK = {f"{PKG}.registry:_ensure_loaded"}


def test_no_import_inside_a_function():
    lazy, exempt = set(), set()
    for name, tree in _modules().items():
        for fn in ast.walk(tree):
            if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                site = f"{name}:{fn.name}"
                for n in ast.walk(fn):
                    if isinstance(n, (ast.Import, ast.ImportFrom)):
                        (exempt if site in IMPORT_IN_FUNCTION_OK else lazy).add(
                            f"{name}:{n.lineno} in {fn.name}()")
    assert exempt  # the exemption names a real import
    assert sorted(lazy) == []


def test_only_the_registry_touches_its_table():
    """Queries register through ``register``; no module reads or patches
    ``_REGISTRY`` after the fact."""
    touching = sorted(
        name for name, tree in _modules().items()
        if name != f"{PKG}.registry" and any(
            getattr(n, "id", getattr(n, "attr", getattr(n, "name", None)))
            == "_REGISTRY" for n in ast.walk(tree))
    )
    assert touching == []


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
    imported = set()
    for path in _caller_files():
        own = _module_name(path) if path.is_relative_to(ROOT) else None
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            for dotted in _imported(node):
                # importing a submodule imports its parent packages too
                while dotted:
                    if dotted != own:
                        imported.add(dotted)
                    dotted = dotted.rpartition(".")[0]
    assert sorted(set(_modules()) - imported - TEST_ONLY - {PKG}) == []


def _named(tree: ast.AST) -> set[str]:
    """Every name a module uses: Name and Attribute nodes, import aliases
    and string constants (``getattr`` targets, dispatch tables)."""
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            out.add(node.id)
        elif isinstance(node, ast.Attribute):
            out.add(node.attr)
        elif isinstance(node, ast.alias):
            out.add(node.name.rpartition(".")[2])
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            out.add(node.value)
    return out


def _migration_code_names() -> set[str]:
    """Identifiers in MIGRATION.md's code: its fenced blocks and its
    backtick spans. The fences go first, so that a fenced block's own
    backticks do not shift the pairing of the spans after it."""
    text = (REPO / "MIGRATION.md").read_text()
    fences = re.findall(r"^```.*?^```", text, flags=re.M | re.S)
    prose = re.sub(r"^```.*?^```", "", text, flags=re.M | re.S)
    code = fences + re.findall(r"`([^`]+)`", prose)
    return {w for c in code for w in re.findall(r"[A-Za-z_]\w*", c)}


def _is_query(fn: ast.FunctionDef) -> bool:
    for deco in fn.decorator_list:
        target = deco.func if isinstance(deco, ast.Call) else deco
        if getattr(target, "id", getattr(target, "attr", None)) in (
                "register", "bench_variant"):
            return True
    return False


def test_every_public_function_has_a_caller_or_a_migration_row():
    """A top-level public function is named by non-test code, or MIGRATION.md
    names it as the counterpart of an ES endpoint or a reference artifact.
    MIGRATION.md is the one list of public API that only users call."""
    named = set().union(*(_named(ast.parse(p.read_text(), str(p)))
                          for p in _caller_files()))
    assert {"search", "load_table"} <= named  # the walk sees calls
    listed = _migration_code_names()
    assert "index_increment" in listed  # a row after §2's fenced block
    named |= listed
    unnamed = []
    for name, tree in _modules().items():
        if name in TEST_ONLY:
            continue
        unnamed += [f"{name}.{fn.name}" for fn in tree.body
                    if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef))
                    and not fn.name.startswith("_") and not _is_query(fn)
                    and fn.name not in named]
    assert unnamed == []
