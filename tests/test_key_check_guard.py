"""Static guard, read from the source with ``ast``: ``check_keys``
(plans/search.py) is the one refusal of unknown request keys in plans/.
A ``set(x) - {...}`` or ``set(x) - NAME`` whose result reaches a
``raise`` anywhere else is a second, hand-written refusal (the way a
surface came to drop keys silently: each wrote its own, and most wrote
none). Each dispatch branch of ``compile_node``, of the aggregation
readers and of ``es_retriever`` names a kind of its surface's table, so
the table lookup checks every kind the branches read."""

from __future__ import annotations

import ast
import importlib
from pathlib import Path

# the modules (the package re-exports a function named ``search``)
aggs, search = (importlib.import_module(f"tweets_elastic_spark.plans.{m}")
                for m in ("aggs", "search"))

PLANS = Path(__file__).resolve().parent.parent / "tweets_elastic_spark" / "plans"
HELPER = "check_keys"


def _is_key_diff(node: ast.AST) -> bool:
    """``set(x) - <anything but a call>``: the unknown keys of ``x``."""
    return (isinstance(node, ast.BinOp) and isinstance(node.op, ast.Sub)
            and isinstance(node.left, ast.Call)
            and isinstance(node.left.func, ast.Name)
            and node.left.func.id == "set"
            and not isinstance(node.right, ast.Call))


def _raises(stmts) -> bool:
    return any(isinstance(n, ast.Raise) for s in stmts for n in ast.walk(s))


def _refusals(fn: ast.FunctionDef) -> list[int]:
    """Lines in ``fn`` (nested functions included) where a key difference,
    directly or through the name it was bound to, decides an ``if`` that
    raises."""
    diff_names = {
        t.id
        for n in ast.walk(fn) if isinstance(n, (ast.Assign, ast.AugAssign))
        if any(_is_key_diff(v) for v in ast.walk(n.value))
        for t in (n.targets if isinstance(n, ast.Assign) else [n.target])
        if isinstance(t, ast.Name)
    }
    return [
        n.lineno for n in ast.walk(fn)
        if isinstance(n, ast.If) and _raises(n.body) and any(
            _is_key_diff(t) or (isinstance(t, ast.Name) and t.id in diff_names)
            for t in ast.walk(n.test))
    ]


def _functions(tree: ast.Module):
    for node in tree.body:
        if isinstance(node, ast.FunctionDef):
            yield node
        elif isinstance(node, ast.ClassDef):
            yield from (n for n in node.body if isinstance(n, ast.FunctionDef))


def test_check_keys_is_the_only_key_refusal():
    found = []
    for path in sorted(PLANS.glob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        for fn in _functions(tree):
            if fn.name != HELPER:
                found += [f"{path.name}:{line} ({fn.name})" for line in _refusals(fn)]
    assert found == [], f"refuse unknown keys through {HELPER}: {found}"


def _dispatched(fn: ast.AST, names: set[str]) -> set[str]:
    """String literals that ``fn`` compares a variable in ``names`` with."""
    out = set()
    for n in ast.walk(fn):
        if (isinstance(n, ast.Compare) and isinstance(n.left, ast.Name)
                and n.left.id in names):
            for c in n.comparators:
                for e in (c.elts if isinstance(c, (ast.Tuple, ast.List, ast.Set)) else [c]):
                    if isinstance(e, ast.Constant) and isinstance(e.value, str):
                        out.add(e.value)
    return out


def _named(path: Path, *names: str) -> list[ast.FunctionDef]:
    tree = ast.parse(path.read_text(), str(path))
    return [n for n in ast.walk(tree)
            if isinstance(n, ast.FunctionDef) and n.name in names]


def test_query_branches_name_table_kinds():
    (fn,) = _named(PLANS / "search.py", "compile_node")
    table = set(search._QUERY_KEYS) | set(search._FIELD_QUERY_KEYS)
    branches = _dispatched(fn, {"kind"})
    assert branches - table == set(), "add these kinds to the query tables"
    # every table kind has its branch; the last one returns MatchNone
    assert table - branches == {"match_none"}


def test_aggregation_branches_name_table_kinds():
    fns = _named(PLANS / "aggs.py", "_es_aggregate_impl", "_metric_cols",
                 "_bucket_key", "_apply_pipeline_aggs", "_tagged_nested_bucket")
    assert len(fns) == 5
    branches = set().union(*(
        _dispatched(fn, {"kind", "skind", "pkind", "sub_kind"}) for fn in fns))
    assert branches - set(aggs._AGG_KEYS) == set(), "add these kinds to _AGG_KEYS"


def test_retriever_branches_name_table_kinds():
    (fn,) = _named(PLANS / "search.py", "es_retriever")
    assert _dispatched(fn, {"kind"}) == set(search._RETRIEVER_KEYS) - {"linear"}
