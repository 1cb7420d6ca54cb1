"""Static guard, read from the source with ``ast`` (no imports run): every
ES sort surface in plans/aggs.py reads its direction through one function,
``_sort_keys``, so no other function compares a value to ``"asc"`` or
``"desc"`` (an inline check is how a surface came to sort ascending on a
misspelt direction)."""

from __future__ import annotations

import ast
from pathlib import Path

AGGS = Path(__file__).resolve().parent.parent / "tweets_elastic_spark" / "plans" / "aggs.py"
READER = "_sort_keys"
DIRECTIONS = {"asc", "desc"}


def _direction_literals(node: ast.AST) -> set[str]:
    """The direction strings ``node`` holds, directly or in a tuple/list/set."""
    if isinstance(node, ast.Constant) and node.value in DIRECTIONS:
        return {node.value}
    if isinstance(node, (ast.Tuple, ast.List, ast.Set)):
        return set().union(*(_direction_literals(e) for e in node.elts))
    return set()


def _direction_compares(tree: ast.Module) -> dict[str, int]:
    """Top-level function (or ``<module>``) → its comparisons against a
    direction string, nested functions counted with their enclosing one."""
    found: dict[str, int] = {}
    for top in tree.body:
        owner = top.name if isinstance(top, (ast.FunctionDef, ast.ClassDef)) else "<module>"
        for node in ast.walk(top):
            if isinstance(node, ast.Compare) and any(
                _direction_literals(x) for x in [node.left, *node.comparators]
            ):
                found[owner] = found.get(owner, 0) + 1
    return found


def test_only_the_sort_reader_compares_directions():
    found = _direction_compares(ast.parse(AGGS.read_text(), str(AGGS)))
    assert found.get(READER), f"{READER} no longer checks the direction"
    others = sorted(set(found) - {READER})
    assert others == [], (
        f"read the sort through {READER} instead of comparing to "
        f"'asc'/'desc' in: {others}")
