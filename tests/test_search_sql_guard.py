"""Static guard, read from the source with ``ast`` (no imports run): every
query node in plans/search.py renders SQL text (``predicate_sql`` /
``score_sql``) and none builds its own Columns by overriding
``predicate``/``score``, which the base class defines once by parsing
the node's SQL."""

from __future__ import annotations

import ast
from pathlib import Path

SEARCH = Path(__file__).resolve().parent.parent / "tweets_elastic_spark" / "plans" / "search.py"
# Query subclasses still built from Columns; this list may only shrink.
COLUMN_BUILT: frozenset[str] = frozenset()


def _query_classes(tree: ast.Module) -> dict[str, ast.ClassDef]:
    """Every class (at any depth) deriving, directly or not, from Query."""
    classes = {c.name: c for c in ast.walk(tree) if isinstance(c, ast.ClassDef)}

    def derives(name: str, seen=()) -> bool:
        c = classes.get(name)
        if c is None or name in seen:
            return False
        bases = [b.id for b in c.bases if isinstance(b, ast.Name)]
        return "Query" in bases or any(derives(b, seen + (name,)) for b in bases)

    return {n: c for n, c in classes.items() if n != "Query" and derives(n)}


def test_query_nodes_render_sql():
    nodes = _query_classes(ast.parse(SEARCH.read_text(), str(SEARCH)))
    assert {"Bool", "FunctionScore", "Nested", "BM25Match", "Intervals"} <= set(nodes)
    overriding = sorted(
        name for name, c in nodes.items()
        for f in c.body
        if isinstance(f, ast.FunctionDef) and f.name in ("predicate", "score")
    )
    assert sorted(set(overriding) - COLUMN_BUILT) == [], (
        "render the node's SQL in predicate_sql/score_sql instead of "
        f"overriding predicate/score: {overriding}")
    # an exemption whose node renders SQL now (or is gone) leaves the list
    assert COLUMN_BUILT <= set(overriding)
