"""Static guard, read from the source with ``ast`` (no imports run): the
interval surfaces in plans/ and rollup.py take their unit widths from
functions/time_units.py, so neither module spells an hour or a day in
seconds (a private seconds table is how the surfaces came to disagree on
which spellings they accept)."""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

PKG = Path(__file__).resolve().parent.parent / "tweets_elastic_spark"
SOURCES = sorted((PKG / "plans").glob("*.py")) + [PKG / "rollup.py"]
WIDTHS = {3600, 86400}


@pytest.mark.parametrize("path", SOURCES, ids=lambda p: p.relative_to(PKG).as_posix())
def test_no_seconds_table_outside_time_units(path):
    lines = [
        node.lineno for node in ast.walk(ast.parse(path.read_text(), str(path)))
        if isinstance(node, ast.Constant) and type(node.value) is int
        and node.value in WIDTHS
    ]
    assert lines == [], (
        f"{path.name} spells an hour or a day in seconds on lines {lines}; "
        "read the unit through functions/time_units.py")
