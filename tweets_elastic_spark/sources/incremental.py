"""Durable keyset watermark for incremental ingestion (SURVEY §2.1 S3).

The reference paginates with a keyset loop — ``WHERE c.id > last_id ORDER BY
c.id LIMIT n`` (src/main.py:98-100,118-124) — holding ``last_id`` as its
only checkpoint state (src/main.py:143). ``WatermarkStore`` is that variable
made durable: ``pipeline.etl_increment`` reads it, documents the page past
it and advances it, and ``indexing.index_increment`` keeps its own entry
the same way. At 100 TB: the watermark predicate prunes row groups via
parquet min/max stats, so an increment touches only new files — no
full-table rescan.
"""

from __future__ import annotations

import json
import os


class WatermarkStore:
    """Durable high-water mark per (table, key) — the reference's
    ``last_id`` (src/main.py:143) as a tiny JSON checkpoint."""

    def __init__(self, path: str):
        self.path = path

    def get(self, name: str, default: int = -1) -> int:
        if not os.path.exists(self.path):
            return default
        with open(self.path) as f:
            return json.load(f).get(name, default)

    def set(self, name: str, value: int) -> None:
        state = {}
        if os.path.exists(self.path):
            with open(self.path) as f:
                state = json.load(f)
        state[name] = value
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(state, f)
        os.replace(tmp, self.path)

