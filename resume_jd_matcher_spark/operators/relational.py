"""Relational scale helpers (SURVEY.md §4: "persist embeddings;
incremental append").

Most relational operators ARE the DataFrame API (the queries use it
directly); what lives here are the patterns that need deliberate
plan-shaping at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def incremental_append(
    existing: DataFrame,
    incoming: DataFrame,
    key_col: str,
) -> DataFrame:
    """Incremental upsert-shape append: keep every existing row, add
    only incoming rows whose key is unseen (left-anti). This is the
    engine fix for the reference's per-request full re-embedding
    (app.py:86,160): embed once, persist, append the delta.
    """
    fresh = incoming.join(existing, key_col, "left_anti")
    return existing.unionByName(fresh)
