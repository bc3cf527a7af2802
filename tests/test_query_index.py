"""The committed QUERIES.md is exactly what ``tools/query_index.py``
renders from the live registry, so the inventory cannot drift from the
code. Regenerate with ``python tools/query_index.py``.

Imports the registry only: no SparkSession.
"""

from __future__ import annotations

import os
import sys

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(_ROOT, "tools"))

from query_index import QUERIES_MD, render  # noqa: E402


def test_queries_md_matches_registry():
    with open(QUERIES_MD) as f:
        committed = f.read()
    assert committed == render(), (
        "QUERIES.md is stale: run `python tools/query_index.py`"
    )

