"""The committed QUERIES.md is exactly what ``tools/query_index.py``
renders from the live registry, so the inventory cannot drift from the
code. Regenerate with ``python tools/query_index.py``. The other docs
and tools that list queries by name may name only registered ones.

Imports the registry only: no SparkSession.
"""

from __future__ import annotations

import ast
import json
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


def _module_literal(path: str, name: str):
    """The literal bound to ``name`` at module level, read without
    importing the module (scale_curve_rel parses sys.argv at import)."""
    with open(path) as f:
        tree = ast.parse(f.read())
    for node in tree.body:
        if isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == name for t in node.targets
        ):
            return ast.literal_eval(node.value)
    raise AssertionError(f"{path} binds no {name}")


def test_docs_and_tools_name_only_registered_queries():
    from resume_jd_matcher_spark import queries as Q

    with open(os.path.join(_ROOT, "EXPLAIN.md")) as f:
        headings = [
            line[3:].strip() for line in f if line.startswith("## ")
        ]
    with open(os.path.join(_ROOT, "PLAN_SNAPSHOT.json")) as f:
        snapshot = json.load(f)
    tools = os.path.join(_ROOT, "tools")
    named = {
        "EXPLAIN.md": headings,
        "PLAN_SNAPSHOT.json": list(snapshot),
        "explain_audit.HEADLINERS": list(
            _module_literal(os.path.join(tools, "explain_audit.py"), "HEADLINERS")
        ),
        "scale_curve_rel.REGISTERED": _module_literal(
            os.path.join(tools, "scale_curve_rel.py"), "REGISTERED"
        ),
    }
    registered = set(Q.queries())
    stale = {
        where: sorted(set(names) - registered)
        for where, names in named.items()
        if set(names) - registered
    }
    assert all(named.values())
    assert not stale, f"unregistered query names: {stale}"
