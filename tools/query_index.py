"""Generate QUERIES.md from the live registry — name, one-line
description (docstring first sentence), and correctness mode — so the
query inventory can never drift from the code. Regenerate after adding
queries:

    python tools/query_index.py
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Docstrings reference module constants as plain-string placeholders
# ({_BH_Q}, {_LP_DF_CAP}, ...) — the oracle SQL beside them is an
# f-string so the SAME constant interpolates there, but making every
# docstring an f-string would force escaping the literal braces they
# also contain ({P, Q}, {0,1}). Substitute just the module-constant
# tokens here instead (r9 ADVICE item #2).
QUERIES_MD = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "..", "QUERIES.md"
)

_PLACEHOLDER = re.compile(r"\{(_[A-Z][A-Z0-9_]*)\}")


def _fill(doc: str, module_globals: dict) -> str:
    return _PLACEHOLDER.sub(
        lambda m: str(module_globals.get(m.group(1), m.group(0))), doc
    )


def render() -> str:
    """QUERIES.md's text for the registry as imported."""
    from resume_jd_matcher_spark import queries as Q

    rows = []
    for name, qd in sorted(Q._REGISTRY.items()):
        doc = (qd.fn.__doc__ or "").strip().replace("\n", " ")
        doc = _fill(doc, vars(sys.modules[qd.fn.__module__]))
        while "  " in doc:
            doc = doc.replace("  ", " ")
        first = doc.split(". ")[0].rstrip(".") + "." if doc else ""
        mode = "oracle" if qd.oracle is not None else "rows-only"
        rows.append((name, mode, first))

    n_oracle = sum(1 for _, m, _ in rows if m == "oracle")
    out = [
        "# QUERIES — the registered surface (auto-generated)",
        "",
        f"{len(rows)} queries, {n_oracle} oracle-checked, "
        f"{len(rows) - n_oracle} rows-only (non-SQL-expressible by design).",
        "Regenerate: `python tools/query_index.py`. Coverage mapping to",
        "SURVEY.md §2 operators lives in `COVERAGE.md`.",
        "",
        "| query | check | what it does |",
        "|---|---|---|",
    ]
    for name, mode, first in rows:
        out.append(f"| `{name}` | {mode} | {first} |")
    return "\n".join(out) + "\n"


def main() -> None:
    from resume_jd_matcher_spark import queries as Q

    with open(QUERIES_MD, "w") as f:
        f.write(render())
    print(f"wrote QUERIES.md ({len(Q._REGISTRY)} queries)")


if __name__ == "__main__":
    main()
