"""Every library module is reachable from the program: each module under
the operator, streaming, function, plan and source packages must be
imported by some other non-test module of the package, by ``perfbench/``,
by a ``tools/`` script or by ``__spark_entry__.py``. A module only its
own tests import is dead code that every tier-1 run still pays for.
(``sources/synthdocs.py`` is the one library module only a tool uses:
it generates the scale-curve corpus for ``tools/scale_curve.py``.)

Pure import-graph check: parses source with ``ast``, imports nothing
and starts no SparkSession.
"""

from __future__ import annotations

import ast
import glob
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "resume_jd_matcher_spark"
LIBRARY_PACKAGES = ("operators", "streaming", "functions", "plans", "sources")


def _module_name(path: str) -> str:
    rel = os.path.relpath(path, REPO)[: -len(".py")]
    return rel.replace(os.sep, ".").removesuffix(".__init__")


def _imported_modules(path: str) -> set[str]:
    """Dotted names a file imports, including ``from pkg import mod``
    spelled as ``pkg.mod`` (the name may be a module or an attribute)."""
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    names: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom) and node.module and not node.level:
            names.add(node.module)
            names.update(f"{node.module}.{a.name}" for a in node.names)
    return names


def _importers() -> list[str]:
    return (
        glob.glob(os.path.join(REPO, PKG, "**", "*.py"), recursive=True)
        + glob.glob(os.path.join(REPO, "perfbench", "*.py"))
        + glob.glob(os.path.join(REPO, "tools", "*.py"))
        + [os.path.join(REPO, "__spark_entry__.py")]
    )


def test_every_library_module_has_a_non_test_importer():
    imported_by: dict[str, set[str]] = {}
    for path in _importers():
        if os.path.basename(path).startswith("test_"):
            continue
        me = _module_name(path)
        for name in _imported_modules(path):
            imported_by.setdefault(name, set()).add(me)

    library = [
        _module_name(p)
        for sub in LIBRARY_PACKAGES
        for p in glob.glob(os.path.join(REPO, PKG, sub, "*.py"))
        if os.path.basename(p) != "__init__.py"
    ]
    assert library, "no library modules found"
    orphans = sorted(m for m in library if not imported_by.get(m, set()) - {m})
    assert not orphans, (
        f"modules no program code imports (delete them, or wire them "
        f"into a caller): {orphans}"
    )
