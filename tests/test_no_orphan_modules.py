"""Every library module is reachable from the program: each module under
the operator, function, plan and source packages must be
imported by some other non-test module of the package, by ``perfbench/``,
by ``bench.py``, by a ``tools/`` script or by ``__spark_entry__.py``. A
module only its own tests import is dead code that every tier-1 run
still pays for. The same holds one level down: every public top-level
function or class of those modules must be imported by name, read as an
attribute of its module, or used by another definition in its own
module, apart from a pinned list of test-only definitions that may only
shrink. And every ``tools/`` script is itself imported by a test or run
by the verify skill (``.claude/skills/verify/SKILL.md``).

Pure import-graph check: parses source with ``ast``, imports nothing
and starts no SparkSession.
"""

from __future__ import annotations

import ast
import glob
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "resume_jd_matcher_spark"
LIBRARY_PACKAGES = ("operators", "functions", "plans", "sources")


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
        + [os.path.join(REPO, "bench.py"), os.path.join(REPO, "__spark_entry__.py")]
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


# Public library definitions that only tests reach today. Each one goes
# when its test-only caller is deleted or a program path starts using
# it; the list may only shrink.
TEST_ONLY_DEFINITIONS = {
    "operators.similarity": {"topk_similarity"},
    "sources.io": {"decode_documents"},
}


def _parse(path: str) -> ast.Module:
    with open(path) as f:
        return ast.parse(f.read(), path)


def _program_references(tree: ast.Module) -> set[tuple[str, str]]:
    """``(module, name)`` pairs a program file takes from library
    modules: imported by name (``from module import name``), or read as
    an attribute of the module object (``import module as m; m.name``
    or ``from pkg import mod; mod.name``)."""
    aliases: dict[str, str] = {}
    refs: set[tuple[str, str]] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            aliases.update((a.asname, a.name) for a in node.names if a.asname)
        elif isinstance(node, ast.ImportFrom) and node.module and not node.level:
            for a in node.names:
                refs.add((node.module, a.name))
                aliases[a.asname or a.name] = f"{node.module}.{a.name}"
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Attribute)
            and isinstance(node.value, ast.Name)
            and node.value.id in aliases
        ):
            refs.add((aliases[node.value.id], node.attr))
    return refs


def _used_within(tree: ast.Module, defn: ast.AST) -> bool:
    """Whether another part of its own module names ``defn``."""
    return any(
        isinstance(n, ast.Name)
        and n.id == defn.name
        and not defn.lineno <= n.lineno <= defn.end_lineno
        for n in ast.walk(tree)
    )


def test_every_public_library_definition_has_a_program_caller():
    refs_by_file = {
        _module_name(p): _program_references(_parse(p))
        for p in _importers()
        if not os.path.basename(p).startswith("test_")
    }
    test_only: dict[str, set[str]] = {}
    for sub in LIBRARY_PACKAGES:
        for path in glob.glob(os.path.join(REPO, PKG, sub, "*.py")):
            module = _module_name(path)
            tree = _parse(path)
            referenced = {
                name
                for me, refs in refs_by_file.items()
                if me != module
                for mod, name in refs
                if mod == module
            }
            for defn in tree.body:
                if (
                    isinstance(defn, (ast.FunctionDef, ast.ClassDef))
                    and not defn.name.startswith("_")
                    and defn.name not in referenced
                    and not _used_within(tree, defn)
                ):
                    short = module.removeprefix(f"{PKG}.")
                    test_only.setdefault(short, set()).add(defn.name)
    unpinned = {
        m: sorted(names - TEST_ONLY_DEFINITIONS.get(m, set()))
        for m, names in test_only.items()
        if names - TEST_ONLY_DEFINITIONS.get(m, set())
    }
    assert not unpinned, (
        f"public library definitions no program code uses (delete them, "
        f"or wire them into a caller): {unpinned}"
    )
    stale = {
        m: sorted(names - test_only.get(m, set()))
        for m, names in TEST_ONLY_DEFINITIONS.items()
        if names - test_only.get(m, set())
    }
    assert not stale, (
        f"pinned test-only definitions that were deleted or gained a "
        f"program caller (drop them from TEST_ONLY_DEFINITIONS): {stale}"
    )


def test_every_tool_is_imported_by_a_test_or_run_by_the_verify_skill():
    with open(os.path.join(REPO, ".claude", "skills", "verify", "SKILL.md")) as f:
        skill = f.read()
    test_imports: set[str] = set()
    for path in glob.glob(os.path.join(REPO, "tests", "*.py")):
        test_imports |= _imported_modules(path)
    tools = [
        os.path.basename(p)[: -len(".py")]
        for p in glob.glob(os.path.join(REPO, "tools", "*.py"))
    ]
    assert tools, "no tools found"
    unused = sorted(
        t for t in tools if t not in test_imports and f"tools/{t}.py" not in skill
    )
    assert not unused, (
        f"tools/ scripts no test imports and the verify skill does not run "
        f"(delete them, or give them a caller): {unused}"
    )
