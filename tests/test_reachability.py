"""Every public top-level package function or class is reached by code
that runs in production: package code, ``bench.py``, ``scale_bench.py``,
``perfbench/`` or ``scripts/``.

A name that only ``tests/`` reference is an implementation no query,
menu option, bench or scale path runs; it belongs in ``tests/`` or
nowhere. The scan is syntactic: a reference is any ``Name``,
``Attribute`` or imported name equal to the definition's name, outside
the definition itself and outside package ``__init__`` re-exports.
Decorated functions count as reached by their decorator (``@register``
is how a query enters the registry). Pure AST — no Spark session.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "big_data_chicago_crimes_spark"
CALLER_ROOTS = [
    PACKAGE,
    ROOT / "bench.py",
    ROOT / "scale_bench.py",
    ROOT / "perfbench",
    ROOT / "scripts",
]

# Public names kept although nothing outside tests/ references them.
# One line of reason each; an entry without a reason gets deleted, not
# listed.
ALLOWED = {
    "app.main_menu": "reference-app contract: the interactive REPL entry point",
    "render.render_reference_charts": "reference-app contract: the chart gallery",
    "plans.registry.get_query": "public registry API (look up one query by name)",
}


def _py_files(path: Path) -> list[Path]:
    return [path] if path.is_file() else sorted(path.rglob("*.py"))


def _module_name(path: Path) -> str:
    rel = path.relative_to(PACKAGE).with_suffix("")
    return ".".join(rel.parts)


def _public_defs() -> dict[str, str]:
    """qualified name (module.name) -> bare name, for every public
    undecorated top-level def/class in the package."""
    defs = {}
    for path in _py_files(PACKAGE):
        if path.name == "__init__.py":
            continue
        tree = ast.parse(path.read_text(), filename=str(path))
        for node in tree.body:
            if not isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                continue
            if node.name.startswith("_") or node.decorator_list:
                continue
            defs[f"{_module_name(path)}.{node.name}"] = node.name
    return defs


def _referenced_names() -> set[str]:
    """Every identifier a caller root mentions, outside package
    ``__init__`` re-exports and outside each name's own definition."""
    seen: set[str] = set()
    for root in CALLER_ROOTS:
        for path in _py_files(root):
            if path.name == "__init__.py" and PACKAGE in path.parents:
                continue
            tree = ast.parse(path.read_text(), filename=str(path))
            for node in ast.walk(tree):
                if isinstance(node, ast.Name):
                    seen.add(node.id)
                elif isinstance(node, ast.Attribute):
                    seen.add(node.attr)
                elif isinstance(node, ast.ImportFrom):
                    seen.update(a.name for a in node.names)
    return seen


def test_every_public_package_name_is_reached_outside_tests():
    referenced = _referenced_names()
    unreached = sorted(
        qual
        for qual, name in _public_defs().items()
        if name not in referenced and qual not in ALLOWED
    )
    assert not unreached, (
        "public package names referenced only from tests/ — delete them, "
        "move them into tests/, or allowlist them with a reason: "
        f"{unreached}"
    )


def test_allowlist_entries_exist_and_are_unreached():
    """A stale allowlist entry (deleted name, or one a caller now
    reaches) hides nothing but still reads as a reason — drop it."""
    defs = _public_defs()
    referenced = _referenced_names()
    stale = sorted(
        qual for qual in ALLOWED if qual not in defs or defs[qual] in referenced
    )
    assert not stale, f"allowlist entries to drop: {stale}"
