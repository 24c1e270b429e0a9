"""Every package module must be reachable from an entry point.

An AST import walk starts at the programs the repo runs — the
application (``app.py``), the query registry, the driver contract
(``__spark_entry__.py``), ``bench.py``, ``perfbench/*.py`` and
``scripts/*.py`` — and follows every ``import`` / ``from ... import``
statement (function-local ones too) into ``flink_application_spark``.
A module reached only by tests is code with no user: it fails here
until it is either wired into an entry point or deleted, the same way
``test_rows_only_allowlist`` pins the rows-only count. The walk is
static and runs no Spark.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "flink_application_spark"

ENTRY_POINTS = [
    ROOT / PACKAGE / "app.py",
    ROOT / PACKAGE / "plans" / "registry.py",
    ROOT / "__spark_entry__.py",
    ROOT / "bench.py",
    *sorted((ROOT / "perfbench").glob("*.py")),
    *sorted((ROOT / "scripts").glob("*.py")),
]

# Unreached on purpose, each with its reason.
UNREACHED = {
    "sources.generator": "ports the reference Generator job (COVERAGE S7/S9)",
    "sql_script": "ports the reference SQL view-chain idiom (COVERAGE §3.1)",
}


def _module_files() -> dict[str, Path]:
    """Dotted name (``plans.cdr``, ``streaming`` for a package) -> file."""
    out = {}
    for path in (ROOT / PACKAGE).rglob("*.py"):
        parts = path.relative_to(ROOT).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        out[".".join(parts)] = path
    return out


def _imported(path: Path, name: str, is_package: bool) -> set[str]:
    """Every dotted name one file imports, with each parent package."""
    names = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                anchor = name.split(".")
                anchor = anchor[: len(anchor) - node.level + is_package]
                base = ".".join(anchor + ([base] if base else []))
            names.add(base)
            names.update(f"{base}.{a.name}" for a in node.names)
    with_parents = set()
    for n in names:
        parts = n.split(".")
        with_parents.update(".".join(parts[:i]) for i in range(1, len(parts) + 1))
    return with_parents


def _reached(files: dict[str, Path]) -> set[str]:
    seen: set[str] = set()
    todo = [(p, "__entry__", False) for p in ENTRY_POINTS]
    while todo:
        path, name, is_package = todo.pop()
        for dotted in _imported(path, name, is_package):
            if dotted in files and dotted not in seen:
                seen.add(dotted)
                todo.append((files[dotted], dotted, files[dotted].name == "__init__.py"))
    return seen


def test_every_package_module_is_reached_from_an_entry_point():
    files = _module_files()
    unreached = {n.removeprefix(PACKAGE + ".") for n in set(files) - _reached(files)}
    assert unreached == set(UNREACHED), sorted(unreached ^ set(UNREACHED))
