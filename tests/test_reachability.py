"""Every package module must be reachable from a non-test entry point.

Walks the import statements (relative ones and function-local ones
included) of the CLI, the registry (``__spark_entry__.py``), ``bench.py``
and the ``erbench`` scripts, following each ``nomenklatura_spark``
module it reaches. A module that only tests import has no query or CLI
path: earn it one, or delete it. Parses source with ``ast`` only; no
Spark session.
"""
from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "nomenklatura_spark"


def _entry_points() -> list[Path]:
    bench = sorted(p for p in (ROOT / "erbench").glob("*.py"))
    return [
        ROOT / PACKAGE / "cli.py",
        ROOT / "__spark_entry__.py",
        ROOT / "bench.py",
        *bench,
    ]


def _module_file(name: str) -> Path | None:
    """The file of dotted module ``name``, if it is a package module."""
    if name != PACKAGE and not name.startswith(PACKAGE + "."):
        return None
    base = ROOT.joinpath(*name.split("."))
    if base.with_suffix(".py").is_file():
        return base.with_suffix(".py")
    if (base / "__init__.py").is_file():
        return base / "__init__.py"
    return None


def _module_name(path: Path) -> str | None:
    rel = path.relative_to(ROOT)
    if rel.parts[0] != PACKAGE:
        return None
    parts = list(rel.with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _imported(path: Path) -> set[str]:
    """Dotted names that ``path`` imports, with each ``from x import y``
    also yielding ``x.y`` (``y`` may be a submodule) and every parent
    package of each name."""
    name = _module_name(path)
    is_pkg = path.name == "__init__.py"
    names: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            names.update(alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                if name is None:
                    continue
                anchor = name.split(".")
                if not is_pkg:
                    anchor = anchor[:-1]
                anchor = anchor[: len(anchor) - (node.level - 1)]
                base = ".".join(anchor + ([base] if base else []))
            names.add(base)
            names.update(f"{base}.{alias.name}" for alias in node.names)
    parents = {
        ".".join(n.split(".")[:i])
        for n in names for i in range(1, n.count(".") + 1)
    }
    return names | parents


def reached_modules() -> set[Path]:
    seen: set[Path] = set()
    todo = list(_entry_points())
    while todo:
        path = todo.pop()
        if path in seen:
            continue
        seen.add(path)
        for name in _imported(path):
            target = _module_file(name)
            if target is not None and target not in seen:
                todo.append(target)
    return seen


def test_every_package_module_has_a_non_test_importer():
    reached = reached_modules()
    unreached = sorted(
        str(p.relative_to(ROOT))
        for p in (ROOT / PACKAGE).rglob("*.py")
        if p not in reached
    )
    assert not unreached, (
        f"{len(unreached)} package module(s) reached only by tests; wire "
        "each into a CLI verb or registry query, or delete it: "
        + ", ".join(unreached)
    )
