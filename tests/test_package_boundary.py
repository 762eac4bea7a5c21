"""The product boundary: every package module has a caller.

The roots are the lake path, the catalog entry point (``__spark_entry__.py``),
both benchmark harnesses (``bench.py``, ``perfbench/``) and the catalog
oracle check (``scripts/check_oracle.py``).  A module that no root imports,
directly or through other package modules, is reached only by its own
tests; it goes, or it gets a caller.  ``AWAITING_A_CALLER`` names the
modules kept that way for now; the list must match the audit exactly, so
a new orphan fails and so does an entry that got a caller or was deleted.
Static AST walk, no Spark needed.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = "defenda_data_lake_spark"

LAKE_PATH = [
    "session",
    "schema",
    "lake",
    "operators.intake",
    "operators.pipeline",
    "operators.plugins",
    "detections",
    "streaming.ingest",
    "sources",
    "lake_maintenance",
    "worker_daemon",
]
ROOT_PACKAGES = ["functions", "utils"]  # every module in them is a root
ROOT_FILES = ["__spark_entry__.py", "bench.py", "scripts/check_oracle.py"]
ROOT_DIRS = ["perfbench"]

# The streaming maintenance folds and the batch operators they fold:
# tested, but no entry point starts them yet.
AWAITING_A_CALLER = [
    "operators.export",
    "operators.rollup",
    "streaming._tables",
    "streaming.bpe",
    "streaming.cdc",
    "streaming.export",
    "streaming.rollup",
    "streaming.sampling",
    "streaming.scd",
]


def _package_modules() -> dict[str, Path]:
    """Dotted name -> file for every module and package in the package."""
    modules = {}
    for path in (REPO / PACKAGE).rglob("*.py"):
        parts = path.relative_to(REPO).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        modules[".".join(parts)] = path
    return modules


def _imported(path: Path, modules: dict[str, Path]) -> set[str]:
    """Package modules ``path`` imports anywhere in its body, with the
    packages on the way (importing ``a.b.c`` runs ``a`` and ``a.b``)."""
    found = set()
    for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
        if isinstance(node, ast.Import):
            names = [alias.name for alias in node.names]
        elif isinstance(node, ast.ImportFrom) and node.module and not node.level:
            # ``from pkg import name`` reaches ``pkg.name`` when that is a module
            names = [node.module] + [f"{node.module}.{a.name}" for a in node.names]
        else:
            continue
        for name in names:
            parts = name.split(".")
            found.update(
                ".".join(parts[:i])
                for i in range(1, len(parts) + 1)
                if ".".join(parts[:i]) in modules
            )
    return found


def _unreached() -> list[str]:
    modules = _package_modules()
    roots = [REPO / f for f in ROOT_FILES]
    for d in ROOT_DIRS:
        roots += sorted((REPO / d).rglob("*.py"))
    reached = {PACKAGE}
    reached.update(f"{PACKAGE}.{m}" for m in LAKE_PATH)
    reached.update(
        name
        for name in modules
        for pkg in ROOT_PACKAGES
        if name == f"{PACKAGE}.{pkg}" or name.startswith(f"{PACKAGE}.{pkg}.")
    )
    todo = list(roots) + [modules[name] for name in reached]
    while todo:
        for name in _imported(todo.pop(), modules) - reached:
            reached.add(name)
            todo.append(modules[name])
    return sorted(set(modules) - reached)


def test_roots_exist():
    modules = _package_modules()
    for name in LAKE_PATH + ROOT_PACKAGES:
        assert f"{PACKAGE}.{name}" in modules, name
    for f in ROOT_FILES:
        assert (REPO / f).is_file(), f


def test_every_package_module_is_reached_from_a_root():
    assert _unreached() == sorted(f"{PACKAGE}.{m}" for m in AWAITING_A_CALLER)
