"""The product boundary: the lake stands apart from the catalog, and
every package module has a caller.

Two closures of package imports.  The lake closure starts at the lake
path (``LAKE_PATH`` plus every module of ``functions`` and ``utils``)
and must hold no ``plans.*`` module: the catalog may use the lake, the
lake never loads the catalog.  The catalog closure starts at the
catalog entry point (``__spark_entry__.py``), both benchmark harnesses
(``bench.py``, ``perfbench/``) and the catalog oracle check
(``scripts/check_oracle.py``).  A module in neither closure is reached
only by its own tests; it goes, or it gets a caller.
``AWAITING_A_CALLER`` names the modules kept that way for now; the list
must match the audit exactly, so a new orphan fails and so does an
entry that got a caller or was deleted.  Static AST walk, no Spark
needed.
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

# The export and rollup streaming folds and the batch operators they
# fold: tested, but no entry point starts them yet.
AWAITING_A_CALLER = [
    "operators.export",
    "operators.rollup",
    "streaming.export",
    "streaming.rollup",
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


def _closure(roots: list[Path], seeds: set[str]) -> dict[str, str]:
    """Every package module reached from ``roots`` (files) and ``seeds``
    (module names), mapped to the module or file that first imported
    it (a seed maps to itself)."""
    modules = _package_modules()
    via = {name: name for name in seeds}
    todo = [(str(path.relative_to(REPO)), path) for path in roots]
    todo += [(name, modules[name]) for name in seeds]
    while todo:
        importer, path = todo.pop()
        for name in sorted(_imported(path, modules) - via.keys()):
            via[name] = importer
            todo.append((name, modules[name]))
    return via


def _chain(via: dict[str, str], name: str) -> str:
    chain = [name]
    while via.get(chain[-1], chain[-1]) != chain[-1]:
        chain.append(via[chain[-1]])
    return " -> ".join(reversed(chain))


def _lake_closure() -> dict[str, str]:
    seeds = {PACKAGE} | {f"{PACKAGE}.{m}" for m in LAKE_PATH}
    seeds.update(
        name
        for name in _package_modules()
        for pkg in ROOT_PACKAGES
        if name == f"{PACKAGE}.{pkg}" or name.startswith(f"{PACKAGE}.{pkg}.")
    )
    return _closure([], seeds)


def _catalog_closure() -> dict[str, str]:
    roots = [REPO / f for f in ROOT_FILES]
    for d in ROOT_DIRS:
        roots += sorted((REPO / d).rglob("*.py"))
    return _closure(roots, set())


def test_roots_exist():
    modules = _package_modules()
    for name in LAKE_PATH + ROOT_PACKAGES:
        assert f"{PACKAGE}.{name}" in modules, name
    for f in ROOT_FILES:
        assert (REPO / f).is_file(), f


def test_lake_closure_holds_no_catalog_code():
    via = _lake_closure()
    plans = f"{PACKAGE}.plans"
    catalog = sorted(m for m in via if m == plans or m.startswith(f"{plans}."))
    assert not catalog, [_chain(via, m) for m in catalog]


def test_every_package_module_is_reached_from_a_root():
    reached = _lake_closure().keys() | _catalog_closure().keys()
    unreached = sorted(set(_package_modules()) - reached)
    assert unreached == sorted(f"{PACKAGE}.{m}" for m in AWAITING_A_CALLER)
