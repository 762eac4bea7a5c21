"""The product boundary: the lake stands apart from the catalog, every
package module has a caller, so does every top-level function, and
every defaulted parameter has a setter.

Two closures of package imports.  The lake closure starts at the lake
path (``LAKE_PATH`` plus every module of ``functions`` and ``utils``)
and must hold no ``plans.*`` module: the catalog may use the lake, the
lake never loads the catalog.  The catalog closure starts at the
catalog entry point (``__spark_entry__.py``), both benchmark harnesses
(``bench.py``, ``perfbench/``) and the catalog oracle check
(``scripts/check_oracle.py``).  A module in neither closure is reached
only by its own tests; it goes, or it gets a caller.

Per function: every top-level ``def`` or ``class`` of the package,
public or ``_private`` (dunder names aside), must be referenced from
the package or a root file — by a name, an attribute, a ``from …
import`` alias, or a string constant equal to it (``perfbench`` looks
detection rules up with ``getattr``).  Docstrings, comments and a
definition's references to itself do not count.  ``NO_CALLER_YET``
names the definitions kept without one, each with its reason; it must
match the scan exactly, so a new caller-less name fails and so does an
entry that got a caller or was deleted.

Per parameter: every parameter with a default, of every ``def`` in the
package (methods, nested and private functions and ``__init__``
included), must be set by some call in the package, a root file,
``scripts/`` or ``tests/``.  A call is matched to a definition by the
callee's name (a class name stands for its ``__init__``), and it sets
the parameter when it passes it by keyword, passes enough positional
arguments to reach it, forwards ``*args`` or ``**kwargs``, or names the
definition in ``functools.partial(fn, …)`` with such arguments.  A
parameter nothing sets is a setting nobody uses: it goes, its default
folded into the code.  ``NO_SETTER_YET`` names the parameters kept
without a setter, each with its reason, and must match the scan
exactly, as ``NO_CALLER_YET`` does.
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
SETTER_DIRS = ["scripts", "tests"]  # set parameters, reach no module

ENTRY_POINT = "lake API entry point a deployment calls"
WAITS_FOR_ITEM_1 = "waits for ROADMAP item 1 (compaction on the lake path)"
REFERENCE = "reference implementation a test compares against"

# Top-level definitions nothing on a root path references, by
# ``module.name`` under the package.
NO_CALLER_YET = {
    "lake.query_pandas": ENTRY_POINT,
    "lake_maintenance.expire_partitions": ENTRY_POINT,
    "operators.intake.decode_firehose_records": ENTRY_POINT,
    "operators.pipeline.plugin_dir_factory": ENTRY_POINT,
    "lake_maintenance.compact_partition": WAITS_FOR_ITEM_1,
    "operators.bpe.full_token_accounting_py": REFERENCE,
    "operators.classify.nb_calibration": REFERENCE,
    "operators.classify.nb_evaluate": REFERENCE,
    "operators.classify.nb_quality_scores": REFERENCE,
    "operators.clustering.kmeans_train": REFERENCE,
    "operators.dedup.exact_duplicate_groups": REFERENCE,
    "operators.dedup.word_shingles": REFERENCE,
    "operators.text.fingerprint": REFERENCE,
}

DEPLOYMENT_ADDRESS = "deployment address: the cluster a deployment runs on"
STREAM_TUNING = "deployment tuning ROADMAP item 7's stream workload will set"

# Defaulted parameters no call sets, as ``module.[Class.]function(name)``.
NO_SETTER_YET = {
    "session.get_spark(master)": DEPLOYMENT_ADDRESS,
    "streaming.ingest.start_ingest(max_files_per_trigger)": STREAM_TUNING,
}


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


def _root_files() -> list[Path]:
    roots = [REPO / f for f in ROOT_FILES]
    for d in ROOT_DIRS:
        roots += sorted((REPO / d).rglob("*.py"))
    return roots


def _catalog_closure() -> dict[str, str]:
    return _closure(_root_files(), set())


def _references(node: ast.AST, docstrings: set[int]) -> set[str]:
    """Names ``node`` uses: names, attributes, ``from … import``
    aliases and string constants other than docstrings."""
    found = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            found.add(n.id)
        elif isinstance(n, ast.Attribute):
            found.add(n.attr)
        elif isinstance(n, ast.ImportFrom):
            found.update(alias.name for alias in n.names)
        elif (
            isinstance(n, ast.Constant)
            and isinstance(n.value, str)
            and id(n) not in docstrings
        ):
            found.add(n.value)
    return found


def _caller_less() -> set[str]:
    """``module.name`` of every top-level definition of the package,
    private ones too (only dunder names are skipped), that no package
    module or root file references."""
    defs = {}
    referenced = set()
    package_files = {path: name for name, path in _package_modules().items()}
    for path in sorted(package_files) + _root_files():
        tree = ast.parse(path.read_text(), filename=str(path))
        docstrings = {
            id(node.body[0].value)
            for node in ast.walk(tree)
            if isinstance(
                node,
                (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef),
            )
            and node.body
            and isinstance(node.body[0], ast.Expr)
            and isinstance(node.body[0].value, ast.Constant)
            and isinstance(node.body[0].value.value, str)
        }
        for stmt in tree.body:
            used = _references(stmt, docstrings)
            if (
                path in package_files
                and isinstance(
                    stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
                )
                and not (stmt.name.startswith("__") and stmt.name.endswith("__"))
            ):
                module = package_files[path].removeprefix(f"{PACKAGE}.")
                defs[f"{module}.{stmt.name}"] = stmt.name
                used.discard(stmt.name)  # recursion is not a caller
            referenced |= used
    return {qual for qual, name in defs.items() if name not in referenced}


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
    assert unreached == []


def test_every_public_definition_has_a_caller():
    assert set(NO_CALLER_YET.values()) <= {
        ENTRY_POINT,
        WAITS_FOR_ITEM_1,
        REFERENCE,
    }
    found = _caller_less()
    no_caller = sorted(found - NO_CALLER_YET.keys())
    stale = sorted(NO_CALLER_YET.keys() - found)  # got a caller, or is gone
    assert (no_caller, stale) == ([], [])


def _callee(func: ast.expr) -> str | None:
    if isinstance(func, ast.Name):
        return func.id
    if isinstance(func, ast.Attribute):
        return func.attr
    return None


def _calls() -> dict[str, list[tuple[int, bool, set[str], bool]]]:
    """Callee name -> ``(n_positional, forwards_args, keywords,
    forwards_kwargs)`` for every call in the package, the root files,
    ``scripts/`` and ``tests/``; ``partial(fn, …)`` counts as a call of
    ``fn``."""
    files = sorted(_package_modules().values()) + _root_files()
    for d in SETTER_DIRS:
        files += sorted((REPO / d).rglob("*.py"))
    calls: dict[str, list] = {}
    for path in dict.fromkeys(files):
        for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
            if not isinstance(node, ast.Call):
                continue
            name, args = _callee(node.func), node.args
            if name == "partial" and args:
                name, args = _callee(args[0]), args[1:]
            if name is None:
                continue
            calls.setdefault(name, []).append(
                (
                    len(args),
                    any(isinstance(a, ast.Starred) for a in args),
                    {k.arg for k in node.keywords if k.arg},
                    any(k.arg is None for k in node.keywords),
                )
            )
    return calls


def _unset_parameters() -> set[str]:
    """``module.[Class.]function(name)`` of every defaulted parameter of
    a package ``def`` that no call sets (see the module docstring)."""
    calls = _calls()
    unset = set()
    for module, path in _package_modules().items():
        tree = ast.parse(path.read_text(), filename=str(path))
        owner = {
            id(stmt): cls.name
            for cls in ast.walk(tree)
            if isinstance(cls, ast.ClassDef)
            for stmt in cls.body
        }
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            cls = owner.get(id(fn))
            static = any(
                isinstance(d, ast.Name) and d.id == "staticmethod"
                for d in fn.decorator_list
            )
            bound = 1 if cls and not static else 0  # self / cls
            name = cls if cls and fn.name == "__init__" else fn.name
            positional = fn.args.posonlyargs + fn.args.args
            first = len(positional) - len(fn.args.defaults)
            params = [
                (arg.arg, i - bound)
                for i, arg in enumerate(positional)
                if i >= first
            ]
            params += [
                (arg.arg, None)
                for arg, default in zip(fn.args.kwonlyargs, fn.args.kw_defaults)
                if default is not None
            ]
            qual = module.removeprefix(f"{PACKAGE}.")
            qual += f".{cls}.{fn.name}" if cls else f".{fn.name}"
            for param, index in params:
                if not any(
                    param in keywords
                    or kwargs
                    or (index is not None and (star or n > index))
                    for n, star, keywords, kwargs in calls.get(name, [])
                ):
                    unset.add(f"{qual}({param})")
    return unset


def test_every_defaulted_parameter_is_set():
    assert set(NO_SETTER_YET.values()) <= {DEPLOYMENT_ADDRESS, STREAM_TUNING}
    found = _unset_parameters()
    no_setter = sorted(found - NO_SETTER_YET.keys())
    stale = sorted(NO_SETTER_YET.keys() - found)  # got a setter, or is gone
    assert (no_setter, stale) == ([], [])
