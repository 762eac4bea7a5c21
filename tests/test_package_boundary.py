"""The product boundary: the lake stands apart from the catalog, every
package module has a caller, so does every top-level function, and
every defaulted parameter is a setting some caller sets to something
other than its default.

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
included), must be set by some call in the package, a root file or
``scripts/``.  Tests do not count: an option only a test sets is a
setting no caller uses.  A call is matched to a definition through its
receiver first: ``self.m(…)`` inside a class, ``Class.m(…)``, or
``x.m(…)`` where ``x`` was assigned from ``Class(…)`` in the same
function, name the method ``Class.m``, and ``Class(…)`` names
``Class.__init__``.  A call whose receiver does not resolve is matched
by the callee's name; it can set a method's parameter by keyword or by
position, but never by forwarding ``*args``/``**kwargs`` (so
``DataStreamReader.options(**opts)`` sets nothing of
``KafkaSource.options``).  A call sets the parameter when it passes it
by keyword, passes enough positional arguments to reach it, forwards
``*args`` or ``**kwargs``, or names the definition in
``functools.partial(fn, …)`` with such arguments.  Two rules follow:

* a parameter nothing sets goes, its default folded into the code;
  ``NO_SETTER_YET`` names the ones kept, each with its reason;
* a parameter every setting call passes its own default to (compared
  as ``ast.dump`` of argument and default) goes the same way;
  ``DEFAULT_ONLY`` names the ones kept.

Both maps must match their scan exactly, as ``NO_CALLER_YET`` does.
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
SETTER_DIRS = ["scripts"]  # set parameters, reach no module

ENTRY_POINT = "lake API entry point a deployment calls"
REFERENCE = "reference implementation a test compares against"

# Top-level definitions nothing on a root path references, by
# ``module.name`` under the package.
NO_CALLER_YET = {
    "lake.query_pandas": ENTRY_POINT,
    "lake_maintenance.expire_partitions": ENTRY_POINT,
    "operators.intake.decode_firehose_records": ENTRY_POINT,
    "operators.pipeline.plugin_dir_factory": ENTRY_POINT,
    "operators.bpe.full_token_accounting_py": REFERENCE,
    "operators.classify.nb_calibration": REFERENCE,
    "operators.classify.nb_evaluate": REFERENCE,
    "operators.classify.nb_quality_scores": REFERENCE,
    "operators.dedup.exact_duplicate_groups": REFERENCE,
    "operators.dedup.word_shingles": REFERENCE,
    "operators.text.fingerprint": REFERENCE,
}

DEPLOYMENT = "deployment: set by the deployment that runs the lake"
PLUGIN_CONTRACT = "plugin contract: plugin_dir_factory exists to be passed here"
BENCHMARK_PINNED = "benchmark-pinned: perfbench passes it, and perfbench is fixed"

# Defaulted parameters no call outside tests sets, as
# ``module.[Class.]function(name)``.
NO_SETTER_YET = {
    "session.get_spark(master)": DEPLOYMENT,
    "sources.kafka.KafkaSource.__init__(starting_offsets)": DEPLOYMENT,
    "sources.kafka.KafkaSource.__init__(max_offsets_per_trigger)": DEPLOYMENT,
    "sources.kafka.KafkaSource.__init__(fail_on_data_loss)": DEPLOYMENT,
    "sources.kinesis.KinesisSource.__init__(starting_position)": DEPLOYMENT,
    "sources.kinesis.KinesisSource.__init__(endpoint_url)": DEPLOYMENT,
    "sources.kinesis.KinesisSource.__init__(consumer_type)": DEPLOYMENT,
    "lake_maintenance.expire_partitions(now)": DEPLOYMENT,
    "streaming.ingest.start_ingest(source)": DEPLOYMENT,
    "streaming.ingest.start_ingest(max_files_per_trigger)": DEPLOYMENT,
    "operators.pipeline.normalize_df(plugin_factory)": PLUGIN_CONTRACT,
}

# Defaulted parameters every call outside tests sets to the default.
DEFAULT_ONLY = {
    "operators.pipeline.normalize_df(raw_col)": BENCHMARK_PINNED,
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
    assert set(NO_CALLER_YET.values()) <= {ENTRY_POINT, REFERENCE}
    found = _caller_less()
    no_caller = sorted(found - NO_CALLER_YET.keys())
    stale = sorted(NO_CALLER_YET.keys() - found)  # got a caller, or is gone
    assert (no_caller, stale) == ([], [])


class _Call:
    """One call: the callee's name, the package ``(class, method)`` it
    resolves to through its receiver (``None`` when the receiver does
    not resolve), and its arguments."""

    def __init__(self, name, target, args, keywords, unbound):
        self.name = name
        self.target = target
        self.unbound = unbound  # ``Class.method(obj, …)``: obj fills self
        self.args = args
        self.keywords = {k.arg: k.value for k in keywords if k.arg}
        self.star = any(isinstance(a, ast.Starred) for a in args)
        self.kwargs = any(k.arg is None for k in keywords)


def _file_calls(tree: ast.Module, classes: set[str]) -> list[_Call]:
    """Every call in ``tree``; ``partial(fn, …)`` counts as a call of
    ``fn``.  A receiver resolves when it is ``self``/``cls`` inside a
    class, a package class name, or a local assigned from a package
    class's constructor in the same function."""
    calls = []

    def visit(node, cls, scope, locals_):
        if isinstance(node, ast.ClassDef):
            cls = node.name
        elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            scope, locals_ = node, {
                target.id: assign.value.func.id
                for assign in ast.walk(node)
                if isinstance(assign, ast.Assign)
                and isinstance(assign.value, ast.Call)
                and isinstance(assign.value.func, ast.Name)
                and assign.value.func.id in classes
                for target in assign.targets
                if isinstance(target, ast.Name)
            }
        elif isinstance(node, ast.Call):
            calls.append(_resolve(node, cls, scope, locals_, classes))
        for child in ast.iter_child_nodes(node):
            visit(child, cls, scope, locals_)

    visit(tree, None, None, {})
    return [call for call in calls if call is not None]


def _resolve(node, cls, scope, locals_, classes) -> _Call | None:
    func, args = node.func, node.args
    if isinstance(func, ast.Name) and func.id == "partial" and args:
        func, args = args[0], args[1:]
    if isinstance(func, ast.Name):
        target = (func.id, "__init__") if func.id in classes else None
        return _Call(func.id, target, args, node.keywords, False)
    if not isinstance(func, ast.Attribute):
        return None
    receiver, target, unbound = func.value, None, False
    if isinstance(receiver, ast.Name):
        if receiver.id in ("self", "cls") and cls and scope is not None:
            target = (cls, func.attr)
        elif receiver.id in classes:
            target, unbound = (receiver.id, func.attr), True
        elif receiver.id in locals_:
            target = (locals_[receiver.id], func.attr)
    return _Call(func.attr, target, args, node.keywords, unbound)


def _parse(path: Path) -> ast.Module:
    return ast.parse(path.read_text(), filename=str(path))


def _repo_sources() -> tuple[dict[str, ast.Module], list[ast.Module]]:
    """The package's modules by dotted name, and the other files whose
    calls set parameters: the root files and ``SETTER_DIRS``."""
    package = {name: _parse(path) for name, path in _package_modules().items()}
    files = _root_files()
    for d in SETTER_DIRS:
        files += sorted((REPO / d).rglob("*.py"))
    return package, [_parse(path) for path in dict.fromkeys(files)]


_FORWARDED = object()  # a setting argument whose value the call hides


def _settings(
    package: dict[str, ast.Module], callers: list[ast.Module]
) -> dict[str, tuple[ast.expr, list]]:
    """``module.[Class.]function(name)`` of every defaulted parameter of
    a ``def`` in ``package`` -> ``(default, settings)``: the argument of
    each call in ``package`` or ``callers`` that sets it, or
    ``_FORWARDED`` for a ``*args``/``**kwargs`` forward (see the module
    docstring)."""
    classes = {
        node.name
        for tree in package.values()
        for node in ast.walk(tree)
        if isinstance(node, ast.ClassDef)
    }
    calls: dict[str, list[_Call]] = {}
    for tree in [*package.values(), *callers]:
        for call in _file_calls(tree, classes):
            calls.setdefault(call.name, []).append(call)
    found = {}
    for module, tree in package.items():
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
                (arg.arg, i - bound, default)
                for (i, arg), default in zip(
                    list(enumerate(positional))[first:], fn.args.defaults
                )
            ]
            params += [
                (arg.arg, None, default)
                for arg, default in zip(fn.args.kwonlyargs, fn.args.kw_defaults)
                if default is not None
            ]
            qual = module.removeprefix(f"{PACKAGE}.")
            qual += f".{cls}.{fn.name}" if cls else f".{fn.name}"
            for param, index, default in params:
                settings = []
                for call in calls.get(name, []):
                    if call.target not in (None, (cls, fn.name)):
                        continue  # resolves to another definition
                    # an unresolved receiver forwards nothing into a method
                    forwards = not cls or call.target is not None
                    at = index
                    if index is not None and call.unbound and bound:
                        at = index + 1
                    if param in call.keywords:
                        settings.append(call.keywords[param])
                    elif at is not None and not call.star and len(call.args) > at:
                        settings.append(call.args[at])
                    elif forwards and (
                        call.kwargs or (at is not None and call.star)
                    ):
                        settings.append(_FORWARDED)
                found[f"{qual}({param})"] = (default, settings)
    return found


def _unset_parameters() -> set[str]:
    return {
        qual
        for qual, (_, settings) in _settings(*_repo_sources()).items()
        if not settings
    }


def _default_only_parameters() -> set[str]:
    """Defaulted parameters every setting call passes the default to,
    compared as ``ast.dump`` of the argument and the default."""
    return {
        qual
        for qual, (default, settings) in _settings(*_repo_sources()).items()
        if settings
        and all(
            s is not _FORWARDED and ast.dump(s) == ast.dump(default)
            for s in settings
        )
    }


def test_every_defaulted_parameter_is_set():
    assert set(NO_SETTER_YET.values()) <= {DEPLOYMENT, PLUGIN_CONTRACT}
    found = _unset_parameters()
    no_setter = sorted(found - NO_SETTER_YET.keys())
    stale = sorted(NO_SETTER_YET.keys() - found)  # got a setter, or is gone
    assert (no_setter, stale) == ([], [])


def test_no_parameter_is_set_only_to_its_default():
    assert set(DEFAULT_ONLY.values()) <= {BENCHMARK_PINNED}
    found = _default_only_parameters()
    default_only = sorted(found - DEFAULT_ONLY.keys())
    stale = sorted(DEFAULT_ONLY.keys() - found)  # set otherwise, or is gone
    assert (default_only, stale) == ([], [])


# ``KafkaSource``'s shape: ``load_connector`` forwards the options dict
# to ``DataStreamReader.options(**…)``, a Spark method of the same name.
_KAFKA = """
class KafkaSource:
    def __init__(self, servers, starting_offsets="latest"):
        self.servers = servers

    def options(self, unused=1):
        return {"kafka.bootstrap.servers": self.servers}

    def load(self, spark):
        return load_connector(spark, self.options())


def load_connector(spark, options):
    return spark.readStream.format("kafka").options(**options).load()


def options(unused=1):
    return {}
"""

_KAFKA_CALLER = """
def main(spark):
    source = KafkaSource("broker:9092", starting_offsets="earliest")
    source.load(spark)
"""


def test_a_call_sets_the_parameters_of_the_definition_it_resolves_to():
    package = {f"{PACKAGE}.sources.kafka": ast.parse(_KAFKA)}
    found = _settings(package, [ast.parse(_KAFKA_CALLER)])
    # ``….options(**options)`` has an unresolved receiver: it forwards
    # nothing into the method, only into the module-level function
    assert found["sources.kafka.KafkaSource.options(unused)"][1] == []
    assert found["sources.kafka.options(unused)"][1] == [_FORWARDED]
    (offsets,) = found["sources.kafka.KafkaSource.__init__(starting_offsets)"][1]
    assert ast.literal_eval(offsets) == "earliest"
