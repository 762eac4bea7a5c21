"""The plugin pipeline: registry, content-based router, and the
Arrow-batched Spark host.

Re-expresses the reference's normalization/enrichment dataflow
(reference lambdas/processor.py:17-84, utils/plugins.py:31-110) as:

* a plain-Python router (``run_pipeline``) with the reference's exact
  semantics — ascending-priority execution, registration-token
  intersection against the event's criteria values (all nested keys +
  ``tags`` values + ``category`` value), ``'*'`` wildcard, drop-on-None,
  provenance accumulation into ``plugins`` — unit-testable without Spark;
* a vectorized Spark host (``normalize_df``) that runs the router over
  Arrow record batches via ``mapInPandas``.

Why ``mapInPandas`` and not Column expressions: the plugins manipulate
*unknown-shape* JSON (recursive key search over schemas never inferred,
SURVEY.md §2A A16-A19/A23-A26).  No static Catalyst expression can do
that; this is the one deliberately Python-side stage of the engine.

Scale notes (100 TB):

* The pipeline is stateless per record (reference processor.py:25-78) —
  embarrassingly parallel, **zero shuffles**: throughput scales linearly
  with input partitions; Arrow batching amortizes the Python boundary.
* Output goes straight to a partitioned Parquet write — the records
  never leave their input partition, so the whole ingest path is a
  single narrow stage per micro-batch.
"""

from __future__ import annotations

import functools
import json
import os
from typing import Any, Callable, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from defenda_data_lake_spark.operators.intake import records
from defenda_data_lake_spark.schema import EVENT_SHELL_SCHEMA, SHELL_FIELDS
from defenda_data_lake_spark.utils.json_tree import enum_keys


#: one pre-built encoder: ``json.dumps(..., separators=...)`` constructs
#: a fresh ``JSONEncoder`` per call (~20% of serialize time at the
#: ingest kernel's row rate); all other parameters are ``dumps``
#: defaults, so the output is byte-identical
_JSON_ENCODE = json.JSONEncoder(separators=(",", ":")).encode


def _dumps(value: Any) -> str:
    """Serialize with stdlib json (compact separators).  NOT orjson:
    orjson silently serializes NaN/Infinity floats as ``null`` instead
    of raising, so the fallback never fires and detail values the
    reference preserves (stdlib emits ``NaN``) would be corrupted; one
    serializer also keeps the details encoding byte-identical across
    hosts with and without orjson.  Parsing (``intake._loads``) is where
    the orjson win is anyway."""
    return _JSON_ENCODE(value)


#: ``metadata`` entry holding the event's key index, ``(keys, hits)``:
#: ``keys`` is the recursive key set, ``hits`` is ``None`` or the
#: ``collect_fields`` hits of ``plugins.CANDIDATE_FIELDS``.  Exact for
#: the current event whenever present; a reader that finds none walks
#: the event itself.
KEY_INDEX = "key_index"


class Plugin:
    """One pipeline step.

    Mirrors the reference plugin contract (reference utils/plugins.py:44-57):
    ``registration`` is a list of lowercase match tokens or ``['*']``;
    lower ``priority`` runs earlier (default 100); ``on_event`` returns
    the (possibly mutated) event, or ``None`` to drop the record.

    ``phase`` mirrors the reference's two-pass structure
    (processor.py:21-22,40-45): every ``normalization`` plugin runs
    before any ``enrichment`` plugin regardless of priority, so the
    ``plugins`` provenance order matches the reference
    (ensure_eventid — enrichment — appears after timestamps /
    ip_addresses / gsuite_login even though its priority is lower).
    """

    name: str = "plugin"
    registration: list[str] = ["*"]
    priority: int = 100
    phase: str = "normalization"

    def on_event(self, event: dict, metadata: dict) -> dict | None:  # pragma: no cover
        raise NotImplementedError


def event_criteria_values(event: dict) -> set:
    """The token set a plugin registration is matched against: every
    nested key, plus ``tags`` values and the ``category`` value
    (reference utils/plugins.py:11-28)."""
    tokens = set(enum_keys(event))
    tags = event.get("tags")
    if isinstance(tags, list):
        tokens.update(t for t in tags if isinstance(t, str))
    category = event.get("category")
    if isinstance(category, str):
        tokens.add(category)
    return tokens


def _criteria_match(event: dict, wanted: frozenset, keys: set | None = None) -> bool:
    """``bool(wanted & event_criteria_values(event))`` without
    materializing the token set: an early-exit walk over the same
    token space (every nested key, ``tags`` values, ``category``).
    The full-set form costed ~40 µs/event at the ingest kernel's row
    rate — the routing check was as expensive as a plugin.  ``keys``,
    the event's recursive key set when a key index holds it, replaces
    the walk."""
    category = event.get("category")
    if isinstance(category, str) and category in wanted:
        return True
    tags = event.get("tags")
    if isinstance(tags, list):
        for t in tags:
            if isinstance(t, str) and t in wanted:
                return True
    if keys is not None:
        return not wanted.isdisjoint(keys)
    stack = [event]
    while stack:
        cur = stack.pop()
        if isinstance(cur, dict):
            for k, v in cur.items():
                if k in wanted:
                    return True
                if isinstance(v, (dict, list)):
                    stack.append(v)
        else:
            for item in cur:
                if isinstance(item, (dict, list)):
                    stack.append(item)
    return False


#: lowered-token cache per registration list (keyed by token tuple):
#: ``run_pipeline`` used to rebuild the lowered set per event per
#: plugin even though registrations are static for a plugin's lifetime.
#: Bounded (lru_cache, not a bare module dict) so a long-lived
#: executor running pipelines with dynamically-constructed
#: registrations cannot grow it without eviction; 256 far exceeds any
#: real plugin roster.
@functools.lru_cache(maxsize=256)
def _lowered_tokens(key: tuple) -> frozenset:
    return frozenset(token.lower() for token in key)


def _wanted_tokens(registration) -> frozenset:
    try:
        return _lowered_tokens(tuple(registration))
    except TypeError:  # unhashable token: fall back to the direct form
        return frozenset(token.lower() for token in registration)


_PHASE_ORDER = {"normalization": 0, "enrichment": 1}


def order_plugins(plugins: list[Plugin]) -> list[Plugin]:
    """Execution order: normalization pass, then enrichment pass
    (reference processor.py:21-22,40-45), ascending priority within
    each, stable on registration order."""
    return sorted(
        plugins,
        key=lambda p: (
            _PHASE_ORDER.get(getattr(p, "phase", "normalization"), 2),
            p.priority,
        ),
    )


def run_pipeline(
    event: dict,
    plugins: list[Plugin],
    presorted: bool = False,
) -> dict | None:
    """Route one event through ``plugins`` in ascending priority
    (reference utils/plugins.py:61-110).  Returns the transformed event,
    or ``None`` if a plugin dropped it.  Pass ``presorted=True`` when
    the caller already ran ``order_plugins`` (the Arrow host does, once
    per task instead of once per event).

    The built-in plugins share one key index through
    ``metadata[KEY_INDEX]`` instead of each walking the event again;
    ``metadata`` is new for every event."""
    if not isinstance(event, dict):
        raise TypeError(f"event is type {type(event)}, should be a dict")
    metadata: dict = {}
    keepers = _index_keepers()
    executed: list[str] = []
    for plugin in plugins if presorted else order_plugins(plugins):
        if "*" in plugin.registration:
            fire = True
        else:
            index = metadata.get(KEY_INDEX)
            fire = _criteria_match(
                event,
                _wanted_tokens(plugin.registration),
                index[0] if index is not None else None,
            )
        if fire:
            event = plugin.on_event(event, metadata)
            if type(plugin) not in keepers:
                metadata.pop(KEY_INDEX, None)
            if event is None:
                return None
            executed.append(plugin.name)
    event["plugins"] = list(event.get("plugins") or []) + executed
    return event


def default_plugins() -> list[Plugin]:
    """The reference's six-plugin pipeline, in registration order."""
    from defenda_data_lake_spark.operators.plugins import (
        EnsureEventId,
        EventShell,
        GsuiteLogin,
        IpAddresses,
        LowercaseKeys,
        Timestamps,
    )

    return [
        LowercaseKeys(),
        EventShell(),
        EnsureEventId(),
        Timestamps(),
        IpAddresses(),
        GsuiteLogin(),
    ]


@functools.cache
def _index_keepers() -> frozenset:
    """The plugin classes whose ``on_event`` leaves ``metadata[KEY_INDEX]``
    exact for the event it returns, or removes it.  Exact classes only: a
    subclass, even of one of these, may mutate the event behind the
    index's back."""
    from defenda_data_lake_spark.operators.plugins import (
        EventShell,
        IpAddresses,
        LowercaseKeys,
        Timestamps,
    )

    return frozenset([LowercaseKeys, EventShell, Timestamps, IpAddresses])


class ReferencePluginAdapter(Plugin):
    """Host a reference-style plugin class (a ``message`` object with
    ``registration``/``priority`` attributes and an
    ``onMessage(message, metadata) -> (message, metadata)`` method —
    reference normalization_plugins/lowercase_keys.py:1-25) behind this
    package's :class:`Plugin` contract.  The reference names an executed
    plugin after its module (utils/plugins.py:102-103); so does this."""

    def __init__(self, impl: Any, name: str):
        self._impl = impl
        self.name = name
        reg = getattr(impl, "registration", ["*"])
        # a bare string is the hand-rolled reference form — one token,
        # NOT the wildcard (coercing it to ["*"] would silently run the
        # plugin against every event)
        if isinstance(reg, str):
            reg = [reg]
        self.registration = (
            [str(t).lower() for t in reg]
            if isinstance(reg, (list, tuple, set))
            else ["*"]
        )
        self.priority = getattr(impl, "priority", 100)
        self.phase = getattr(impl, "phase", "normalization")

    def on_event(self, event: dict, metadata: dict) -> dict | None:
        result = self._impl.onMessage(event, metadata)
        # reference contract returns (message, metadata); tolerate a
        # bare message for hand-rolled plugins
        message = result[0] if isinstance(result, tuple) else result
        return message


def register_plugins(directory_name: str) -> list[Plugin]:
    """Scan a directory for plugin modules and instantiate them —
    reference parity for dynamic discovery (utils/plugins.py:31-58,
    which walks the directory with pynsive and registers every module
    exposing a ``message`` class).

    Two module shapes register, so reference plugins drop in unchanged:

    * a class named ``message`` (reference contract) — wrapped in
      :class:`ReferencePluginAdapter`, named after its module;
    * subclasses of this package's :class:`Plugin` (native contract) —
      instantiated directly.

    Files starting with ``_`` are skipped.  A module that fails to
    import raises ``ImportError`` like the reference (fail loud: a
    silently unloadable plugin means silently unnormalized events).
    Returned in execution order (phase, then priority)."""
    import importlib.util

    plugins: list[Plugin] = []
    if not os.path.isdir(directory_name):
        return plugins
    for fname in sorted(os.listdir(directory_name)):
        if not fname.endswith(".py") or fname.startswith("_"):
            continue
        mod_name = fname[:-3]
        path = os.path.join(directory_name, fname)
        spec = importlib.util.spec_from_file_location(
            f"defenda_plugins_{mod_name}", path
        )
        if spec is None or spec.loader is None:
            raise ImportError(f"Unable to load module {mod_name} from {path}")
        module = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(module)
        if hasattr(module, "message"):
            plugins.append(ReferencePluginAdapter(module.message(), mod_name))
            continue
        for attr in vars(module).values():
            if (
                isinstance(attr, type)
                and issubclass(attr, Plugin)
                and attr is not Plugin
                and attr is not ReferencePluginAdapter
            ):
                plugins.append(attr())
    return order_plugins(plugins)


def plugin_dir_factory(directory_name: str) -> Callable[[], list[Plugin]]:
    """A ``plugin_factory`` for :func:`normalize_df` that runs the
    default plugins plus those found by re-scanning ``directory_name``
    on each worker — dropping a file into the
    directory extends the pipeline with no engine-code change, exactly
    the reference's deployment story.  The scan runs once per task (the
    factory is invoked inside the Arrow host), so per-event cost is
    zero."""

    def factory() -> list[Plugin]:
        return default_plugins() + register_plugins(directory_name)

    return factory


#: shell fields by conversion rule, precomputed once (the per-field
#: string comparisons inside _shell_row were measurable at row rate)
_SHELL_STR_FIELDS = tuple(
    f for f in SHELL_FIELDS if f not in ("tags", "plugins", "details")
)


def _shell_row(event: dict) -> dict:
    """Project a pipeline-output event onto the fixed shell columns,
    serializing ``details`` back to a JSON string (§1.3: fixed outer
    schema, dynamic interior)."""
    row = {}
    for field in _SHELL_STR_FIELDS:
        value = event.get(field)
        row[field] = str(value) if value is not None else None
    for field in ("tags", "plugins"):
        value = event.get(field)
        row[field] = [str(v) for v in value] if isinstance(value, list) else []
    value = event.get("details")
    row["details"] = _dumps(value if value is not None else {})
    return row


# Output schema of normalize_df: the event shell plus a status column
# mirroring the reference's per-record result envelope
# (Ok / ProcessingFailed, reference processor.py:47-76) and the raw
# payload for quarantine replay.
NORMALIZED_SCHEMA = T.StructType(
    list(EVENT_SHELL_SCHEMA.fields)
    + [
        T.StructField("_status", T.StringType(), False),
        T.StructField("_raw", T.StringType(), True),
    ]
)

STATUS_OK = "Ok"
STATUS_FAILED = "ProcessingFailed"
STATUS_DROPPED = "Dropped"


#: most rows per yielded frame, as the Arrow batches read
#: (``spark.sql.execution.arrow.maxRecordsPerBatch``) hold: a batch of
#: whole files can hold far more records than rows
_FRAME_ROWS = 10_000


def _make_normalizer(
    plugin_factory: Callable[[], list[Plugin]],
) -> Callable[[Iterable[pd.DataFrame]], Iterator[pd.DataFrame]]:
    def normalize_batches(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        plugins = order_plugins(plugin_factory())  # once per task, reused across batches
        columns = [f.name for f in NORMALIZED_SCHEMA.fields]
        shell_cols = [c for c in columns if c not in ("_status", "_raw")]
        for batch in batches:
            # column-list accumulation, not list-of-row-dicts: pandas
            # builds the frame from ready columns with no per-row dict
            # alignment pass (~15% off the kernel at 100k events)
            data: dict[str, list] = {c: [] for c in columns}
            shell_appends = [(c, data[c].append) for c in shell_cols]
            st_append = data["_status"].append
            raw_append = data["_raw"].append
            # .tolist() once: iterating a pandas object Series pays a
            # C-to-Python boxing check per element; a plain list does not
            sources = (
                batch["source"].tolist()
                if "source" in batch.columns
                else [None] * len(batch)
            )
            for text, source in zip(batch["raw"].tolist(), sources):
                for raw, parsed in records(text):
                    if len(data["_raw"]) == _FRAME_ROWS:
                        yield pd.DataFrame(data, columns=columns)
                        for c in columns:
                            data[c].clear()
                    raw_append(raw)
                    try:
                        if not isinstance(parsed, dict):
                            raise ValueError("event is not a JSON object")
                        if source:
                            # intake source tag wins (reference
                            # s3_to_firehose.py:107,114,120,125)
                            parsed["source"] = source
                        result = run_pipeline(parsed, plugins, presorted=True)
                        st_append(STATUS_DROPPED if result is None else STATUS_OK)
                    except Exception:
                        result = None
                        st_append(STATUS_FAILED)
                    if result is None:
                        for _, append in shell_appends:
                            append(None)
                    else:
                        shell = _shell_row(result)
                        for c, append in shell_appends:
                            append(shell[c])
            if data["_raw"]:
                yield pd.DataFrame(data, columns=columns)

    return normalize_batches


def normalize_df(
    df: DataFrame,
    raw_col: str = "raw",
    source_col: str | None = None,
    plugin_factory: Callable[[], list[Plugin]] = default_plugins,
) -> DataFrame:
    """Run the plugin pipeline over a DataFrame of raw JSON texts, each
    split into records by ``intake.records`` (one row per record).
    Returns the shell columns plus ``_status``/``_raw`` (filter
    ``_status = 'Ok'`` for the good stream; the rest is the quarantine
    stream, reference processor.py:59-76).

    ``source_col``, when given, stamps each event's ``source`` before
    the pipeline runs (the reference's intake tagging)."""
    cols = [F.col(raw_col).alias("raw")]
    if source_col is not None:
        cols.append(F.col(source_col).alias("source"))
    return df.select(*cols).mapInPandas(
        _make_normalizer(plugin_factory), schema=NORMALIZED_SCHEMA
    )


def add_partition_columns(df: DataFrame) -> DataFrame:
    """Zero-padded ``year/month/day/hour`` **processing-time** partition
    columns (reference semantics: the partition cron registers the
    current wall-clock hour — generate_partitions.py:24-33,
    utils/dates.py:11-33 — so partition != event time by design)."""
    now = F.current_timestamp()
    return (
        df.withColumn("year", F.date_format(now, "yyyy"))
        .withColumn("month", F.date_format(now, "MM"))
        .withColumn("day", F.date_format(now, "dd"))
        .withColumn("hour", F.date_format(now, "HH"))
    )


def write_events(df: DataFrame, path: str) -> None:
    """Append normalized events to the hive-layout partitioned store.

    Parquet+zstd instead of the reference's gzip NDJSON (main.tf:615):
    same pruning behavior on ``year/month/day/hour`` predicates, plus
    column pruning and row-group skipping the reference cannot do."""
    (
        df.drop("_status", "_raw")
        .write.mode("append")
        .partitionBy("year", "month", "day", "hour")
        .parquet(path)
    )
