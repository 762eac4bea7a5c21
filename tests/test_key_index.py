"""The plugins' shared key index (``metadata[KEY_INDEX]``).

``run_pipeline`` lets ``LowercaseKeys`` hand its key set to
``EventShell`` and one ``collect_fields`` walk serve ``Timestamps``,
``IpAddresses`` and the router.  These tests pin that the shared walk
changes nothing:

* differential: every event gives the same shell row through
  ``run_pipeline`` as through per-plugin ``on_event(event, {})`` calls
  (no index anywhere), over random trees and each known way to stale
  the index;
* invariant: after every plugin that keeps the index, it equals a fresh
  walk of the event;
* foreign plugins (reference adapters, directory-registered plugins,
  subclasses of the built-ins) never pass an index on.
"""

from __future__ import annotations

import copy
import random
from datetime import datetime, timezone

import pytest

from defenda_data_lake_spark.operators import plugins as plugins_mod
from defenda_data_lake_spark.operators.pipeline import (
    KEY_INDEX,
    Plugin,
    ReferencePluginAdapter,
    _index_keepers,
    _shell_row,
    default_plugins,
    event_criteria_values,
    order_plugins,
    register_plugins,
    run_pipeline,
)
from defenda_data_lake_spark.operators.plugins import CANDIDATE_FIELDS
from defenda_data_lake_spark.utils.json_tree import collect_fields
from tests.fixtures.events import ALL_FIXTURES, deep_copy
from tests.test_r12_optimizations import _rand_tree

RANDOM_TREES = 20_000

#: keys that reach every branch: candidate fields, shell keys, the
#: gsuite route, keys that collide after lowercasing
KEYS = [
    "a0", "b1", "Time", "time", "date", "Date", "start", "timestamp",
    "@timestamp", "eventtime", "srcaddr", "SrcAddr", "src", "x-forwarded-for",
    "dst", "dstaddr", "sourceipaddress", "destinationipaddress", "useragent",
    "details", "Details", "utctimestamp", "tags", "plugins", "category",
    "summary", "severity", "source", "eventid", "kind", "id", "etag",
    "actor", "email", "events", "_ipaddresses", "_utcprocessedtimestamp",
]
VALUES = [
    1, "x", None, 3.5, True, "", 0, -5, "1.2.3.4", "10.0.0.1, 10.0.0.2",
    "2001:db8::1", "10.0.0.0/8", "2014-12-14T04:06:50",
    "2020-01-01 10:00:00", "1418530010", 1418530010123, "not a date",
    "12:30:00", "admin#reports#activity", "config.amazonaws.com",
    ["gsuite"], [], {},
]


def _rand_event(rng: random.Random, depth: int):
    roll = rng.random()
    if depth == 0 or roll < 0.25:
        return copy.deepcopy(rng.choice(VALUES))
    if roll < 0.35:
        return _rand_tree(rng, depth)
    if roll < 0.75:
        return {
            rng.choice(KEYS): _rand_event(rng, depth - 1)
            for _ in range(rng.randint(0, 6))
        }
    return [_rand_event(rng, depth - 1) for _ in range(rng.randint(0, 3))]


def _random_events(n: int):
    rng = random.Random(20261017)
    for _ in range(n):
        event = _rand_event(rng, 4)
        yield event if isinstance(event, dict) else {"root": event}


#: each way a plugin can leave the index stale
PITFALLS = {
    # Timestamps replaces a dict-valued utctimestamp that holds IP fields
    "dict_utctimestamp": {
        "utctimestamp": {"srcaddr": "1.2.3.4", "dst": "5.6.7.8"},
        "timestamp": "2020-01-01T00:00:00Z",
        "severity": "INFO", "summary": "s", "category": "c", "source": "x",
        "tags": [], "plugins": [], "details": {},
    },
    # two keys that collide after lowercasing
    "collision": {"SrcAddr": {"srcaddr": "1.2.3.4"}, "srcaddr": 7, "Kind": 1},
    "collision_nested": {"a": [{"Time": {"kind": 1}, "time": "2020-01-01T00:00:00"}]},
    # a demoted key replaces a subtree already in details
    "demote_onto_details": {
        "details": {"foo": {"srcaddr": "1.2.3.4", "kind": "k"}},
        "foo": 1,
    },
    # the CloudTrail delete of details.sourceipaddress
    "cloudtrail_delete": {
        "details": {
            "sourceipaddress": "config.amazonaws.com",
            "useragent": "config.amazonaws.com",
        },
        "srcaddr": "9.9.9.9",
    },
    # a non-dict details that a found IP replaces
    "non_dict_details": {
        "utctimestamp": "2020-01-01T00:00:00+00:00",
        "severity": "INFO", "summary": "s", "category": "c", "source": "x",
        "tags": [{"srcaddr": "1.2.3.4"}], "plugins": [], "details": "text",
    },
    "non_dict_details_demote": {"details": "text", "srcaddr": "1.2.3.4"},
    "list_details": {
        "utctimestamp": "u", "severity": "INFO", "summary": "s",
        "category": "c", "source": "x", "tags": [], "plugins": [],
        "details": [{"dst": "5.6.7.8"}],
    },
    # container-valued fields the plugins assign over
    "dict_processed_stamp": {
        "details": {"_utcprocessedtimestamp": {"srcaddr": "1.2.3.4"}},
    },
    "falsy_container_ip": {
        "details": {"sourceipaddress": {}, "_ipaddresses": []},
        "src": "1.2.3.4",
    },
}


@pytest.fixture
def frozen(monkeypatch):
    """``datetime.now`` and the event id minter pinned."""

    class Frozen(datetime):
        @classmethod
        def now(cls, tz=None):
            return datetime(2026, 1, 2, 3, 4, 5, tzinfo=timezone.utc)

    monkeypatch.setattr(plugins_mod, "datetime", Frozen)
    monkeypatch.setattr(plugins_mod, "_uuid4_str", lambda: "fixed-id")


def _outcome(run, event):
    try:
        result = run(event)
    except Exception as exc:  # the Arrow host quarantines these
        return ("failed", type(exc).__name__)
    return ("dropped",) if result is None else ("ok", _shell_row(result))


def _by_plugin(event, plugins):
    """The pipeline with no index: each plugin walks for itself and
    routing uses the full criteria-token set."""
    executed = []
    for p in plugins:
        if "*" not in p.registration and not (
            {t.lower() for t in p.registration} & event_criteria_values(event)
        ):
            continue
        event = p.on_event(event, {})
        if event is None:
            return None
        executed.append(p.name)
    event["plugins"] = list(event.get("plugins") or []) + executed
    return event


def _cases():
    yield from PITFALLS.items()
    for name in ALL_FIXTURES:
        yield name, deep_copy(name)
    for i, event in enumerate(_random_events(RANDOM_TREES)):
        yield f"random-{i}", event


def test_run_pipeline_matches_per_plugin_calls(frozen):
    plugins = order_plugins(default_plugins())
    outcomes = {"ok": 0, "failed": 0}
    for name, event in _cases():
        shared = _outcome(
            lambda e: run_pipeline(e, plugins, presorted=True), copy.deepcopy(event)
        )
        alone = _outcome(lambda e: _by_plugin(e, plugins), copy.deepcopy(event))
        assert shared == alone, name
        outcomes[shared[0]] = outcomes.get(shared[0], 0) + 1
    # both arms of the host are exercised
    assert outcomes["ok"] > RANDOM_TREES // 2 and outcomes["failed"] > 100


def test_kept_index_equals_a_fresh_walk(frozen, monkeypatch):
    """Each plugin that keeps the index is checked, as it returns, against
    a fresh walk of the event."""
    seen: dict = {}

    def checked(on_event):
        def wrapper(self, event, metadata):
            event = on_event(self, event, metadata)
            index = metadata.get(KEY_INDEX)
            if event is not None and index is not None:
                keys, hits = collect_fields(event, CANDIDATE_FIELDS)
                assert index[0] == keys, self.name
                if index[1] is not None:
                    assert index[1] == hits, self.name
                kind = "hits" if index[1] is not None else "keys"
                seen[(self.name, kind)] = seen.get((self.name, kind), 0) + 1
            return event

        return wrapper

    for cls in _index_keepers():
        monkeypatch.setattr(cls, "on_event", checked(cls.on_event))
    plugins = order_plugins(default_plugins())
    for _, event in _cases():
        try:
            run_pipeline(event, plugins, presorted=True)
        except AssertionError:
            raise
        except Exception:  # a failed event, quarantined by the host
            pass
    # the index really is kept through the roster
    for name, kind in [
        ("lowercase_keys", "keys"),
        ("event_shell", "keys"),
        ("timestamps", "hits"),
        ("ip_addresses", "hits"),
        ("ip_addresses", "keys"),
    ]:
        assert seen.get((name, kind), 0) > 1000, (name, kind, seen)


class _AddsSourceIp:
    """A reference-style plugin that adds a source-IP field and records
    whether an index reached it."""

    registration = ["*"]
    priority = 20

    def __init__(self, log: list):
        self.log = log

    def onMessage(self, message, metadata):
        self.log.append(KEY_INDEX in metadata)
        message["details"]["hidden"] = {"srcaddr": "1.2.3.4"}
        return message, metadata


class _Spy(Plugin):
    """Records whether an index reached it."""

    name = "spy"
    registration = ["*"]

    def __init__(self, priority: int, log: list):
        self.priority, self.log = priority, log

    def on_event(self, event, metadata):
        self.log.append(KEY_INDEX in metadata)
        return event


def test_reference_adapter_leaves_no_index():
    from defenda_data_lake_spark.operators.plugins import (
        EventShell,
        IpAddresses,
        LowercaseKeys,
        Timestamps,
    )

    log: list = []
    # between Timestamps, which builds the hits, and IpAddresses, which
    # reads them (same priority: registration order holds)
    plugins = [
        LowercaseKeys(),
        EventShell(),
        Timestamps(),
        ReferencePluginAdapter(_AddsSourceIp(log), "adds_ip"),
        _Spy(20, log),
        IpAddresses(),
    ]
    result = run_pipeline({"a": 1}, plugins)
    assert log == [True, False]
    # IpAddresses walked the event again and found the new field
    assert result["details"]["sourceipaddress"] == "1.2.3.4"
    assert result["plugins"] == [
        "lowercase_keys", "event_shell", "timestamps", "adds_ip", "spy",
        "ip_addresses",
    ]


def test_subclasses_of_built_ins_leave_no_index(tmp_path):
    (tmp_path / "lower.py").write_text(
        "from defenda_data_lake_spark.operators.plugins import LowercaseKeys\n"
        "class Lower(LowercaseKeys):\n"
        "    name = 'lower'\n"
    )
    (plugin,) = [p for p in register_plugins(str(tmp_path)) if p.name == "lower"]
    log: list = []
    result = run_pipeline({"A": 1}, [plugin, _Spy(50, log)])
    assert result["a"] == 1 and log == [False]
