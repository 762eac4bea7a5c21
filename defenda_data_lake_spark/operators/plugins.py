"""The reference's normalization/enrichment plugins, re-implemented
fresh from their behavioral spec (SURVEY.md §2A A16-A21, FIXTURES.md).

Each plugin is a pure ``dict -> dict`` transform hosted by the
Arrow-batched router in ``operators.pipeline`` — the Spark-side
contract is: stateless per record, no shuffle, linear scale-out.
Reference citations are per-class.

Instead of each walking the event again, the plugins share one key index
in the per-event ``metadata`` (``pipeline.KEY_INDEX``): ``LowercaseKeys``
builds the key set, ``EventShell`` reads it, and the first of
``Timestamps``/``IpAddresses`` adds the candidate-field hits.  Every
mutation below either keeps the index exact or drops it; a plugin that
finds no index walks the event itself.
"""

from __future__ import annotations

import html
import ipaddress
import os
import re
import uuid
from datetime import datetime, timezone

from defenda_data_lake_spark.operators.pipeline import KEY_INDEX, Plugin
from defenda_data_lake_spark.schema import SHELL_DEFAULTS
from defenda_data_lake_spark.utils.dates import to_utc
from defenda_data_lake_spark.utils.json_tree import (
    collect_fields,
    deep_merge,
    dict_match,
    enum_keys,
    get_by_path,
    lowercase_keys_into,
)

# Candidate-field lists; ORDER MATTERS (first-match-wins, reference
# timestamps.py:10-16, ip_addresses.py:27-62).
LIKELY_TIMESTAMP_FIELDS = ["timestamp", "@timestamp", "time", "eventtime", "start"]

LIKELY_SOURCE_IP_FIELDS = [
    "src",
    "srcaddr",
    "srcip",
    "src_ip",
    "source_ip",
    "sourceipaddress",
    "source_ip_address",
    "c-ip",
    "clientip",
    "remoteip",
    "remote_ip",
    "remoteaddr",
    "remote_host_ip_address",
    "ipaddress",
    "ip_address",
    "ipaddr",
    "id_orig_h",
    "x-forwarded-for",
    "http-x-forwarded-for",
]

LIKELY_DESTINATION_IP_FIELDS = [
    "dst",
    "dstip",
    "dst_ip",
    "dstaddr",
    "dest",
    "destaddr",
    "dest_ip",
    "destination_ip",
    "destinationipaddress",
    "destination_ip_address",
    "id_resp_h",
    "serverip",
]

#: every field the timestamp and IP searches read: one ``collect_fields``
#: walk over them serves both plugins through the key index
CANDIDATE_FIELDS = frozenset(
    LIKELY_TIMESTAMP_FIELDS
    + ["date"]
    + LIKELY_SOURCE_IP_FIELDS
    + LIKELY_DESTINATION_IP_FIELDS
)


def _candidate_hits(event: dict, metadata: dict) -> dict:
    """The ``CANDIDATE_FIELDS`` hits of ``event``, from the key index when
    it holds them, else from one walk that then becomes the index."""
    index = metadata.get(KEY_INDEX)
    if index is None or index[1] is None:
        index = metadata[KEY_INDEX] = collect_fields(event, CANDIDATE_FIELDS)
    return index[1]


def _assign(metadata: dict, node: dict, key: str, value) -> None:
    """``node[key] = value`` for a ``node`` inside the event, keeping the
    key index exact: ``key`` joins the key set, the hits go when ``key``
    is a candidate field, and the whole index goes when the old value was
    a container (its keys may occur nowhere else)."""
    old = node.get(key)
    node[key] = value
    index = metadata.get(KEY_INDEX)
    if index is None:
        return
    if isinstance(old, (dict, list)):
        del metadata[KEY_INDEX]
        return
    index[0].add(key)
    if key in CANDIDATE_FIELDS:
        metadata[KEY_INDEX] = (index[0], None)


#: dotted-quad matcher: 0-255 per octet, no leading zeros, exactly four
#: octets.  ``re.ASCII`` keeps ``\d`` at [0-9] (unicode digits pass
#: ``isdigit()`` but the stdlib parser rejects them); ``\Z`` (not ``$``)
#: rejects a trailing newline the way the per-octet ``isdigit`` did.
_IPV4_QUAD = re.compile(
    r"(?:25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)"
    r"(?:\.(?:25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)){3}\Z",
    re.ASCII,
)


def is_ip(value) -> bool:
    """Validate an IPv4/IPv6 address or CIDR mask.  Bare integers are
    rejected (must contain ``.`` or ``:``) — reference
    utils/helpers.py:42-58.

    Dotted-quad fast path first: ``ipaddress`` is pure Python and far
    costlier than one compiled-regex match for the overwhelmingly
    common IPv4 case (same accept/reject set: 0-255 per octet, no
    leading zeros); everything else falls back to the stdlib parser."""
    if not isinstance(value, str) or ("." not in value and ":" not in value):
        return False
    if "/" not in value and ":" not in value:
        return _IPV4_QUAD.match(value) is not None
    try:
        if "/" in value:
            ipaddress.ip_network(value, strict=False)
        else:
            ipaddress.ip_address(value)
        return True
    except ValueError:
        return False


class LowercaseKeys(Plugin):
    """Recursively lowercase every key (reference
    normalization_plugins/lowercase_keys.py:12-25; priority 1, '*')."""

    name = "lowercase_keys"
    registration = ["*"]
    priority = 1

    def on_event(self, event: dict, metadata: dict) -> dict:
        keys: set = set()
        event = lowercase_keys_into(event, keys)
        if None in keys:  # two keys collided; keys may name lost ones
            metadata.pop(KEY_INDEX, None)
        else:
            metadata[KEY_INDEX] = (keys, None)
        return event


class EventShell(Plugin):
    """Impose the fixed event shell (reference
    normalization_plugins/event_shell.py:15-45; priority 2, '*').

    Faithful semantics: (1) if any shell key is absent from the
    message's *recursive* key set, deep-merge shell defaults underneath
    (message values win); (2) demote every non-shell **top-level** key
    into ``details``.  Note the shell template intentionally has no
    ``eventid`` — a pre-existing top-level ``eventid`` is demoted into
    ``details`` and ``EnsureEventId`` later mints a fresh one (reference
    quirk, preserved)."""

    name = "event_shell"
    registration = ["*"]
    priority = 2

    SHELL_KEYS = frozenset(
        ["utctimestamp", *SHELL_DEFAULTS, "tags", "plugins", "details"]
    )

    def on_event(self, event: dict, metadata: dict) -> dict:
        index = metadata.get(KEY_INDEX)
        keys = index[0] if index is not None else set(enum_keys(event))
        if not self.SHELL_KEYS <= keys:
            # shell built only when the merge fires: construction has
            # no side effects, and already-shelled events skip the
            # datetime.now + dict build entirely
            shell = {
                "utctimestamp": datetime.now(timezone.utc).isoformat(),
                **SHELL_DEFAULTS,
                "tags": [],
                "plugins": [],
                "details": {},
            }
            event = deep_merge(shell, event)
            keys |= self.SHELL_KEYS
        # demoting moves keys but changes the walk order of the hits
        metadata[KEY_INDEX] = (keys, None)
        for key in [k for k in event if k not in self.SHELL_KEYS]:
            details = event["details"]
            if key in details:  # the demoted value replaces a subtree
                metadata.pop(KEY_INDEX, None)
            details[key] = event.pop(key)
        return event


def _uuid4_str() -> str:
    """``str(uuid.uuid4())`` without the ``UUID`` object: same 122
    random bits from ``os.urandom``, same version/variant bits, same
    8-4-4-4-12 hex text — measured ~6x faster at the ingest kernel's
    row rate (the UUID class validates and int-packs per mint)."""
    b = bytearray(os.urandom(16))
    b[6] = (b[6] & 0x0F) | 0x40  # version 4
    b[8] = (b[8] & 0x3F) | 0x80  # RFC 4122 variant
    h = b.hex()
    return f"{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:]}"


class EnsureEventId(Plugin):
    """Add ``eventid = uuid4()`` when missing (reference
    enrichment_plugins/ensure_eventid.py:14-18; priority 10, '*').
    The reference's only *enrichment*-pass plugin: it runs after every
    normalization plugin (processor.py:40-45), not at priority order."""

    name = "ensure_eventid"
    registration = ["*"]
    priority = 10
    phase = "enrichment"

    def on_event(self, event: dict, metadata: dict) -> dict:
        if "eventid" not in event:
            event["eventid"] = _uuid4_str()
        return event


class Timestamps(Plugin):
    """Discover the event's real timestamp and normalize it to UTC ISO
    (reference normalization_plugins/timestamps.py:33-75; priority 20,
    '*').

    Semantics preserved exactly: candidate fields are searched in list
    order against the full recursive key set; all occurrences of a field
    are collected (the reference's ``find_keys``); the ``time`` field
    zips with ``date`` when both exist; the first *parseable* value wins
    and stops the whole search; unparseable values are skipped silently;
    the plugin always stamps ``details._utcprocessedtimestamp``."""

    name = "timestamps"
    registration = ["*"]
    priority = 20

    def on_event(self, event: dict, metadata: dict) -> dict:
        hits = _candidate_hits(event, metadata)
        done = False
        for field in LIKELY_TIMESTAMP_FIELDS:
            if done or field not in hits:
                continue
            candidates = hits[field]
            if field == "time" and "date" in hits:
                candidates = [f"{d} {t}" for d, t in zip(hits["date"], candidates)]
            for candidate in candidates:
                try:
                    stamp = to_utc(candidate)
                except Exception:
                    continue
                _assign(metadata, event, "utctimestamp", stamp.isoformat())
                done = True
                break
        if "details" not in event:
            _assign(metadata, event, "details", {})
        details = event["details"]
        if isinstance(details, dict):
            _assign(
                metadata,
                details,
                "_utcprocessedtimestamp",
                datetime.now(timezone.utc).isoformat(),
            )
        return event


class IpAddresses(Plugin):
    """Discover source/destination IPs anywhere in the event tree
    (reference normalization_plugins/ip_addresses.py:17-135; priority
    20, '*').

    Semantics preserved: candidate fields in list order, first *valid*
    IP wins; comma lists (``x-forwarded-for``) take their first element
    — for SOURCE fields only, as in the reference
    (ip_addresses.py:64-69 splits in the source search; the destination
    search has no split, so ``'1.2.3.4,5.6.7.8'`` in a destination
    field is simply not a valid IP); an existing non-IP
    ``details.sourceipaddress`` equal to ``details.useragent`` is
    deleted (CloudTrail quirk); every valid IP found accumulates
    (deduped, order-preserving) into ``details._ipaddresses``."""

    name = "ip_addresses"
    registration = ["*"]
    priority = 20

    @staticmethod
    def _first_valid_ip(
        hits: dict, fields: list[str], split_commas: bool = False
    ) -> str | None:
        for field in fields:
            for value in hits.get(field, ()):
                if split_commas and isinstance(value, str) and "," in value:
                    value = value.split(",")[0].strip()
                if is_ip(value):
                    return value
        return None

    @staticmethod
    def _put(event: dict, metadata: dict, key: str, value) -> None:
        """Set ``event["details"][key] = value``, creating ``details``
        when it is not a dict, and keep the key index exact."""
        details = event.get("details")
        if not isinstance(details, dict):
            metadata.pop(KEY_INDEX, None)  # the old details goes
            details = event["details"] = {}
        _assign(metadata, details, key, value)

    def on_event(self, event: dict, metadata: dict) -> dict:
        # both searches use the pre-mutation view, as the reference does
        hits = _candidate_hits(event, metadata)
        found: list[str] = []

        source_ip = get_by_path(event, "details.sourceipaddress")
        if not source_ip:
            ip = self._first_valid_ip(hits, LIKELY_SOURCE_IP_FIELDS, split_commas=True)
            if ip is not None:
                # freshly discovered -> already validated by
                # _first_valid_ip; skip the re-get + re-is_ip
                self._put(event, metadata, "sourceipaddress", ip)
                found.append(ip)
        elif is_ip(source_ip):
            found.append(source_ip)
        elif source_ip == get_by_path(event, "details.useragent"):
            # CloudTrail writes service hostnames (config.amazonaws.com)
            # into both fields; drop the fake address.
            del event["details"]["sourceipaddress"]
            metadata.pop(KEY_INDEX, None)

        dest_ip = get_by_path(event, "details.destinationipaddress")
        if not dest_ip:
            ip = self._first_valid_ip(hits, LIKELY_DESTINATION_IP_FIELDS)
            if ip is not None:
                self._put(event, metadata, "destinationipaddress", ip)
                found.append(ip)
        elif is_ip(dest_ip):
            found.append(dest_ip)

        if found:
            existing = get_by_path(event, "details._ipaddresses")
            if not existing:
                self._put(event, metadata, "_ipaddresses", found)
            elif isinstance(existing, list):
                existing.extend(ip for ip in found if ip not in existing)
        return event


def _gsuite_summary(event: dict) -> str:
    """The reference's mustache summary (gsuite_login.py:43),
    ``{{details.user}} {{details.events.0.name}} from IP
    {{details.sourceipaddress}}``: a missing path or ``None`` renders
    empty, any other value as its HTML-escaped ``str`` (``False``
    renders ``"False"``)."""

    def field(path: str) -> str:
        value = get_by_path(event, path)
        return "" if value is None else html.escape(str(value), quote=False)

    return (
        f"{field('details.user')} {field('details.events.0.name')}"
        f" from IP {field('details.sourceipaddress')}"
    )


class GsuiteLogin(Plugin):
    """Normalize a GSuite admin-reports login activity record (reference
    normalization_plugins/gsuite_login.py:16-62; priority 20,
    registration ``['kind']``)."""

    name = "gsuite_login"
    registration = ["kind"]
    priority = 20

    def on_event(self, event: dict, metadata: dict) -> dict:
        details = event.get("details")
        if (
            not isinstance(details, dict)
            or "admin#reports#activity" not in str(details.get("kind", ""))
            or "id" not in details
            or "etag" not in details
        ):
            return event

        event["source"] = "gsuite"
        event.setdefault("tags", []).append("gsuite")

        if "ipaddress" in details:
            details["sourceipaddress"] = details.pop("ipaddress")

        if get_by_path(event, "details.id.time"):
            event["utctimestamp"] = to_utc(details["id"]["time"]).isoformat()

        if get_by_path(event, "details.actor.email"):
            details["user"] = get_by_path(event, "details.actor.email")

        event["summary"] = _gsuite_summary(event)

        event["category"] = "authentication"

        if "fail" in event["summary"]:
            details["success"] = False
        if "success" in event["summary"]:
            details["success"] = True

        suspicious = {"boolvalue": True, "name": "is_suspicious"}
        for activity in get_by_path(event, "details.events", []) or []:
            for param in (
                activity.get("parameters", []) if isinstance(activity, dict) else []
            ):
                if dict_match(suspicious, param):
                    details["suspicious"] = True
        return event
