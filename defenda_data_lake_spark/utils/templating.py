"""Mustache template rendering for plugin summaries.

The reference renders event summaries with the ``chevron`` mustache
library (reference normalization_plugins/gsuite_login.py:43:
``chevron.render("{{details.user}} {{details.events.0.name}} from IP
{{details.sourceipaddress}}", message)``).  This is a dependency-free
implementation of the mustache subset plugins need:

* ``{{name}}`` — HTML-escaped interpolation
* ``{{{name}}}`` / ``{{& name}}`` — raw interpolation
* dotted names, including numeric list indices (``details.events.0.name``)
* ``{{#section}} … {{/section}}`` — falsy skips; lists iterate with the
  item pushed as context; other truthy values render once
* ``{{^section}} … {{/section}}`` — inverted (renders when falsy/empty)
* ``{{! comment }}``
* ``{{.}}`` — the implicit iterator (current item)

Missing names render as the empty string (mustache's default).  Name
resolution walks the context stack innermost-first; a dotted name
resolves its first segment against the stack and the rest within the
value found, exactly the mustache spec's behavior.
"""

from __future__ import annotations

import functools
import html
import re
from typing import Any

_TAG = re.compile(
    r"\{\{\{\s*(?P<triple>[^}]+?)\s*\}\}\}"  # {{{ raw }}}
    r"|\{\{\s*(?P<tag>[#^/&!]?)\s*(?P<name>[^}]+?)\s*\}\}"
)


def _index(value: Any, key: str) -> Any:
    """One segment of a dotted lookup: dict key, or list index when the
    segment is digits (chevron resolves ``events.0`` into a list)."""
    if isinstance(value, dict):
        return value.get(key)
    if isinstance(value, (list, tuple)) and key.lstrip("-").isdigit():
        i = int(key)
        return value[i] if -len(value) <= i < len(value) else None
    return None


def _resolve(name: str, stack: list[Any]) -> Any:
    if name == ".":
        return stack[-1] if stack else None
    head, *rest = name.split(".")
    value = None
    for frame in reversed(stack):
        if isinstance(frame, dict) and head in frame:
            value = frame[head]
            break
        candidate = _index(frame, head)
        if candidate is not None:
            value = candidate
            break
    else:
        return None
    for segment in rest:
        value = _index(value, segment)
        if value is None:
            return None
    return value


@functools.lru_cache(maxsize=256)
def _tokens(template: str) -> tuple:
    """``template``'s tags as ``(start, end, tag, name)``, scanned once per
    template instead of once per render.  ``tag`` is ``"{"`` for a triple
    mustache, else the sigil (``""`` for a plain interpolation)."""
    return tuple(
        (m.start(), m.end(), "{", m.group("triple").strip())
        if m.group("triple") is not None
        else (m.start(), m.end(), m.group("tag"), m.group("name").strip())
        for m in _TAG.finditer(template)
    )


def _find_section_end(tokens: tuple, i: int, name: str) -> int:
    """Return the index of the ``{{/name}}`` token that closes the
    section whose body starts at ``tokens[i]``, honoring nesting."""
    depth = 1
    for j in range(i, len(tokens)):
        tag, tag_name = tokens[j][2], tokens[j][3]
        if tag in ("#", "^") and tag_name == name:
            depth += 1
        elif tag == "/" and tag_name == name:
            depth -= 1
            if depth == 0:
                return j
    raise ValueError(f"unclosed mustache section: {name!r}")


def _render(template: str, stack: list[Any]) -> str:
    tokens = _tokens(template)
    out: list[str] = []
    pos = 0
    i = 0
    while i < len(tokens):
        start, end, tag, name = tokens[i]
        out.append(template[pos:start])
        pos = end
        i += 1
        if tag == "!":
            continue
        if tag in ("#", "^"):
            close = _find_section_end(tokens, i, name)
            body = template[end : tokens[close][0]]
            value = _resolve(name, stack)
            truthy = bool(value) if not isinstance(value, (list, tuple)) else bool(
                len(value)
            )
            if tag == "#" and truthy:
                items = value if isinstance(value, (list, tuple)) else [value]
                for item in items:
                    out.append(_render(body, stack + [item]))
            elif tag == "^" and not truthy:
                out.append(_render(body, stack))
            pos = tokens[close][1]
            i = close + 1
        elif tag == "/":
            raise ValueError(f"unexpected section close: {name!r}")
        else:
            value = _resolve(name, stack)
            if value is not None:
                value = str(value)
                out.append(html.escape(value, quote=False) if tag == "" else value)
    out.append(template[pos:])
    return "".join(out)


def render(template: str, context: Any) -> str:
    """Render a mustache ``template`` against ``context`` (typically the
    event dict).  Drop-in for the reference's ``chevron.render``."""
    return _render(template, [context])
