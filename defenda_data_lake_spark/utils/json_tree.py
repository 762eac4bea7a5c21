"""Recursive helpers over *unknown-shape* JSON trees.

The reference's plugin pipeline manipulates arbitrary nested JSON whose
schema is never inferred (reference utils/dict_helpers.py:19-96,
utils/dotdict.py:13-35).  No static Catalyst expression can traverse an
unknown schema, so these helpers run inside the Arrow-batched pandas
plugin host (``operators.pipeline``) — the one place this engine is
deliberately Python-side.  They are fresh implementations of the
behaviors surveyed in SURVEY.md §2A (A22-A25).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any


def lowercase_keys_into(node: Any, keys: set) -> Any:
    """Recursively lowercase every dict key (reference
    normalization_plugins/lowercase_keys.py:12-25), adding every key of
    the result, at every depth, to ``keys``.  When two keys of one dict
    lowercase alike it adds ``None`` as well: the losing value's keys
    are then in ``keys`` though no longer in the tree.  Scalar leaves
    are passed through inline rather than through a recursive call —
    ~70% of nodes in a typical event are leaves, and the call overhead
    was measurable at the ingest kernel's row rate."""
    if isinstance(node, dict):
        out = {
            (k if type(k) is str else str(k)).lower(): (
                lowercase_keys_into(v, keys) if isinstance(v, (dict, list)) else v
            )
            for k, v in node.items()
        }
        if len(out) != len(node):
            keys.add(None)
        keys.update(out)
        return out
    if isinstance(node, list):
        return [
            lowercase_keys_into(v, keys) if isinstance(v, (dict, list)) else v
            for v in node
        ]
    return node


def deep_merge(base: dict, override: dict) -> dict:
    """Recursive two-dict merge; ``override`` wins on leaves (reference
    utils/dict_helpers.py:5-16).  Returns a new dict."""
    out = dict(base)
    for k, v in override.items():
        if k in out and isinstance(out[k], dict) and isinstance(v, dict):
            out[k] = deep_merge(out[k], v)
        else:
            out[k] = v
    return out


def enum_keys(node: Any) -> Iterator[str]:
    """Yield every dict key at every depth (reference
    utils/dict_helpers.py:49-60).  Iterative: every consumer builds a
    set, so yield order is not part of the contract, and an explicit
    stack avoids the per-node generator-delegation frames that made
    the recursive form the pipeline's hottest function."""
    stack = [node]
    while stack:
        cur = stack.pop()
        if isinstance(cur, dict):
            for k, v in cur.items():
                yield k
                if isinstance(v, (dict, list)):
                    stack.append(v)
        elif isinstance(cur, list):
            for item in cur:
                if isinstance(item, (dict, list)):
                    stack.append(item)


def collect_fields(
    node: Any, wanted: set
) -> tuple[set, dict[str, list]]:
    """One recursive walk returning (every key at every depth, values
    of the ``wanted`` fields in document order).

    Fuses ``set(enum_keys(event))`` + one keyed search per candidate
    field (the reference's ``find_keys``, utils/dict_helpers.py:19-31)
    — the pattern both the timestamp and IP plugins need — into a
    single traversal.  Value order per field is exactly that search's
    order (match yielded at its key, then descent), so first-match-wins
    semantics are unchanged."""
    keys: set = set()
    hits: dict[str, list] = {}
    keys_add = keys.add
    # iterative pre-order DFS with suspended parent iterators: exactly
    # the recursive descent's visit order (differential-pinned against
    # the recursive form on 20k random trees), minus the per-node call
    # frames and the per-invocation closure the recursive form paid
    if isinstance(node, dict):
        stack = [(True, iter(node.items()))]
    elif isinstance(node, list):
        stack = [(False, iter(node))]
    else:
        return keys, hits
    push = stack.append
    pop = stack.pop
    while stack:
        is_dict, it = stack[-1]
        advanced = False
        if is_dict:
            for k, v in it:
                keys_add(k)
                if k in wanted:
                    h = hits.get(k)
                    if h is None:
                        hits[k] = [v]
                    else:
                        h.append(v)
                if isinstance(v, dict):
                    push((True, iter(v.items())))
                    advanced = True
                    break
                elif isinstance(v, list):
                    push((False, iter(v)))
                    advanced = True
                    break
        else:
            for item in it:
                if isinstance(item, dict):
                    push((True, iter(item.items())))
                    advanced = True
                    break
                elif isinstance(item, list):
                    push((False, iter(item)))
                    advanced = True
                    break
        if not advanced:
            pop()
    return keys, hits


def get_by_path(node: Any, dotted: str, default: Any = None) -> Any:
    """Dotted-path get, e.g. ``get_by_path(e, "details.actor.email")``
    (reference utils/dict_helpers.py:87-96, utils/dotdict.py:13-35).
    Integer segments index into lists (mustache-style ``events.0.name``)."""
    cur = node
    for seg in dotted.split("."):
        if isinstance(cur, dict):
            if seg not in cur:
                return default
            cur = cur[seg]
        elif isinstance(cur, list) and seg.isdigit() and int(seg) < len(cur):
            cur = cur[int(seg)]
        else:
            return default
    return cur


def dict_match(criteria: dict, candidate: Any) -> bool:
    """True when every (k, v) in ``criteria`` appears with equal value in
    ``candidate`` (reference utils/dict_helpers.py:69-76)."""
    if not isinstance(candidate, dict):
        return False
    return all(k in candidate and candidate[k] == v for k, v in criteria.items())

