"""Universal timestamp coercion — ``to_utc``.

Re-implements the reference's ``toUTC`` semantics (reference
utils/dates.py:36-88) from its behavioral spec:

* datetime -> used as-is;
* float/int (or digit string): epoch value whose unit is inferred from
  magnitude — values with more than 10 digits are scaled down to seconds
  (handles s / ms / us / ns epochs); ``<= 0`` -> 1970-01-01;
* other strings: fuzzy ``dateutil`` parse;
* naive datetimes are localized to the *local* timezone (the reference
  pins TZ=UTC in tests; so do ours), then normalized to UTC.

This runs only inside the Arrow-batched pandas plugin host; for typed
columns with known formats use ``F.to_timestamp`` /
``F.from_unixtime`` instead (SURVEY.md A26).
"""

from __future__ import annotations

import functools
import math
import time
from datetime import datetime, timezone
from typing import Any

from dateutil import tz as _dateutil_tz
from dateutil.parser import parse as _fuzzy_parse

_EPOCH_MAGNITUDE = 9  # 10-digit epochs are seconds until the year 2286


@functools.lru_cache(maxsize=8)
def _tzlocal_for(setting: tuple):
    return _dateutil_tz.tzlocal()


def _local_tz():
    """``dateutil.tz.tzlocal()``, built once per local-zone setting
    instead of once per naive timestamp.  ``tzlocal`` reads exactly
    these four ``time`` attributes when built, so keying on them lets a
    later ``time.tzset()`` take effect."""
    return _tzlocal_for((time.timezone, time.altzone, time.daylight, time.tzname))


def _from_epoch(value: float) -> datetime:
    if value <= 0:
        return datetime(1970, 1, 1)
    magnitude = int(math.log10(int(value)))
    if magnitude > _EPOCH_MAGNITUDE:
        value = value / 10 ** (magnitude - _EPOCH_MAGNITUDE)
    return datetime.fromtimestamp(value, _local_tz())


def to_utc(suspected: Any) -> datetime:
    """Coerce almost anything into a tz-aware UTC datetime.

    Raises ``ValueError``/``OverflowError``/``dateutil`` parse errors on
    hopeless input — callers treat that as "not a timestamp" and move on
    to the next candidate field (first-parseable-match-wins, reference
    normalization_plugins/timestamps.py:56-68).
    """
    obj: datetime | None = None
    if isinstance(suspected, datetime):
        obj = suspected
    elif isinstance(suspected, bool):
        raise ValueError(f"not a timestamp: {suspected!r}")
    elif isinstance(suspected, (int, float)):
        obj = _from_epoch(float(suspected))
    elif isinstance(suspected, str):
        text = suspected.strip()
        if text.isdigit():
            obj = _from_epoch(float(text))
        else:
            try:
                if float(text) <= 0:
                    obj = datetime(1970, 1, 1)
            except ValueError:
                pass
            if obj is None:
                # fast path: ISO-8601 (the overwhelmingly common case in
                # the ingest stream) parses ~20x faster than the fuzzy
                # parser and yields the identical datetime
                try:
                    obj = datetime.fromisoformat(text.replace("Z", "+00:00"))
                except ValueError:
                    obj = _fuzzy_parse(text, fuzzy=True)
    else:
        raise ValueError(f"not a timestamp: {suspected!r}")

    if obj.tzinfo is None:
        obj = obj.replace(tzinfo=_local_tz())
    return obj.astimezone(timezone.utc)

