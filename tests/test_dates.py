"""to_utc coercion goldens — mirrors reference tests
(reference lambdas/tests/test_core.py:62-66, test_plugin_timestamps.py)."""

from datetime import datetime, timezone

import pytest

from defenda_data_lake_spark.utils.dates import to_utc


def test_iso_with_z_suffix():
    assert to_utc("2019-09-04T17:54:59Z") == datetime(
        2019, 9, 4, 17, 54, 59, tzinfo=timezone.utc
    )


def test_iso_naive_localizes_to_utc():
    # TZ pinned to UTC in conftest
    assert to_utc("2014-12-14T04:06:50").isoformat() == "2014-12-14T04:06:50+00:00"


def test_date_plus_time_string():
    assert to_utc("2020-09-01 17:48:18").isoformat() == "2020-09-01T17:48:18+00:00"


def test_epoch_seconds():
    assert to_utc(1567619699) == datetime(2019, 9, 4, 17, 54, 59, tzinfo=timezone.utc)
    assert to_utc("1567619699") == datetime(
        2019, 9, 4, 17, 54, 59, tzinfo=timezone.utc
    )


def test_epoch_milliseconds_and_nanoseconds():
    want = datetime(2019, 9, 4, 17, 54, 59, tzinfo=timezone.utc)
    assert to_utc(1567619699000.0) == want
    assert to_utc(1567619699000000000.0) == want


def test_nonpositive_epoch_is_unix_zero():
    assert to_utc(0).isoformat() == "1970-01-01T00:00:00+00:00"
    assert to_utc("-5").isoformat() == "1970-01-01T00:00:00+00:00"


def test_fuzzy_parse():
    got = to_utc("Apr 17 06:10:54")
    assert (got.month, got.day, got.hour, got.minute, got.second) == (4, 17, 6, 10, 54)


def test_millisecond_precision_kept():
    assert (
        to_utc("2020-03-02T17:54:33.253Z").isoformat()
        == "2020-03-02T17:54:33.253000+00:00"
    )


def test_hopeless_input_raises():
    with pytest.raises(Exception):
        to_utc("nada")
    with pytest.raises(Exception):
        to_utc(None)


def test_naive_timestamps_follow_tzset(monkeypatch):
    """The cached local zone is keyed on the ``time`` settings, so a
    ``TZ`` change plus ``tzset()`` takes effect in-process."""
    import time

    naive = "2020-07-01 12:00:00"
    try:
        monkeypatch.setenv("TZ", "XXX-5")  # UTC+5, no DST
        time.tzset()
        assert to_utc(naive).isoformat() == "2020-07-01T07:00:00+00:00"
        monkeypatch.setenv("TZ", "EST+5EDT,M3.2.0/2,M11.1.0/2")
        time.tzset()
        assert to_utc(naive).isoformat() == "2020-07-01T16:00:00+00:00"
        assert to_utc("2020-01-01 12:00:00").isoformat() == "2020-01-01T17:00:00+00:00"
    finally:
        monkeypatch.undo()
        time.tzset()
    assert to_utc(naive).isoformat() == "2020-07-01T12:00:00+00:00"
