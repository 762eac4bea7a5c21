"""Detection-query shapes over the normalized event shell."""

import json

import pytest
from pyspark.sql import functions as F

from defenda_data_lake_spark.detections import (
    PROFILE_FIELDS,
    account_activity_profiles,
    failed_login_bursts,
    first_seen_ips,
    rare_event_scores,
)


def _event(ts, category="authentication", source="gsuite", summary="x", **details):
    return (None, ts, "INFO", summary, category, source, [], [], json.dumps(details))


COLS = [
    "eventid", "utctimestamp", "severity", "summary",
    "category", "source", "tags", "plugins", "details",
]


@pytest.fixture(scope="module")
def events(spark):
    rows = [
        # 5 failures from one IP within 10 minutes -> burst
        *[
            _event(
                f"2026-01-01T10:0{i}:00+00:00",
                summary="user fail login",
                success=False,
                sourceipaddress="203.0.113.9",
                user="alice@example.com",
            )
            for i in range(5)
        ],
        # scattered failures from another IP -> no burst
        _event(
            "2026-01-01T10:00:00+00:00",
            summary="bob fail login",
            success=False,
            sourceipaddress="198.51.100.7",
            user="bob@example.com",
        ),
        # successes
        _event(
            "2026-01-01T11:00:00+00:00",
            summary="alice login_success",
            success=True,
            sourceipaddress="203.0.113.9",
            user="alice@example.com",
        ),
        _event(
            "2026-01-02T09:00:00+00:00",
            summary="alice login_success",
            success=True,
            sourceipaddress="192.0.2.77",
            user="alice@example.com",
        ),
        # non-auth noise
        _event(
            "2026-01-01T10:05:00+00:00",
            category="monitoring",
            source="syslog",
            summary="sudo session 12345 opened",
        ),
        _event(
            "2026-01-01T10:06:00+00:00",
            category="monitoring",
            source="syslog",
            summary="sudo session 99887 opened",
        ),
        _event(
            "2026-01-01T10:07:00+00:00",
            category="netflow",
            source="vpc",
            summary="flow deadbeefcafe4242 accepted",
        ),
    ]
    from defenda_data_lake_spark.schema import EVENT_SHELL_SCHEMA

    return spark.createDataFrame(rows, EVENT_SHELL_SCHEMA)


def _failures(ip, minutes, users, hour="2026-01-01T10"):
    """Failed logins from ``ip``, one per ``(minute, user)``."""
    return [
        _event(
            f"{hour}:{m:02d}:00+00:00",
            summary="fail",
            success=False,
            sourceipaddress=ip,
            user=user,
        )
        for m, user in zip(minutes, users)
    ]


def test_failed_login_bursts(spark):
    """The defaults: >= 5 failures in one 10-minute tumbling window.
    Each fixture IP sits one failure, or one window edge, from them."""
    from defenda_data_lake_spark.schema import EVENT_SHELL_SCHEMA

    alice = ["alice@example.com"] * 5
    rows = [
        # 5 failures spread over [10:00, 10:10) -> burst; a 5-minute
        # window would split them
        *_failures("203.0.113.9", [0, 2, 4, 6, 9], alice),
        # 4 failures in one window -> one short of the threshold
        *_failures("198.51.100.7", [0, 1, 2, 3], alice),
        # 5 failures across the 10:10 edge -> 3 + 2; a 15-minute or
        # longer window would hold all five
        *_failures("192.0.2.44", [7, 8, 9, 10, 11], alice),
    ]
    events = spark.createDataFrame(rows, EVENT_SHELL_SCHEMA)
    hits = failed_login_bursts(events).collect()
    assert len(hits) == 1
    assert hits[0]["src_ip"] == "203.0.113.9"
    assert hits[0]["n_failures"] == 5
    assert hits[0]["sources"] == ["gsuite"]


def test_first_seen_ips(events):
    rows = {
        (r["user"], r["src_ip"]): r for r in first_seen_ips(events).collect()
    }
    alice_first = rows[("alice@example.com", "203.0.113.9")]
    alice_new = rows[("alice@example.com", "192.0.2.77")]
    assert alice_first["ip_rank_for_user"] == 1
    assert alice_new["ip_rank_for_user"] == 2
    assert str(alice_new["first_seen"]).startswith("2026-01-02")


def test_account_activity_profiles_variant_parity(events):
    """The VARIANT extraction gives the rows the same rule gives with
    one ``get_json_object`` per field over the JSON string."""
    via_variant = sorted(account_activity_profiles(events).collect())
    wide = events.select(
        "source",
        "category",
        *[F.get_json_object("details", f"$.{f}").alias(f) for f in PROFILE_FIELDS],
    ).filter(F.col("user").isNotNull())
    via_json = sorted(
        wide.groupBy("user")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("success").eqNullSafe("false").cast("long")).alias(
                "n_failures"
            ),
            F.sum(F.col("suspicious").eqNullSafe("true").cast("long")).alias(
                "n_suspicious"
            ),
            F.countDistinct("sourceipaddress").alias("n_source_ips"),
            F.countDistinct("useragent").alias("n_useragents"),
            F.countDistinct("source").alias("n_sources"),
            F.max("action").alias("last_action_name"),
        )
        .collect()
    )
    assert via_variant == via_json
    rows = {r["user"]: r for r in via_variant}
    alice = rows["alice@example.com"]
    assert alice["n_failures"] >= 5
    assert alice["n_source_ips"] >= 2


def test_rare_event_scores_collapse_ids(events):
    scores = rare_event_scores(events).collect()
    shapes = {r["summary_shape"]: r for r in scores}
    # the two sudo summaries collapse into one shape with n=2
    assert shapes["sudo session # opened"]["n"] == 2
    # hex request id collapses too
    assert "flow # accepted" in shapes
    # rarity: the n=1 netflow shape scores higher than the n=5 failure shape
    assert (
        shapes["flow # accepted"]["rarity_score"]
        > shapes["user fail login"]["rarity_score"]
    )


def test_password_spray(spark):
    """The defaults: >= 5 accounts and <= 3 failures per account in one
    60-minute window.  Each fixture IP sits one account, one failure
    or one window edge from them."""
    from defenda_data_lake_spark.detections import password_spray
    from defenda_data_lake_spark.schema import EVENT_SHELL_SCHEMA

    users = [f"user{a}@example.com" for a in range(6)]
    rows = [
        # sprayer: 5 accounts x 3 failures in [08:00, 09:00) -> hit;
        # account 4 only in the last minutes, so a 30-minute window
        # sees 4 accounts
        *_failures(
            "203.0.113.50",
            [a * 3 + k for a in range(4) for k in range(3)] + [57, 58, 59],
            [users[a] for a in range(5) for _ in range(3)],
            hour="2026-02-01T08",
        ),
        # 4 accounts, one failure each -> one account short
        *_failures("198.51.100.99", [1, 2, 3, 4], users, hour="2026-02-01T08"),
        # 5 accounts, 16 failures -> one failure over 5 x 3
        *_failures(
            "192.0.2.200",
            range(16),
            [users[a % 5] for a in range(16)],
            hour="2026-02-01T10",
        ),
        # 6 accounts across the 13:00 edge -> 3 + 3; a 120-minute
        # window would hold all six
        *_failures("198.51.100.120", [50, 54, 58], users[:3], "2026-02-01T12"),
        *_failures("198.51.100.120", [1, 5, 9], users[3:], "2026-02-01T13"),
    ]
    events = spark.createDataFrame(rows, EVENT_SHELL_SCHEMA)
    hits = password_spray(events).collect()
    assert len(hits) == 1
    assert hits[0]["src_ip"] == "203.0.113.50"
    assert hits[0]["n_accounts"] == 5
    assert hits[0]["n_failures"] == 15


def test_beaconing_candidates(spark):
    """The defaults: >= 10 events whose gaps have a coefficient of
    variation <= 0.2.  Each fixture pair sits one event, or 0.01 of
    CV, from them."""
    from datetime import datetime, timedelta, timezone

    from defenda_data_lake_spark.detections import beaconing_candidates
    from defenda_data_lake_spark.schema import EVENT_SHELL_SCHEMA

    def flows(src, dst, gaps):
        t = datetime(2026, 3, 1, tzinfo=timezone.utc)
        out = []
        for gap in [0, *gaps]:
            t += timedelta(seconds=gap)
            out.append(
                _event(
                    t.isoformat(),
                    category="netflow",
                    summary="flow",
                    sourceipaddress=src,
                    destinationipaddress=dst,
                )
            )
        return out

    rows = [
        # 10 callbacks every 60 s -> hit
        *flows("10.0.0.5", "203.0.113.200", [60] * 9),
        # 9 callbacks every 60 s -> one event short
        *flows("10.0.0.7", "192.0.2.9", [60] * 8),
        # gaps 100 +- 19 s: CV 0.19 -> hit
        *flows("10.0.0.8", "198.51.100.31", [81, 119] * 5),
        # gaps 100 +- 21 s: CV 0.21 -> too irregular
        *flows("10.0.0.9", "198.51.100.30", [79, 121] * 5),
    ]
    events = spark.createDataFrame(rows, EVENT_SHELL_SCHEMA)
    hits = {
        (h["src_ip"], h["dst_ip"]): h
        for h in beaconing_candidates(events).collect()
    }
    assert set(hits) == {("10.0.0.5", "203.0.113.200"), ("10.0.0.8", "198.51.100.31")}
    regular = hits[("10.0.0.5", "203.0.113.200")]
    assert regular["n_intervals"] == 9
    assert regular["mean_gap_s"] == 60.0
    assert regular["cv"] == 0.0
    assert hits[("10.0.0.8", "198.51.100.31")]["cv"] == pytest.approx(0.19)
