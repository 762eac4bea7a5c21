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


def test_failed_login_bursts(events):
    hits = failed_login_bursts(events, threshold=5, window_minutes=10).collect()
    assert len(hits) == 1
    assert hits[0]["src_ip"] == "203.0.113.9"
    assert hits[0]["n_failures"] == 5
    assert "gsuite" in hits[0]["sources"]


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
    from defenda_data_lake_spark.detections import password_spray
    from defenda_data_lake_spark.schema import EVENT_SHELL_SCHEMA

    rows = [
        # sprayer: 6 accounts, 1 failure each, same hour
        *[
            _event(
                f"2026-02-01T08:{10 + i:02d}:00+00:00",
                summary="fail",
                success=False,
                sourceipaddress="203.0.113.50",
                user=f"user{i}@example.com",
            )
            for i in range(6)
        ],
        # brute-forcer: 6 failures against ONE account -> excluded by
        # the attempts-per-account ceiling? No — 6 <= 1 * 3 fails, so
        # n_accounts=1 < min_accounts excludes it first
        *[
            _event(
                f"2026-02-01T09:{10 + i:02d}:00+00:00",
                summary="fail",
                success=False,
                sourceipaddress="198.51.100.99",
                user="victim@example.com",
            )
            for i in range(6)
        ],
        # noisy-but-legit: 5 accounts but hammering (4 tries each)
        *[
            _event(
                f"2026-02-01T10:{(i * 2) % 60:02d}:00+00:00",
                summary="fail",
                success=False,
                sourceipaddress="192.0.2.200",
                user=f"svc{i % 5}@example.com",
            )
            for i in range(20)
        ],
    ]
    events = spark.createDataFrame(rows, EVENT_SHELL_SCHEMA)
    hits = password_spray(
        events, min_accounts=5, max_per_account=3, window_minutes=60
    ).collect()
    assert len(hits) == 1
    assert hits[0]["src_ip"] == "203.0.113.50"
    assert hits[0]["n_accounts"] == 6
    assert hits[0]["n_failures"] == 6


def test_beaconing_candidates(spark):
    from defenda_data_lake_spark.detections import beaconing_candidates
    from defenda_data_lake_spark.schema import EVENT_SHELL_SCHEMA

    rows = [
        # beacon: exactly every 60s, 12 callbacks
        *[
            _event(
                f"2026-03-01T00:{i:02d}:00+00:00",
                category="netflow",
                summary="flow",
                sourceipaddress="10.0.0.5",
                destinationipaddress="203.0.113.200",
            )
            for i in range(12)
        ],
        # human-ish: irregular gaps (same count)
        *[
            _event(
                f"2026-03-01T01:{m:02d}:{s:02d}+00:00",
                category="netflow",
                summary="flow",
                sourceipaddress="10.0.0.9",
                destinationipaddress="198.51.100.30",
            )
            for m, s in [(0, 0), (0, 11), (2, 37), (3, 2), (7, 55), (8, 0),
                         (13, 40), (14, 2), (21, 8), (22, 0), (30, 30), (31, 0)]
        ],
        # regular but too few events
        *[
            _event(
                f"2026-03-01T02:{i:02d}:00+00:00",
                category="netflow",
                summary="flow",
                sourceipaddress="10.0.0.7",
                destinationipaddress="192.0.2.9",
            )
            for i in range(4)
        ],
    ]
    events = spark.createDataFrame(rows, EVENT_SHELL_SCHEMA)
    hits = beaconing_candidates(events, min_events=10, max_cv=0.2).collect()
    assert len(hits) == 1
    h = hits[0]
    assert (h["src_ip"], h["dst_ip"]) == ("10.0.0.5", "203.0.113.200")
    assert h["n_intervals"] == 11
    assert h["mean_gap_s"] == 60.0
    assert h["cv"] == 0.0
