"""Canned detection queries over the normalized events table.

The reference leaves analytics to ad-hoc Athena queries (README.md:89-136);
these are the standard security-lake detection shapes, expressed as
reusable DataFrame transforms over the event shell (§1.2).  Each takes
the events DataFrame (the table or any filtered slice) and returns a
findings DataFrame.

All JVM-side: JSON extraction via ``get_json_object`` (or swap in the
variant projection for many-field rules, ``functions.variant``).

Scale notes: every detection groups/windows on a bounded key
(ip, user); with the hour-partitioned layout, the usual deployment is
an incremental run over the last N closed hours (partition-pruned
scan), not the full table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _ts(df: DataFrame) -> DataFrame:
    return df.withColumn("event_time", F.to_timestamp(F.col("utctimestamp")))


def _auth_failures(events: DataFrame) -> DataFrame:
    """The shared definition of a failed authentication: an
    authentication-category event whose details carry ``success:
    false`` (the gsuite plugin emits exactly this; other sources
    normalize the same way), with ``src_ip`` extracted.  One
    definition so the burst and spray detections can never diverge."""
    return _ts(events).filter(
        (F.col("category") == "authentication")
        & (F.get_json_object("details", "$.success") == "false")
    ).withColumn("src_ip", F.get_json_object("details", "$.sourceipaddress"))


def failed_login_bursts(events: DataFrame) -> DataFrame:
    """Brute-force shape: >= 5 failed authentications from one source
    IP within a tumbling 10-minute window (failure definition:
    ``_auth_failures``)."""
    failures = _auth_failures(events)
    return (
        failures.filter(F.col("src_ip").isNotNull())
        .groupBy(
            F.window("event_time", "10 minutes").alias("w"),
            "src_ip",
        )
        .agg(
            F.count("*").alias("n_failures"),
            F.collect_set("source").alias("sources"),
        )
        .filter(F.col("n_failures") >= 5)
        .select(
            F.col("w.start").alias("window_start"),
            "src_ip",
            "n_failures",
            "sources",
        )
    )


def password_spray(events: DataFrame) -> DataFrame:
    """Password-spray shape: one source IP touching MANY accounts with
    FEW attempts each inside a window — the inverse of a brute-force
    burst (which hammers one account).  Flags 60-minute windows where
    an IP failed against >= 5 distinct users while averaging <= 3
    attempts per user.

    Same scale shape as ``failed_login_bursts``: one keyed aggregation
    on (window, ip) with map-side partial counts; spray sources are by
    definition high-fan-out, so the per-key state is a distinct-user
    count, not a user list."""
    failures = (
        _auth_failures(events)
        .withColumn("user", F.get_json_object("details", "$.user"))
        .filter(F.col("src_ip").isNotNull() & F.col("user").isNotNull())
    )
    return (
        failures.groupBy(
            F.window("event_time", "60 minutes").alias("w"),
            "src_ip",
        )
        .agg(
            F.count_distinct("user").alias("n_accounts"),
            F.count("*").alias("n_failures"),
        )
        .filter(
            (F.col("n_accounts") >= 5)
            & (F.col("n_failures") <= F.col("n_accounts") * F.lit(3))
        )
        .select(
            F.col("w.start").alias("window_start"),
            "src_ip",
            "n_accounts",
            "n_failures",
        )
    )


def beaconing_candidates(events: DataFrame) -> DataFrame:
    """C2-beaconing shape: a (source, destination) pair emitting events
    at suspiciously REGULAR intervals — at least 10 callbacks whose
    inter-event gaps have a coefficient of variation (stddev/mean) of
    at most 0.2.  Humans and bursty services are irregular; malware
    check-ins on a timer are not.

    Scale shape: one window (lag over event time) and one aggregation,
    both partitioned on the same (src, dst) key — a single exchange.
    Per-key state is three scalars (count, mean, stddev), so hot pairs
    cost nothing extra."""
    df = _ts(events).select(
        F.get_json_object("details", "$.sourceipaddress").alias("src_ip"),
        F.get_json_object("details", "$.destinationipaddress").alias("dst_ip"),
        "event_time",
    ).filter(F.col("src_ip").isNotNull() & F.col("dst_ip").isNotNull())
    w = Window.partitionBy("src_ip", "dst_ip").orderBy("event_time")
    gaps = df.withColumn(
        "gap_s",
        F.col("event_time").cast("long")
        - F.lag(F.col("event_time").cast("long")).over(w),
    ).filter(F.col("gap_s").isNotNull())
    return (
        gaps.groupBy("src_ip", "dst_ip")
        .agg(
            F.count("*").alias("n_intervals"),
            F.avg("gap_s").alias("mean_gap_s"),
            F.stddev_pop("gap_s").alias("stddev_gap_s"),
        )
        .filter(
            (F.col("n_intervals") >= 9)  # 10 events
            & (F.col("mean_gap_s") > 0)
            & (F.col("stddev_gap_s") / F.col("mean_gap_s") <= 0.2)
        )
        .withColumn(
            "cv", F.col("stddev_gap_s") / F.col("mean_gap_s")
        )
    )


def first_seen_ips(events: DataFrame) -> DataFrame:
    """New-infrastructure shape: for each (user, source IP) pair, the
    first time it was ever seen — rows where an IP is new for a known
    user are the alert feed."""
    df = _ts(events).select(
        F.get_json_object("details", "$.user").alias("user"),
        F.get_json_object("details", "$.sourceipaddress").alias("src_ip"),
        "event_time",
    ).filter(F.col("user").isNotNull() & F.col("src_ip").isNotNull())
    firsts = df.groupBy("user", "src_ip").agg(
        F.min("event_time").alias("first_seen"), F.count("*").alias("n_events")
    )
    w = Window.partitionBy("user").orderBy("first_seen", "src_ip")
    return firsts.withColumn("ip_rank_for_user", F.row_number().over(w))


#: the wide-extraction rule's detail fields — one JSON path each
PROFILE_FIELDS = (
    "user",
    "sourceipaddress",
    "destinationipaddress",
    "success",
    "suspicious",
    "useragent",
    "kind",
    "action",
)


def account_activity_profiles(events: DataFrame) -> DataFrame:
    """Wide multi-field rule: per-user activity profile built from many
    ``details`` extractions at once (the detection shape that touches
    the most JSON paths per event).

    ``details`` is parsed ONCE into a VARIANT and each path is
    extracted from the binary encoding, instead of one
    ``get_json_object`` per field re-parsing the JSON string (the rows
    are the same; a test pins them against that form).  At 8 paths
    over a 100 k-row nested corpus the extraction stage alone measured
    2.3x faster (0.91 s vs 2.10 s), 1.3x end-to-end once the rule's
    aggregation is added; the gap widens with path count and document
    size (SCALING.md §variant)."""
    from defenda_data_lake_spark.functions.variant import (
        variant_get_string,
        with_variant_details,
    )

    src = with_variant_details(events)
    cols = [
        variant_get_string("details_v", f"$.{f}").alias(f) for f in PROFILE_FIELDS
    ]
    wide = src.select("source", "category", *cols).filter(
        F.col("user").isNotNull()
    )
    return wide.groupBy("user").agg(
        F.count("*").alias("n_events"),
        # eqNullSafe: absent fields count 0, not NULL-poison the sum
        F.sum(F.col("success").eqNullSafe("false").cast("long")).alias("n_failures"),
        F.sum(F.col("suspicious").eqNullSafe("true").cast("long")).alias(
            "n_suspicious"
        ),
        _n_distinct("sourceipaddress").alias("n_source_ips"),
        _n_distinct("useragent").alias("n_useragents"),
        _n_distinct("source").alias("n_sources"),
        F.max("action").alias("last_action_name"),
    )


def _n_distinct(col: str):
    """``count(DISTINCT col)`` as the size of the group's set of values.

    Three ``countDistinct`` columns make Spark expand every row once
    per distinct column and aggregate twice, and it orders the expanded
    groups by a hash of expression ids that are new on every call: the
    generated code then differs between runs, so the rule recompiled 3
    classes in about half its runs.  The set form plans one aggregation
    with the same code every time, at the price of holding each user's
    distinct values instead of a count.  On 12,000 events and 4 cores
    the rule ran in 0.47-0.71 s against 0.60-1.04 s."""
    return F.size(F.collect_set(col)).cast("long")


def rare_event_scores(events: DataFrame) -> DataFrame:
    """Rarity shape: score each (source, category, summary-shape) by
    inverse frequency; the long tail is the hunting feed.  The summary
    shape collapses digits/hex so e.g. per-request IDs don't make every
    event unique."""
    shape = F.regexp_replace(
        F.regexp_replace(F.col("summary"), r"[0-9a-fA-F]{8,}", "#"),
        r"\d+",
        "#",
    )
    counts = events.groupBy(
        "source", "category", shape.alias("summary_shape")
    ).agg(F.count("*").alias("n"))
    # the grand total via a scalar aggregate broadcast back onto the
    # groups — NOT a window over partitionBy(lit(1)), which funnels
    # every group through a single task
    total = counts.agg(F.sum("n").alias("_total"))
    return (
        counts.crossJoin(F.broadcast(total))
        .withColumn("frequency", F.col("n") / F.col("_total"))
        .drop("_total")
        .withColumn("rarity_score", -F.log2("frequency"))
        .orderBy(F.col("rarity_score").desc(), "summary_shape")
    )
