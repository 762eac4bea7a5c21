"""A repeated query reuses its compiled code.

Spark compiles each plan's generated Java into classes and caches them
by source text.  When the cache is smaller than the set of queries a
session cycles through, every query evicts another's classes and each
run compiles them again.  These tests run the lake's query surface — the
README queries, the lookup shapes and the six detections — twice in a
row over a small landed lake and count the compilations of the second
pass with Spark's own ``CodegenMetrics`` counter."""

import json
import random

import pytest

from defenda_data_lake_spark import detections
from defenda_data_lake_spark.lake import EVENTS_TABLE, create_events_table, ingest_batch
from tests.fixtures.events import deep_copy

RULES = (
    "failed_login_bursts",
    "password_spray",
    "beaconing_candidates",
    "first_seen_ips",
    "account_activity_profiles",
    "rare_event_scores",
)


def _events(n: int) -> list[dict]:
    """``n`` events of each fixture shape with varied users, addresses
    and times, so every detection has groups to find."""
    rng = random.Random(0)

    def ip() -> str:
        return f"10.0.{rng.randrange(4)}.{rng.randrange(40)}"

    out = []
    for i in range(n):
        t = f"2026-08-02T{i % 24:02d}:{rng.randrange(60):02d}:{rng.randrange(60):02d}"
        trail = deep_copy("cloudtrail")
        trail["details"].update(
            eventname=rng.choice(["ConsoleLogin", "CreateLogStream"]),
            eventtime=t + "Z",
            sourceipaddress=ip(),
        )
        login = deep_copy("gsuite")
        login["id"]["time"] = t + ".000Z"
        login["actor"]["email"] = f"user{rng.randrange(8)}@example.com"
        login["ipAddress"] = ip()
        login["events"][0]["name"] = rng.choice(["login_failure", "login_success"])
        flow = deep_copy("vpc_flow")
        flow.update(srcaddr=ip(), dstaddr=ip(), start=t)
        edge = deep_copy("cloudfront")
        edge["c-ip"] = ip()
        out += [trail, login, flow, edge, deep_copy("syslog")]
    return out


@pytest.fixture(scope="module")
def lake(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("codegen_lake")
    landing = tmp / "landing"
    landing.mkdir()
    for k, chunk in enumerate((_events(40), _events(40)[::-1])):
        with open(landing / f"events_{k}.json", "w") as f:
            f.writelines(json.dumps(e) + "\n" for e in chunk)
    spark.sql(f"DROP TABLE IF EXISTS {EVENTS_TABLE}")
    create_events_table(spark, location=str(tmp / "events_table"))
    ingest_batch(spark, str(landing), mode="ndjson")
    part = spark.sql(f"SELECT year, month, day, hour, eventid FROM {EVENTS_TABLE} LIMIT 1").first()
    yield spark, part
    spark.sql(f"DROP TABLE IF EXISTS {EVENTS_TABLE}")


def _day(part) -> str:
    return f"year='{part['year']}' AND month='{part['month']}' AND day='{part['day']}'"


def _queries(part) -> dict[str, str]:
    """The README queries verbatim (reference README.md:89-136) and the
    eventid, IP-hunt and source/category lookup shapes of the ``query``
    benchmark, over the landed hour."""
    day = _day(part)
    hour = f"{day} AND hour='{part['hour']}'"
    return {
        "readme_login": f"""
            SELECT utctimestamp,
                     summary,
                     source,
                     details

            FROM "defenda_data_lake"."events"
                where
                source='cloudtrail' AND json_extract_scalar(details,'$.eventname') = 'ConsoleLogin'
                AND (
                        ({hour})
                )
                limit 100
            """,
        "readme_ip": f"""
            SELECT
                utctimestamp,
                summary,
                source,
                details,
                tags
            FROM defenda_data_lake.events
                where
                    source ='s3json'
                AND json_array_contains(json_extract(details,'$._ipaddresses'),'10.0.1.7')
                AND {hour}
                LIMIT 100
            """,
        "eventid": f"SELECT * FROM defenda_data_lake.events WHERE eventid = '{part['eventid']}'",
        "ip_hunt": f"""SELECT utctimestamp, source, summary FROM defenda_data_lake.events
            WHERE json_array_contains(json_extract(details,'$._ipaddresses'),'10.0.2.9')
            AND {day}""",
        "source_category": f"""SELECT utctimestamp, summary FROM defenda_data_lake.events
            WHERE source='gsuite' AND category='authentication' AND {hour}
            LIMIT 50""",
    }


def _compilations(spark) -> int:
    """Classes Spark has compiled from generated code in this JVM."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _run_surface(spark, part) -> dict[str, int]:
    """Run every query once; returns the compilations each one caused."""
    compiled = {}
    for name, sql in _queries(part).items():
        before = _compilations(spark)
        spark.sql(sql).collect()
        compiled[name] = _compilations(spark) - before
    events = spark.table(EVENTS_TABLE).where(_day(part))
    for rule in RULES:
        before = _compilations(spark)
        getattr(detections, rule)(events).write.format("noop").mode("overwrite").save()
        compiled[rule] = _compilations(spark) - before
    return compiled


def test_second_pass_over_the_query_surface_compiles_nothing(lake):
    """Every query's classes survive one pass of all the others: the
    second pass compiles 0 classes."""
    spark, part = lake
    first = _run_surface(spark, part)
    assert sum(first.values()) > 0, "the first pass should compile the surface"
    second = _run_surface(spark, part)
    assert second == {name: 0 for name in second}, second

