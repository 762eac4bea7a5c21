"""End-to-end: landed raw files → intake → plugin pipeline →
partitioned events table → the reference README's two sample queries
verbatim (reference README.md:89-136)."""

import gzip
import json
import os
import time

import pytest

from defenda_data_lake_spark.lake import EVENTS_TABLE, create_events_table, ingest_batch
from defenda_data_lake_spark.operators.intake import (
    UNPARSEABLE,
    extract_events,
    is_cloudtrail,
    split_concatenated_json,
)
from tests.fixtures.events import ALL_FIXTURES, deep_copy


@pytest.fixture(scope="module")
def lake(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("lake")
    landing = tmp / "landing"
    landing.mkdir()

    # one NDJSON file with 4 fixtures
    with open(landing / "mixed_events.json", "w") as f:
        for name in ("cloudtrail", "cloudfront", "vpc_flow", "syslog"):
            f.write(json.dumps(ALL_FIXTURES[name]()) + "\n")

    # a CloudTrail-convention gzip bundle: {"Records": [...]}
    bundle = {"Records": [deep_copy("cloudtrail")["details"] | {"extra": 1}]}
    with gzip.open(landing / "123456_cloudtrail_demo.json.gz", "wt") as f:
        f.write(json.dumps(bundle))

    # a concatenated-JSON blob (no separators) + one bad record
    with open(landing / "concatenated.json", "w") as f:
        f.write(json.dumps(deep_copy("gsuite")))
        f.write(json.dumps({"msg": "hello", "timestamp": 1567619699}))
    with open(landing / "broken.json", "w") as f:
        f.write('{"unterminated": ')

    spark.sql("DROP TABLE IF EXISTS defenda_data_lake.events")
    create_events_table(spark, location=str(tmp / "events_table"))
    ingest_batch(
        spark, str(landing), mode="blob", quarantine_path=str(tmp / "quarantine")
    )
    return {"tmp": tmp, "spark": spark}


def test_row_count_and_shell(lake):
    spark = lake["spark"]
    df = spark.table(EVENTS_TABLE)
    # 4 ndjson + 1 bundle record + 2 concatenated = 7 good events
    assert df.count() == 7
    assert df.schema.simpleString().startswith(
        "struct<eventid:string,utctimestamp:string,severity:string,"
        "summary:string,category:string,source:string,tags:array<string>,"
        "plugins:array<string>,details:string"
    )
    # every row got an eventid and partition columns
    assert df.filter("eventid IS NULL").count() == 0
    assert df.filter("year IS NULL OR hour IS NULL").count() == 0


def test_quarantine_captured(lake):
    spark, tmp = lake["spark"], lake["tmp"]
    bad = spark.read.json(str(tmp / "quarantine"))
    # broken.json does not parse as a whole or as blocks: it is
    # quarantined with its payload, not lost
    assert [r.asDict() for r in bad.collect()] == [
        {"_status": "ProcessingFailed", "_raw": '{"unterminated": '}
    ]


def test_source_tagging(lake):
    spark = lake["spark"]
    rows = spark.sql(
        f"SELECT source, count(*) AS n FROM {EVENTS_TABLE} GROUP BY source"
    ).collect()
    by_source = {r["source"]: r["n"] for r in rows}
    assert by_source.get("cloudtrail") == 1  # the gzip bundle record
    assert by_source.get("gsuite") == 1  # gsuite plugin overrides intake tag
    assert by_source.get("s3json") == 5


def test_readme_console_login_query_verbatim(lake):
    """First README sample query (README.md:89-109), with table name and
    partition values adapted to this run's processing time."""
    spark = lake["spark"]
    part = spark.sql(f"SELECT year, month, day, hour FROM {EVENTS_TABLE} LIMIT 1").first()
    result = spark.sql(
        f"""
        SELECT utctimestamp,
                 summary,
                 source,
                 details

        FROM "defenda_data_lake"."events"
            where
            source='cloudtrail' AND json_extract_scalar(details,'$.eventname') = 'CreateLogStream'
            AND (
                    (year='{part["year"]}'
                    AND month='{part["month"]}'
                    AND day='{part["day"]}'
                    AND hour='{part["hour"]}')
            )
            limit 100
        """
    ).collect()
    assert len(result) == 1
    assert json.loads(result[0]["details"])["eventname"] == "CreateLogStream"


def test_readme_ipaddresses_query_verbatim(lake):
    """Second README sample query (README.md:120-136)."""
    spark = lake["spark"]
    part = spark.sql(f"SELECT year, month, day, hour FROM {EVENTS_TABLE} LIMIT 1").first()
    result = spark.sql(
        f"""
        SELECT
            utctimestamp,
            summary,
            source,
            details,
            tags
        FROM defenda_data_lake.events
            where
                source ='s3json'
            AND json_array_contains(json_extract(details,'$._ipaddresses'),'198.51.100.1')
            AND year='{part["year"]}'
            AND month='{part["month"]}'
            AND day='{part["day"]}'
            AND hour='{part["hour"]}'
            LIMIT 100
        """
    ).collect()
    assert len(result) == 1
    assert "198.51.100.1" in json.loads(result[0]["details"])["_ipaddresses"]


def test_partition_pruning_in_plan(lake):
    """The partition predicates must reach the scan (PartitionFilters),
    not be applied post-scan — the reference's only query-cost lever."""
    spark = lake["spark"]
    part = spark.sql(f"SELECT year FROM {EVENTS_TABLE} LIMIT 1").first()
    plan = (
        spark.sql(
            f"SELECT count(*) FROM {EVENTS_TABLE} WHERE year='{part['year']}' AND month='01'"
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan


def test_normalized_goldens_survive_roundtrip(lake):
    spark = lake["spark"]
    row = spark.sql(
        f"SELECT * FROM {EVENTS_TABLE} "
        "WHERE json_extract_scalar(details, '$.eventname') = 'CreateLogStream' "
        "AND source='cloudtrail'"
    ).first()
    details = json.loads(row["details"])
    assert details["sourceipaddress"] == "54.21.12.27"
    assert row["utctimestamp"] == "2019-09-04T17:54:59+00:00"

    gsuite = spark.sql(
        f"SELECT * FROM {EVENTS_TABLE} WHERE category='authentication'"
    ).first()
    assert gsuite["source"] == "gsuite"
    assert gsuite["summary"] == "someone@somewhere.com login_success from IP 123.456.253.226"


# ---------------------------------------------------------------- intake unit


def test_is_cloudtrail():
    assert is_cloudtrail("123456_cloudtrail_demo.json.gz")
    assert is_cloudtrail("path/to/999_CloudTrail_x.JSON.GZ")
    assert not is_cloudtrail("cloudtrail.json")
    assert not is_cloudtrail("")


@pytest.mark.parametrize("line", ['{"a": }\n', 'log line "unterminated\n'])
def test_extract_events_time_is_linear_in_malformed_lines(line):
    """A value that does not decode costs what it spans, not its offset
    into the blob: 4x the lines take under 8x the time (13-20x when the
    failed decode counted the lines before it)."""

    def best_of_3(n: int) -> float:
        blob = line * n
        times = []
        for _ in range(3):
            t0 = time.perf_counter()
            list(extract_events(blob))
            times.append(time.perf_counter() - t0)
        return min(times)

    small, large = best_of_3(5000), best_of_3(20000)
    assert large < 8 * small, (small, large)


def test_split_concatenated_json():
    blob = '{"a": 1}{"b": {"c": 2}} \n {"d": "te}xt"}'
    assert list(split_concatenated_json(blob)) == [
        ('{"a": 1}', {"a": 1}),
        ('{"b": {"c": 2}}', {"b": {"c": 2}}),
        ('{"d": "te}xt"}', {"d": "te}xt"}),
    ]
    # a malformed block ends at its own closing brace, not one in a string
    blob = '{"d": "te}xt",}{"a": 1}'
    assert list(split_concatenated_json(blob)) == [
        ('{"d": "te}xt",}', UNPARSEABLE),
        ('{"a": 1}', {"a": 1}),
    ]


def test_split_handles_escaped_quotes():
    blob = '{"a": "he said \\"hi\\" {ok}"}{"b": 2}'
    assert list(split_concatenated_json(blob)) == [
        ('{"a": "he said \\"hi\\" {ok}"}', {"a": 'he said "hi" {ok}'}),
        ('{"b": 2}', {"b": 2}),
    ]
    blob = '{"a": "he said \\"hi\\" {ok}",}{"b": 2}'
    assert list(split_concatenated_json(blob)) == [
        ('{"a": "he said \\"hi\\" {ok}",}', UNPARSEABLE),
        ('{"b": 2}', {"b": 2}),
    ]


def test_extract_events_unrolls_records():
    blob = json.dumps({"Records": [{"a": 1}, {"b": 2}]})
    events = list(extract_events(blob, "7_cloudtrail_x.json.gz"))
    assert len(events) == 2
    assert all(src == "cloudtrail" for _, src in events)
    assert json.loads(events[0][0])["source"] == "cloudtrail"


def test_extract_events_list_and_dict():
    assert len(list(extract_events(json.dumps([{"a": 1}, {"b": 2}]), "x.json"))) == 2
    assert len(list(extract_events(json.dumps({"a": 1}), "x.json"))) == 1
    # an unparseable blob comes back raw, for the pipeline to quarantine
    assert list(extract_events("not json at all", "x.json")) == [
        ("not json at all", "s3json")
    ]
    assert list(extract_events('{"a": 1}{"b": ', "x.json")) == [
        ('{"b": ', "s3json"),
        ('{"a": 1, "source": "s3json"}', "s3json"),
    ]
    assert list(extract_events('{"a": }{"b": 2}', "x.json")) == [
        ('{"a": }', "s3json"),
        ('{"b": 2, "source": "s3json"}', "s3json"),
    ]
    assert list(extract_events(" \n", "x.json")) == []
    assert list(extract_events('\ufeff{"a": 1}', "x.json")) == [
        ('{"a": 1, "source": "s3json"}', "s3json")
    ]
    # values between and around objects are kept, whatever their type
    assert list(extract_events('{"a": 1}\n42\n"x"\n', "x.json")) == [
        ('{"a": 1, "source": "s3json"}', "s3json"),
        ("42", "s3json"),
        ('"x"', "s3json"),
    ]
    assert list(extract_events('{"a": 1} [1,2] {"b": 2}', "x.json")) == [
        ('{"a": 1, "source": "s3json"}', "s3json"),
        ("1", "s3json"),
        ("2", "s3json"),
        ('{"b": 2, "source": "s3json"}', "s3json"),
    ]
    # text that does not decode runs, exactly as landed, to the first
    # value that decodes after whitespace or to the next "{"
    assert list(extract_events('{"a": 1} garbage {"b": 2}', "x.json")) == [
        ("garbage ", "s3json"),
        ('{"a": 1, "source": "s3json"}', "s3json"),
        ('{"b": 2, "source": "s3json"}', "s3json"),
    ]
    assert list(extract_events('x 42 [1] {"a": 1}', "f.json")) == [
        ("x ", "s3json"),
        ("42", "s3json"),
        ("1", "s3json"),
        ('{"a": 1, "source": "s3json"}', "s3json"),
    ]
    # a value not preceded by whitespace stays inside the garbage
    assert list(extract_events('x42 y"z" {"b": 2}', "x.json")) == [
        ('x42 y"z" ', "s3json"),
        ('{"b": 2, "source": "s3json"}', "s3json"),
    ]
    # nesting too deep for the decoder is quarantined raw, not raised
    deep = "[" * 100_000
    assert list(extract_events(deep + ' {"b": 2}', "x.json")) == [
        (deep + " ", "s3json"),
        ('{"b": 2, "source": "s3json"}', "s3json"),
    ]


def test_verbatim_partition_ddl_registers_external_hour(lake):
    """The reference's partition cron emits literal ``ALTER TABLE …
    ADD IF NOT EXISTS PARTITION (…) LOCATION 's3://…/Y/M/D/H'`` text
    (reference generate_partitions.py:26-34) against a BARE Y/M/D/H
    path layout.  Replay that exact statement against the events table
    and check the partition's rows become visible to the README-style
    queries."""
    from defenda_data_lake_spark.lake import register_hour_partition

    spark, tmp = lake["spark"], lake["tmp"]
    base = tmp / "firehose_output"
    parts = ("2031", "02", "03", "04")
    hour_dir = base / "/".join(parts)

    # an external writer (the reference's Firehose) lands data columns
    # only — partition values live in the DDL, not the files
    data = spark.table(EVENTS_TABLE).drop("year", "month", "day", "hour")
    row = data.limit(1).collect()[0].asDict()
    row.update(
        eventid="ddl-registered-event",
        source="ddlsource",
        summary="external partition row",
    )
    spark.createDataFrame([row], data.schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(hour_dir))

    before = spark.table(EVENTS_TABLE).filter("year = '2031'").count()
    assert before == 0
    stmt = register_hour_partition(spark, str(base), parts)
    assert "ADD IF NOT EXISTS PARTITION" in stmt and "location" in stmt

    after = spark.sql(
        f"""SELECT source, summary FROM "defenda_data_lake"."events"
            WHERE year='2031' AND month='02' AND day='03' AND hour='04'"""
    ).collect()
    assert [(r["source"], r["summary"]) for r in after] == [
        ("ddlsource", "external partition row")
    ]
    # idempotent, like IF NOT EXISTS promises
    register_hour_partition(spark, str(base), parts)
    assert spark.table(EVENTS_TABLE).filter("eventid = 'ddl-registered-event'").count() == 1


def test_registered_hour_check_submits_no_job(lake):
    """Re-registering an hour is a catalog lookup: it submits no Spark
    job and leaves the partition's LOCATION where it was."""
    from defenda_data_lake_spark.lake import register_hour_partition

    spark, tmp = lake["spark"], lake["tmp"]
    parts = ("2032", "05", "06", "07")
    spec = "year='2032', month='05', day='06', hour='07'"
    register_hour_partition(spark, str(tmp / "first_base"), parts)

    def location():
        rows = spark.sql(
            f"DESCRIBE FORMATTED {EVENTS_TABLE} PARTITION ({spec})"
        ).collect()
        return [r["data_type"] for r in rows if r["col_name"] == "Location"]

    before = location()
    assert before and before[0].endswith("first_base/2032/05/06/07")
    sc = spark.sparkContext
    sc.setJobGroup("register-again", "re-register a registered hour")
    try:
        register_hour_partition(spark, str(tmp / "second_base"), parts)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("register-again") == []
    assert location() == before
