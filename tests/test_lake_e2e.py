"""End-to-end: landed raw files → intake → plugin pipeline →
partitioned events table → the reference README's two sample queries
verbatim (reference README.md:89-136)."""

import gzip
import json
import os
import sys
import time

import pytest

from defenda_data_lake_spark.lake import EVENTS_TABLE, create_events_table, ingest_batch
from defenda_data_lake_spark.operators.intake import (
    UNPARSEABLE,
    is_cloudtrail,
    records,
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


# Event extraction, text -> records: ``intake.records``, which every
# intake runs inside the normalizer.


@pytest.mark.parametrize(
    "line",
    ['{"a": }\n', 'log line "unterminated\n', '{"a": 1, "b\n', '{"a": } ', 'x\n'],
)
def test_extract_events_time_is_linear_in_malformed_lines(line):
    """A value that does not decode costs what it spans, not its offset
    into the blob: 4x the lines take under 8x the time (13-20x when the
    failed decode counted the lines before it)."""

    def best_of_3(n: int) -> float:
        blob = line * n
        times = []
        for _ in range(3):
            t0 = time.perf_counter()
            list(records(blob))
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
    assert list(records(blob)) == [('{"a": 1}', {"a": 1}), ('{"b": 2}', {"b": 2})]


def test_extract_events_list_and_dict():
    assert len(list(records(json.dumps([{"a": 1}, {"b": 2}])))) == 2
    assert list(records(json.dumps({"a": 1}))) == [('{"a": 1}', {"a": 1})]
    # text that parses as one value is that value, with the whole text as
    # its raw
    assert list(records('{"a": 1}\n')) == [('{"a": 1}\n', {"a": 1})]
    # an unparseable text comes back raw, for the pipeline to quarantine
    assert list(records("not json at all")) == [("not json at all", UNPARSEABLE)]
    assert list(records(None)) == [(None, UNPARSEABLE)]
    assert list(records('{"a": 1}{"b": ')) == [
        ('{"a": 1}', {"a": 1}),
        ('{"b": ', UNPARSEABLE),
    ]
    assert list(records('{"a": }{"b": 2}')) == [
        ('{"a": }', UNPARSEABLE),
        ('{"b": 2}', {"b": 2}),
    ]
    assert list(records(" \n")) == []
    assert list(records("\t")) == []
    assert list(records('\ufeff{"a": 1}')) == [('{"a": 1}', {"a": 1})]
    # values between and around objects are kept, whatever their type
    assert list(records('{"a": 1}\n42\n"x"\n')) == [
        ('{"a": 1}', {"a": 1}),
        ("42", 42),
        ('"x"', "x"),
    ]
    assert list(records('{"a": 1} [1,2] {"b": 2}')) == [
        ('{"a": 1}', {"a": 1}),
        ("1", 1),
        ("2", 2),
        ('{"b": 2}', {"b": 2}),
    ]
    # text that does not decode runs, exactly as landed, to the first
    # value that decodes after whitespace or to the next "{"
    assert list(records('{"a": 1} garbage {"b": 2}')) == [
        ('{"a": 1}', {"a": 1}),
        ("garbage ", UNPARSEABLE),
        ('{"b": 2}', {"b": 2}),
    ]
    assert list(records('x 42 [1] {"a": 1}')) == [
        ("x ", UNPARSEABLE),
        ("42", 42),
        ("1", 1),
        ('{"a": 1}', {"a": 1}),
    ]
    # a value not preceded by whitespace stays inside the garbage
    assert list(records('x42 y"z" {"b": 2}')) == [
        ('x42 y"z" ', UNPARSEABLE),
        ('{"b": 2}', {"b": 2}),
    ]
    # nesting too deep for the decoder is quarantined raw, not raised
    deep = "[" * 100_000
    assert list(records(deep + ' {"b": 2}')) == [
        (deep + " ", UNPARSEABLE),
        ('{"b": 2}', {"b": 2}),
    ]
    # so is an integer longer than int() converts
    long_number = "1" * 5000
    assert list(records('{"a": 1} ' + long_number)) == [
        ('{"a": 1}', {"a": 1}),
        (long_number, UNPARSEABLE),
    ]
    # a list that parses but whose records nest too deep to serialize
    # again (at Python's default recursion limit) is one record, not an
    # error
    nested = "[" * 1023 + "]" * 1023
    limit = sys.getrecursionlimit()
    sys.setrecursionlimit(1000)
    try:
        assert list(records(nested)) == [(nested, UNPARSEABLE)]
    finally:
        sys.setrecursionlimit(limit)


def test_records_cut_record_ends_at_next_line():
    """Text that does not decode ends at the next line that begins with
    anything but whitespace, "}" or "]", so the lines after a cut
    record split as they do one by one; a cut pretty-printed document,
    whose inner lines are indented, stays one slice."""
    text = '{"a": 1}\n{"b": 2, "c\n{"d": 3}\n{"e\n{"f": 4}\n'
    assert list(records(text)) == [
        ('{"a": 1}', {"a": 1}),
        ('{"b": 2, "c', UNPARSEABLE),
        ('{"d": 3}', {"d": 3}),
        ('{"e', UNPARSEABLE),
        ('{"f": 4}', {"f": 4}),
    ]
    text = '{"a": 1, "b\n[{"c": 2}]\n"x"\n{"d\nnot json\nxyz 5\n{"e": 4}\n'
    by_line = [r for line in text.splitlines() for r in records(line)]
    assert [value for _, value in records(text)] == [value for _, value in by_line] == [
        UNPARSEABLE,
        {"c": 2},
        "x",
        UNPARSEABLE,
        UNPARSEABLE,
        UNPARSEABLE,
        5,
        {"e": 4},
    ]
    bundle = {"Records": [{"a": {"b": [1, 2]}, "c": {"d": 3}}, {"e": {"f": 4}}]}
    pretty = json.dumps(bundle, indent=2)
    cut = pretty[: len(pretty) // 2]
    assert list(records(cut)) == [(cut, UNPARSEABLE)]


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


def test_landing_into_a_registered_hour_uses_its_location(spark, tmp_path):
    """An hour registered with ``register_hour_partition`` (a bare
    ``Y/M/D/H`` LOCATION) keeps that LOCATION when a batch lands into it:
    the new files go to the catalog's directory and the rows are visible.
    It drops the module's table, so it stays after every test that uses
    the ``lake`` fixture."""
    from defenda_data_lake_spark.lake import register_hour_partition

    landing = tmp_path / "landing"
    landing.mkdir()
    n = 5
    with open(landing / "events.json", "w") as f:
        for i in range(n):
            f.write(json.dumps({"srcaddr": f"198.51.100.{i}"}) + "\n")
    base = tmp_path / "firehose_output"
    try:
        # the processing-time hour may turn between registering it and
        # landing; a second try lands well inside the next hour
        for attempt in range(2):
            table = tmp_path / f"table{attempt}"
            spark.sql(f"DROP TABLE IF EXISTS {EVENTS_TABLE}")
            create_events_table(spark, location=str(table))
            stmt = register_hour_partition(spark, str(base))
            ingest_batch(spark, str(landing), mode="ndjson")
            partitions = spark.sql(f"SHOW PARTITIONS {EVENTS_TABLE}").collect()
            if len(partitions) == 1:
                break
        hour_dir = base.joinpath(*(v.split("=")[1] for v in partitions[0][0].split("/")))
        assert f"location '{hour_dir}'" in stmt
        assert spark.table(EVENTS_TABLE).count() == n
        assert len(list(hour_dir.glob("*.parquet"))) >= 1
        assert not list(table.glob("year=*"))
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {EVENTS_TABLE}")
