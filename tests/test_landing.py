"""The one landing path (``lake.land``): the plugin kernel runs once per
event, and batch and stream intake land the same rows from the same
landing files."""

import functools
import glob
import gzip
import json
import os
from collections import Counter

import pytest

from defenda_data_lake_spark import lake
from defenda_data_lake_spark.lake import EVENTS_TABLE, create_events_table, ingest_batch
from defenda_data_lake_spark.operators import pipeline
from defenda_data_lake_spark.schema import EVENT_SHELL_SCHEMA
from tests.fixtures.events import ALL_FIXTURES, deep_copy


def test_ingest_batch_runs_kernel_once_per_event(spark, tmp_path, monkeypatch):
    calls = spark.sparkContext.accumulator(0)

    class Counting(pipeline.Plugin):
        name = "counting"
        priority = 0

        def on_event(self, event, metadata):
            calls.add(1)
            return event

    def plugin_factory():
        return [Counting(), *pipeline.default_plugins()]

    monkeypatch.setattr(
        lake,
        "normalize_df",
        functools.partial(pipeline.normalize_df, plugin_factory=plugin_factory),
    )
    landing = tmp_path / "landing"
    landing.mkdir()
    n = 25
    with open(landing / "events.json", "w") as f:
        for i in range(n):
            f.write(json.dumps({"srcaddr": f"198.51.100.{i}", "start": 1418530010 + i}) + "\n")
        f.write("{not json\n")

    spark.sql(f"DROP TABLE IF EXISTS {EVENTS_TABLE}")
    create_events_table(spark, location=str(tmp_path / "table"))
    try:
        ingest_batch(
            spark, str(landing), mode="ndjson", quarantine_path=str(tmp_path / "quarantine")
        )
        assert spark.table(EVENTS_TABLE).count() == n
        assert spark.read.json(str(tmp_path / "quarantine")).count() == 1
        assert calls.value == n
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {EVENTS_TABLE}")


def _cut(event: dict) -> str:
    """A record cut mid-delivery: never a whole value."""
    text = json.dumps(event)
    return text[: len(text) // 2]


def _write_landing(landing):
    """Landing files in which no record spans lines, so line and
    whole-file splitting find the same records.  A cut record is
    followed by a list line, a garbage line or a whole record, and a
    garbage line by a scalar line: a whole-file read resyncs at each."""
    landing.mkdir()
    # a raw CloudTrail record (no ``source`` of its own) under the
    # CloudTrail filename convention
    with gzip.open(landing / "123456_cloudtrail_demo.json.gz", "wt") as f:
        f.write(json.dumps(deep_copy("cloudtrail")["details"]) + "\n")
    with open(landing / "flows.json", "w") as f:
        f.write(json.dumps(ALL_FIXTURES["vpc_flow"]()) + "\n")
        f.write(_cut(ALL_FIXTURES["syslog"]()) + "\n")
        f.write(json.dumps([{"summary": "listed 1"}, {"summary": "listed 2"}]) + "\n")
        f.write(json.dumps(ALL_FIXTURES["cloudfront"]()) + "\n")
        f.write(_cut(ALL_FIXTURES["cloudfront"]()) + "\n")
        f.write("not json at all\n")
        f.write(json.dumps({"Records": [{"summary": "bundled 1"}, {"summary": "bundled 2"}]}) + "\n")
        f.write(json.dumps({"summary": "inline 1"}) + json.dumps({"summary": "inline 2"}) + "\n")
        f.write("\n")
        f.write("   \n")
        # whitespace only: no record on any path
        f.write("\t\n")
        f.write("{not json\n")
        f.write("7\n")
        # an integer longer than int() converts: quarantined, not raised
        f.write(json.dumps({"summary": "before a long number"}) + " " + "1" * 5000 + "\n")
        f.write(_cut(ALL_FIXTURES["vpc_flow"]()) + "\n")
        f.write(json.dumps(ALL_FIXTURES["syslog"]()) + "\n")


#: what ``_write_landing`` holds: landed events and quarantined records
LANDED, QUARANTINED = 11, 7


def _landed(spark, quarantine):
    rows = Counter(
        (r["source"], r["summary"], r["category"], r["severity"])
        + (tuple(r["tags"]), tuple(r["plugins"]))
        for r in spark.table(EVENTS_TABLE).collect()
    )
    statuses = Counter(r["_status"] for r in spark.read.json(quarantine).collect())
    return rows, statuses


def test_batch_and_stream_land_the_same_rows(spark, tmp_path):
    """Line splitting (``mode="ndjson"``), whole-file splitting
    (``mode="blob"``) and the stream land the same records from the same
    files: one splitter, ``intake.records``, runs on every text."""
    from defenda_data_lake_spark.streaming.ingest import start_ingest

    landing = tmp_path / "landing"
    _write_landing(landing)

    landed = {}
    spark.sql(f"DROP TABLE IF EXISTS {EVENTS_TABLE}")
    try:
        for mode in ("ndjson", "blob"):
            create_events_table(spark, location=str(tmp_path / f"{mode}_table"))
            quarantine = str(tmp_path / f"{mode}_quarantine")
            ingest_batch(spark, str(landing), mode=mode, quarantine_path=quarantine)
            landed[mode] = _landed(spark, quarantine)
            spark.sql(f"DROP TABLE IF EXISTS {EVENTS_TABLE}")

        create_events_table(spark, location=str(tmp_path / "stream_table"))
        stream_quarantine = str(tmp_path / "stream_quarantine")
        query = start_ingest(
            spark,
            landing_path=str(landing),
            checkpoint_path=str(tmp_path / "ckpt"),
            quarantine_path=stream_quarantine,
            trigger_seconds=1,
        )
        try:
            query.processAllAvailable()
        finally:
            query.stop()
        landed["stream"] = _landed(spark, stream_quarantine)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {EVENTS_TABLE}")

    assert landed["blob"] == landed["ndjson"]
    assert landed["stream"] == landed["ndjson"]
    rows, statuses = landed["ndjson"]
    sources = Counter(source for source, *_ in rows.elements())
    assert sources == Counter({"cloudtrail": 1, "s3json": LANDED - 1})
    summaries = {summary for _, summary, *_ in rows}
    assert {
        "listed 1", "listed 2", "bundled 1", "bundled 2", "inline 1", "inline 2",
        "before a long number",
    } <= summaries
    assert statuses == Counter({"ProcessingFailed": QUARANTINED})


def test_blob_ingest_is_one_python_stage(spark, tmp_path, monkeypatch):
    """Whole-file splitting runs inside the normalizer: the normalized
    frame of a blob ingest holds exactly one ``MapInPandas``."""
    from tests.test_r13_optimizations import _plan_nodes

    landing = tmp_path / "landing"
    _write_landing(landing)
    frames = []
    monkeypatch.setattr(lake, "land", lambda spark, normalized, q: frames.append(normalized))

    spark.sql(f"DROP TABLE IF EXISTS {EVENTS_TABLE}")
    create_events_table(spark, location=str(tmp_path / "table"))
    try:
        ingest_batch(spark, str(landing), mode="blob")
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {EVENTS_TABLE}")
    (normalized,) = frames
    plan = normalized._jdf.queryExecution().optimizedPlan()
    assert sum(n.nodeName() == "MapInPandas" for n in _plan_nodes(plan)) == 1


def test_create_events_table_creates_location(spark, tmp_path):
    location = tmp_path / "fresh" / "events"
    spark.sql(f"DROP TABLE IF EXISTS {EVENTS_TABLE}")
    try:
        create_events_table(spark, location=str(location))
        assert location.is_dir()
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {EVENTS_TABLE}")


def test_blob_intake_quarantines_non_object_values(spark, tmp_path):
    """A blob value that parses but is not a JSON object is quarantined
    as ``ProcessingFailed`` with its payload, as on the NDJSON path —
    a bare scalar blob, a scalar in a list, a scalar in ``Records`` —
    so landed plus quarantined rows still equal the records read."""
    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "scalar.json").write_text("42")
    (landing / "list.json").write_text(json.dumps([{"a": 1}, 7]))
    (landing / "bundle.json").write_text(json.dumps({"Records": [{"b": 2}, "x"]}))
    quarantine = str(tmp_path / "quarantine")

    spark.sql(f"DROP TABLE IF EXISTS {EVENTS_TABLE}")
    create_events_table(spark, location=str(tmp_path / "table"))
    try:
        ingest_batch(spark, str(landing), mode="blob", quarantine_path=quarantine)
        assert spark.table(EVENTS_TABLE).count() == 2
        quarantined = sorted(
            (r["_raw"], r["_status"]) for r in spark.read.json(quarantine).collect()
        )
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {EVENTS_TABLE}")
    assert quarantined == [
        ('"x"', "ProcessingFailed"),
        ("42", "ProcessingFailed"),
        ("7", "ProcessingFailed"),
    ]


def test_ingest_batch_rejects_unknown_mode(spark, tmp_path):
    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "events.json").write_text(json.dumps({"a": 1}) + "\n")

    spark.sql(f"DROP TABLE IF EXISTS {EVENTS_TABLE}")
    create_events_table(spark, location=str(tmp_path / "table"))
    try:
        with pytest.raises(ValueError, match="mode"):
            ingest_batch(spark, str(landing), mode="json")
        assert spark.table(EVENTS_TABLE).count() == 0
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {EVENTS_TABLE}")


def _write_well_formed(landing, n):
    landing.mkdir()
    with open(landing / "events.json", "w") as f:
        for i in range(n):
            f.write(json.dumps({"srcaddr": f"198.51.100.{i}", "start": 1418530010 + i}) + "\n")


def _jobs_in_group(spark, group, run):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return sc.statusTracker().getJobIdsForGroup(group)


def _with_landing_plans(spark, run):
    """Run ``run``; return its result and the physical plans of the SQL
    executions it ran over a staging directory."""
    store = spark._jsparkSession.sharedState().statusStore()

    def executions():
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        found = store.executionsList()
        return [found.apply(i) for i in range(found.size())]

    seen = {e.executionId() for e in executions()}
    result = run()
    plans = (e.physicalPlanDescription() for e in executions() if e.executionId() not in seen)
    return result, [plan for plan in plans if "_landing-" in plan]


def _table_dir(spark):
    return lake._catalog(spark).getTable(lake.DATABASE, "events").location().getPath()


def _assert_landed_files(spark):
    """Every landed file holds exactly the shell columns, and the table
    directory holds only hour partitions: no staging directory is left."""
    table = _table_dir(spark)
    assert all(name.startswith("year=") for name in os.listdir(table)), os.listdir(table)
    files = glob.glob(os.path.join(table, "year=*", "*", "*", "*", "*.parquet"))
    assert files
    for path in files:
        assert spark.read.parquet(path).schema == EVENT_SHELL_SCHEMA


def test_well_formed_batch_lands_in_one_job(spark, tmp_path):
    """A batch of well-formed lines lands in exactly one Spark job, into
    the batch's external table: no cache, and no quarantine write when no
    record failed."""
    n = 20
    _write_well_formed(tmp_path / "landing", n)
    spark.sql(f"DROP TABLE IF EXISTS {EVENTS_TABLE}")
    create_events_table(spark, location=str(tmp_path / "table"))
    try:
        jobs, plans = _with_landing_plans(
            spark,
            lambda: _jobs_in_group(
                spark,
                "land-batch",
                lambda: ingest_batch(
                    spark,
                    str(tmp_path / "landing"),
                    mode="ndjson",
                    quarantine_path=str(tmp_path / "quarantine"),
                ),
            ),
        )
        assert len(jobs) == 1
        # the staged write runs without the planned-write sort
        assert len(plans) == 1 and "Sort" not in plans[0], plans
        assert spark.table(EVENTS_TABLE).count() == n
        _assert_landed_files(spark)
        assert not (tmp_path / "quarantine").exists()
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {EVENTS_TABLE}")


def test_well_formed_stream_batch_lands_in_one_job(spark, tmp_path):
    """A stream micro-batch of well-formed lines lands in exactly one
    Spark job, into the stream's managed table.  The stream runs its jobs
    in the job group of its run id."""
    from defenda_data_lake_spark.streaming.ingest import start_ingest

    n = 20
    _write_well_formed(tmp_path / "landing", n)
    spark.sql(f"DROP TABLE IF EXISTS {EVENTS_TABLE}")
    try:
        def run():
            query = start_ingest(
                spark,
                landing_path=str(tmp_path / "landing"),
                checkpoint_path=str(tmp_path / "ckpt"),
                quarantine_path=str(tmp_path / "quarantine"),
                trigger_seconds=1,
            )
            try:
                query.processAllAvailable()
            finally:
                query.stop()
            return query

        query, plans = _with_landing_plans(spark, run)
        jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(str(query.runId))
        assert len(jobs) == 1
        # the micro-batch runs in the stream's clone of the session: the
        # staged write skips the planned-write sort there too
        assert len(plans) == 1 and "Sort" not in plans[0], plans
        assert spark.table(EVENTS_TABLE).count() == n
        _assert_landed_files(spark)
        assert not (tmp_path / "quarantine").exists()
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {EVENTS_TABLE}")


def test_failed_quarantine_write_lands_nothing(spark, tmp_path, monkeypatch):
    """The quarantine is written before any good row lands: when its
    write fails, ``land`` raises, the table is as it was, the staging
    directory is gone, and a re-run lands each well-formed line once."""
    from pyspark.sql.readwriter import DataFrameWriter

    n = 12
    landing = tmp_path / "landing"
    _write_well_formed(landing, n)
    with open(landing / "events.json", "a") as f:
        f.write("{not json\n")
    quarantine = str(tmp_path / "quarantine")

    def failing_json(self, path, *args, **kwargs):
        raise RuntimeError("quarantine storage unavailable")

    spark.sql(f"DROP TABLE IF EXISTS {EVENTS_TABLE}")
    create_events_table(spark, location=str(tmp_path / "table"))
    try:
        with monkeypatch.context() as m:
            m.setattr(DataFrameWriter, "json", failing_json)
            with pytest.raises(RuntimeError, match="quarantine storage"):
                ingest_batch(spark, str(landing), mode="ndjson", quarantine_path=quarantine)
        assert spark.table(EVENTS_TABLE).count() == 0
        assert os.listdir(tmp_path / "table") == []

        ingest_batch(spark, str(landing), mode="ndjson", quarantine_path=quarantine)
        srcaddrs = [
            r["a"]
            for r in spark.sql(
                f"SELECT get_json_object(details, '$.srcaddr') AS a FROM {EVENTS_TABLE}"
            ).collect()
        ]
        assert sorted(srcaddrs) == sorted(f"198.51.100.{i}" for i in range(n))
        assert spark.read.json(quarantine).count() == 1
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {EVENTS_TABLE}")
