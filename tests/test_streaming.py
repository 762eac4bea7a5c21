"""Structured-Streaming ingest test: landing file → micro-batch →
partitioned events table (SURVEY.md §3.1 re-trace)."""

import json

from defenda_data_lake_spark.lake import EVENTS_TABLE
from defenda_data_lake_spark.streaming.ingest import start_ingest
from tests.fixtures.events import ALL_FIXTURES


def test_streaming_ingest(spark, tmp_path):
    landing = tmp_path / "landing"
    landing.mkdir()
    spark.sql("DROP TABLE IF EXISTS defenda_data_lake.events")

    query = start_ingest(
        spark,
        landing_path=str(landing),
        checkpoint_path=str(tmp_path / "ckpt"),
        quarantine_path=str(tmp_path / "quarantine"),
        trigger_seconds=1,
    )
    try:
        with open(landing / "batch1.ndjson", "w") as f:
            for name in ("cloudtrail", "vpc_flow"):
                f.write(json.dumps(ALL_FIXTURES[name]()) + "\n")
            f.write("this is not json\n")
        query.processAllAvailable()

        df = spark.table(EVENTS_TABLE)
        assert df.count() == 2
        assert df.filter("eventid IS NOT NULL").count() == 2

        # quarantine got the bad record with the original payload
        bad = spark.read.json(str(tmp_path / "quarantine"))
        assert bad.count() == 1
        assert bad.first()["_status"] == "ProcessingFailed"

        # late second batch appends incrementally
        with open(landing / "batch2.ndjson", "w") as f:
            f.write(json.dumps(ALL_FIXTURES["syslog"]()) + "\n")
        query.processAllAvailable()
        assert spark.table(EVENTS_TABLE).count() == 3
    finally:
        query.stop()
        spark.sql("DROP TABLE IF EXISTS defenda_data_lake.events")

