"""Streaming source adapters (sources/): the raw-column contract, the
Kinesis option wiring, and start_ingest accepting an explicit source."""

import json

import pytest

from defenda_data_lake_spark.sources import FileLandingSource, KinesisSource


def test_file_landing_source_contract(spark, tmp_path):
    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "a.json").write_text(json.dumps({"summary": "hi"}) + "\n")
    df = FileLandingSource(str(landing), max_files_per_trigger=4).load(spark)
    assert df.isStreaming
    assert df.columns == ["raw", "source"]


def test_kinesis_source_options():
    src = KinesisSource(
        "events-stream",
        region="us-west-2",
        starting_position="TRIM_HORIZON",
        endpoint_url="https://kinesis.us-west-2.amazonaws.com",
        consumer_type="GetRecords",
    )
    assert src.options() == {
        "kinesis.streamName": "events-stream",
        "kinesis.region": "us-west-2",
        "kinesis.startingPosition": "TRIM_HORIZON",
        "kinesis.endpointUrl": "https://kinesis.us-west-2.amazonaws.com",
        "kinesis.consumerType": "GetRecords",
    }


def test_kinesis_source_without_connector_raises_actionable(spark):
    src = KinesisSource("events-stream", region="us-west-2")
    with pytest.raises(RuntimeError, match="aws-kinesis"):
        src.load(spark)


def test_start_ingest_with_explicit_source(spark, tmp_path):
    from defenda_data_lake_spark.lake import EVENTS_TABLE
    from defenda_data_lake_spark.streaming.ingest import start_ingest

    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "b.json").write_text(
        json.dumps({"summary": "via source", "srcaddr": "198.51.100.2"}) + "\n"
    )
    query = start_ingest(
        spark,
        checkpoint_path=str(tmp_path / "ckpt"),
        source=FileLandingSource(str(landing)),
    )
    try:
        query.processAllAvailable()
        rows = spark.table(EVENTS_TABLE).filter(
            "summary = 'via source'"
        ).collect()
        assert len(rows) == 1
    finally:
        query.stop()


def test_kafka_source_option_wiring():
    from defenda_data_lake_spark.sources import KafkaSource

    src = KafkaSource(
        "broker1:9092,broker2:9092",
        "events",
        starting_offsets="earliest",
        max_offsets_per_trigger=50_000,
        fail_on_data_loss=False,
    )
    assert src.options() == {
        "kafka.bootstrap.servers": "broker1:9092,broker2:9092",
        "subscribe": "events",
        "startingOffsets": "earliest",
        "failOnDataLoss": "false",
        "maxOffsetsPerTrigger": "50000",
    }
    defaults = KafkaSource("b:9092", "t").options()
    assert defaults["startingOffsets"] == "latest"
    assert defaults["failOnDataLoss"] == "true"
    assert "maxOffsetsPerTrigger" not in defaults


def test_kafka_source_without_connector_raises_actionable(spark):
    import pytest

    from defenda_data_lake_spark.sources import KafkaSource

    src = KafkaSource("b:9092", "t")
    try:
        df = src.load(spark)
    except RuntimeError as exc:
        assert "spark-sql-kafka" in str(exc)
    else:
        # connector present in this build: the contract column exists (a
        # direct producer supplies no ``source`` column)
        assert df.columns == ["raw"]


class _TombstoneSource:
    """A text file stream whose ``TOMBSTONE`` lines read as NULL
    records, as a Kafka tombstone (a message with no value) does."""

    def __init__(self, path: str) -> None:
        self.path = path

    def load(self, spark):
        from pyspark.sql import functions as F

        value = F.col("value")
        lines = spark.readStream.format("text").load(self.path)
        return lines.select(F.when(value != "TOMBSTONE", value).alias("raw"))


def test_stream_quarantines_a_null_record(spark, tmp_path):
    """A NULL record is quarantined as ``ProcessingFailed``, as batch
    and Firehose intake do, so landed plus quarantined rows equal the
    records read."""
    from defenda_data_lake_spark.lake import EVENTS_TABLE
    from defenda_data_lake_spark.streaming.ingest import start_ingest

    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "c.json").write_text(
        json.dumps({"summary": "beside a tombstone"})
        + "\nTOMBSTONE\n"
        + json.dumps({"summary": "beside a tombstone"})
        + "\n"
    )
    query = start_ingest(
        spark,
        checkpoint_path=str(tmp_path / "ckpt"),
        quarantine_path=str(tmp_path / "quarantine"),
        source=_TombstoneSource(str(landing)),
    )
    try:
        query.processAllAvailable()
    finally:
        query.stop()
    landed = spark.table(EVENTS_TABLE).filter("summary = 'beside a tombstone'")
    assert landed.count() == 2
    bad = spark.read.json(str(tmp_path / "quarantine")).collect()
    assert [row["_status"] for row in bad] == ["ProcessingFailed"]
