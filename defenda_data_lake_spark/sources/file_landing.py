"""File-landing streaming source.

The reference's delivery stream is Kinesis Firehose buffering to S3
objects (reference main.tf:616-631); a landing prefix of files IS the
stream's materialized form, so this adapter is the default — producers
(or Firehose itself) drop NDJSON/JSON objects under a prefix and the
file stream picks up each new object exactly once (checkpointed file
index, no state store).

Scale: listing is the only per-trigger driver cost; each file becomes
one task (pre-size landing objects ~128 MB), and the downstream
pipeline is shuffle-free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from defenda_data_lake_spark.operators.intake import ndjson_intake


class FileLandingSource:
    """NDJSON landing-prefix stream → ``raw`` rows plus the ``source``
    tag batch intake gives the same file (``read_ndjson_events``)."""

    def __init__(
        self, landing_path: str, max_files_per_trigger: int | None = None
    ) -> None:
        self.landing_path = landing_path
        self.max_files_per_trigger = max_files_per_trigger

    def load(self, spark: SparkSession) -> DataFrame:
        reader = spark.readStream.format("text")
        if self.max_files_per_trigger:
            reader = reader.option(
                "maxFilesPerTrigger", self.max_files_per_trigger
            )
        return ndjson_intake(reader.load(self.landing_path))
