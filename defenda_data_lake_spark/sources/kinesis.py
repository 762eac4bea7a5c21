"""Kinesis streaming source adapter.

The reference ingests through a Kinesis Firehose delivery stream
(reference main.tf:616-631; the transform lambda receives base64
records, processor.py:17-33).  On Spark the equivalent direct path is
the AWS Kinesis connector (``format("aws-kinesis")``, the
spark-sql-kinesis connector's registered short name) — a separate JAR
that is NOT bundled with Spark and not present in this environment, so
this adapter builds the correct reader wiring and fails with an
actionable message when the connector is absent.  The option names
below are the connector's documented surface.

Records arrive as a ``data`` binary column; Firehose-style payloads are
UTF-8 JSON, so the adapter casts to string into the ``raw`` contract
(``sources.__init__``).  Base64 is NOT applied here: Kinesis consumers
receive the raw bytes — the base64 layer exists only inside the
Firehose→lambda envelope, which ``operators.intake.
decode_firehose_records`` handles for replayed batch bundles.

Scale: one Spark input partition per shard; throughput scales with the
shard count, and the downstream normalize pipeline is shuffle-free, so
ingest parallelism = shard parallelism end-to-end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from defenda_data_lake_spark.sources._errors import load_connector

_CONNECTOR_HINT = (
    "the Kinesis connector is not on the classpath; add the "
    "spark-sql-kinesis connector JAR (format 'aws-kinesis') to use a "
    "Kinesis stream directly, or land Firehose output to files and use "
    "FileLandingSource (the reference's own delivery layout)"
)


class KinesisSource:
    """Kinesis data stream → ``raw`` rows via the AWS connector."""

    def __init__(
        self,
        stream_name: str,
        region: str,
        starting_position: str = "LATEST",
        endpoint_url: str | None = None,
        consumer_type: str | None = None,
    ) -> None:
        self.stream_name = stream_name
        self.region = region
        self.starting_position = starting_position
        self.endpoint_url = endpoint_url
        self.consumer_type = consumer_type

    def options(self) -> dict[str, str]:
        """The connector option map (pure; unit-testable without the
        connector present)."""
        opts = {
            "kinesis.streamName": self.stream_name,
            "kinesis.region": self.region,
            "kinesis.startingPosition": self.starting_position,
        }
        if self.endpoint_url:
            opts["kinesis.endpointUrl"] = self.endpoint_url
        if self.consumer_type:
            opts["kinesis.consumerType"] = self.consumer_type
        return opts

    def load(self, spark: SparkSession) -> DataFrame:
        records = load_connector(spark, "aws-kinesis", self.options(), _CONNECTOR_HINT)
        return records.select(F.col("data").cast("string").alias("raw"))
