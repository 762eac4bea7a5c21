"""Kafka streaming source adapter.

The reference's producer-facing entry point is "put records on a
Firehose stream" (reference README.md:213-216); the open-infrastructure
equivalent of that managed stream is a Kafka topic, and Spark ships a
first-party Structured Streaming connector for it (``format("kafka")``
— in the spark-sql-kafka artifact, which is distributed with Spark but
loaded as a separate package, so it may be absent in a minimal
deployment like this container).  As with :mod:`.kinesis`, the adapter
builds the documented reader wiring as a pure option map and fails
with an actionable message if the connector is not on the classpath.

Records arrive as a ``value`` binary column; producer payloads are
UTF-8 JSON events, so the adapter casts to string into the ``raw``
contract (``sources.__init__``) that ``operators.pipeline`` normalizes.

Scale: one Spark input partition per (topic-partition, offset-range
slice); throughput scales with the topic's partition count — set
``max_offsets_per_trigger`` to bound micro-batch size so a backlogged
topic replays at a controlled rate instead of one giant batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from defenda_data_lake_spark.sources._errors import load_connector

_CONNECTOR_HINT = (
    "the Kafka connector is not on the classpath; submit with "
    "--packages org.apache.spark:spark-sql-kafka-0-10_2.13:<spark-version> "
    "to read a Kafka topic directly, or land producer output to files "
    "and use FileLandingSource"
)


class KafkaSource:
    """Kafka topic → ``raw`` rows via Spark's built-in connector."""

    def __init__(
        self,
        bootstrap_servers: str,
        topics: str,
        starting_offsets: str = "latest",
        max_offsets_per_trigger: int | None = None,
        fail_on_data_loss: bool = True,
    ) -> None:
        self.bootstrap_servers = bootstrap_servers
        self.topics = topics
        self.starting_offsets = starting_offsets
        self.max_offsets_per_trigger = max_offsets_per_trigger
        self.fail_on_data_loss = fail_on_data_loss

    def options(self) -> dict[str, str]:
        """The connector option map (pure; unit-testable without the
        connector present)."""
        opts = {
            "kafka.bootstrap.servers": self.bootstrap_servers,
            "subscribe": self.topics,
            "startingOffsets": self.starting_offsets,
            "failOnDataLoss": "true" if self.fail_on_data_loss else "false",
        }
        if self.max_offsets_per_trigger is not None:
            opts["maxOffsetsPerTrigger"] = str(self.max_offsets_per_trigger)
        return opts

    def load(self, spark: SparkSession) -> DataFrame:
        records = load_connector(spark, "kafka", self.options(), _CONNECTOR_HINT)
        return records.select(F.col("value").cast("string").alias("raw"))
