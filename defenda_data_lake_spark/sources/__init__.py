"""Streaming source adapters.

Every adapter yields a *streaming* DataFrame with a ``raw`` string
column (one JSON event or blob per row) and optionally a ``source``
string column (intake tag); the ingest pipeline
(``streaming.ingest.start_ingest``) consumes that contract without
caring where records come from, and stamps ``source`` onto each event
whenever the adapter supplies it.

``FileLandingSource`` supplies it, tagged from the file name exactly as
batch intake tags the same file (``s3json``, or ``cloudtrail`` for
``<digits>_cloudtrail_*.json.gz``).  ``KafkaSource`` and
``KinesisSource`` are direct producers (the reference's path B, straight
into Firehose) and do not: their events keep the payload's own
``source``, or ``UNKNOWN`` when it has none.
"""

from defenda_data_lake_spark.sources.file_landing import FileLandingSource
from defenda_data_lake_spark.sources.kafka import KafkaSource
from defenda_data_lake_spark.sources.kinesis import KinesisSource

__all__ = ["FileLandingSource", "KafkaSource", "KinesisSource"]
