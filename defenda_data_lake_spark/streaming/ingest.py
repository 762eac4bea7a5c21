"""Structured-Streaming ingest: the Firehose replacement.

The reference's stream is Kinesis Firehose with a 60 s / 1 MB delivery
buffer and a transform lambda per batch (reference main.tf:616-631,
processor.py:17-84).  Here a file-landing prefix stands in for the
delivery stream (SURVEY.md §3.1 re-trace): producers drop NDJSON into
the landing path; a 60 s processing-time trigger micro-batch matches
the Firehose buffer-latency floor (BASELINE.md).  The stream reads
lines, and each line lands the records batch intake finds in it
(``intake.records``: several values, a list, a ``Records`` bundle); a
value that spans lines needs batch ``ingest_batch(mode="blob")``.

Semantics preserved:

* the pipeline is stateless per record — no watermarks or state stores
  needed for parity (reference has no streaming SQL, SURVEY.md §2B);
* failed/dropped records go to a quarantine sink instead of the main
  table (the ``ProcessingFailed`` envelope, processor.py:59-76);
* partition columns are **processing time** at write (§1.2);
* every micro-batch lands through ``lake.land`` — the same write, and
  the same ``source`` tagging for file landings, as ``ingest_batch``.
* delivery is at least once, as with Firehose: no stage drops a
  re-sent record.

Scale notes: each micro-batch is a narrow scan → mapInPandas → one
staged parquet write; no shuffle, and a second job (the quarantine
write) only when a record failed.  For very high event rates, raise
``maxFilesPerTrigger`` and pre-size landing files ~128 MB so each task
gets one file.  ``land`` registers a new hour as it moves the staged
files in, so new hours appear in the catalog immediately — the
reference's 10-minute partition-registration cron
(generate_partitions.py) is unnecessary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from defenda_data_lake_spark.lake import create_events_table, land
from defenda_data_lake_spark.operators.pipeline import normalize_df


def start_ingest(
    spark: SparkSession,
    landing_path: str | None = None,
    checkpoint_path: str | None = None,
    quarantine_path: str | None = None,
    trigger_seconds: int = 60,
    max_files_per_trigger: int | None = None,
    source=None,
) -> StreamingQuery:
    """Start the source → events-table stream.  Returns the
    StreamingQuery (caller owns its lifecycle).

    ``source`` is any adapter from ``defenda_data_lake_spark.sources``
    (streaming DataFrame with a ``raw`` string column); when omitted, a
    ``FileLandingSource`` over ``landing_path`` — the reference's own
    Firehose→S3 delivery layout.  When the adapter supplies a ``source``
    column, it stamps each event's ``source`` as batch intake does."""
    if checkpoint_path is None:
        raise ValueError("checkpoint_path is required")
    create_events_table(spark)
    if source is None:
        if landing_path is None:
            raise ValueError("pass landing_path or an explicit source")
        from defenda_data_lake_spark.sources import FileLandingSource

        source = FileLandingSource(landing_path, max_files_per_trigger)
    lines = source.load(spark)
    source_col = "source" if "source" in lines.columns else None

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        land(
            spark,
            normalize_df(batch_df, raw_col="raw", source_col=source_col),
            quarantine_path,
        )

    return (
        lines.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_path)
        .trigger(processingTime=f"{trigger_seconds} seconds")
        .start()
    )
