"""Structured-Streaming ingest: the Firehose replacement.

The reference's stream is Kinesis Firehose with a 60 s / 1 MB delivery
buffer and a transform lambda per batch (reference main.tf:616-631,
processor.py:17-84).  Here a file-landing prefix stands in for the
delivery stream (SURVEY.md §3.1 re-trace): producers drop NDJSON (or
arbitrary JSON blobs) into the landing path; a 60 s processing-time
trigger micro-batch matches the Firehose buffer-latency floor
(BASELINE.md).

Semantics preserved:

* the pipeline is stateless per record — no watermarks or state stores
  needed for parity (reference has no streaming SQL, SURVEY.md §2B);
* failed/dropped records go to a quarantine sink instead of the main
  table (the ``ProcessingFailed`` envelope, processor.py:59-76);
* partition columns are **processing time** at write (§1.2);
* every micro-batch lands through ``lake.land`` — the same write, and
  the same ``source`` tagging for file landings, as ``ingest_batch``.

Scale notes: each micro-batch is a narrow scan → mapInPandas →
partitioned append; no shuffle.  For very high event rates, raise
``maxFilesPerTrigger`` and pre-size landing files ~128 MB so each task
gets one file.  ``foreachBatch`` writes through ``insertInto`` so new
hours appear in the catalog immediately — the reference's 10-minute
partition-registration cron (generate_partitions.py) is unnecessary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from defenda_data_lake_spark.lake import create_events_table, land
from defenda_data_lake_spark.operators.pipeline import (
    STATUS_DROPPED,
    STATUS_OK,
    normalize_df,
)


def _open_stream(
    spark: SparkSession,
    landing_path: str | None,
    checkpoint_path: str | None,
    max_files_per_trigger: int | None,
    source,
) -> DataFrame:
    """The starters' shared preamble: check arguments, create the events
    table, and load the adapter's non-blank ``raw`` rows."""
    if checkpoint_path is None:
        raise ValueError("checkpoint_path is required")
    create_events_table(spark)
    if source is None:
        if landing_path is None:
            raise ValueError("pass landing_path or an explicit source")
        from defenda_data_lake_spark.sources import FileLandingSource

        source = FileLandingSource(landing_path, max_files_per_trigger)
    return source.load(spark).filter(F.trim(F.col("raw")) != "")


def _start(
    stream: DataFrame, process_batch, checkpoint_path: str, trigger_seconds: int
) -> StreamingQuery:
    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_path)
        .trigger(processingTime=f"{trigger_seconds} seconds")
        .start()
    )


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
    lines = _open_stream(
        spark, landing_path, checkpoint_path, max_files_per_trigger, source
    )
    source_col = "source" if "source" in lines.columns else None

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        land(
            spark,
            normalize_df(batch_df, raw_col="raw", source_col=source_col),
            quarantine_path,
        )

    return _start(lines, process_batch, checkpoint_path, trigger_seconds)


def start_deduped_ingest(
    spark: SparkSession,
    landing_path: str | None = None,
    checkpoint_path: str | None = None,
    quarantine_path: str | None = None,
    trigger_seconds: int = 60,
    max_files_per_trigger: int | None = None,
    source=None,
    text_col: str = "summary",
    min_hash_agreement: float = 0.5,
    watermark_delay: str = "1 hour",
    max_bucket_docs: int | None = None,
    dedup_shards: int | None = 256,
    scan_parallelism: int | None = None,
    signature_kernel: str = "pandas",
    exact_predrop: bool = False,
) -> StreamingQuery:
    """:func:`start_ingest` with an IN-STREAM near-dedup stage: after
    normalization, events whose ``text_col`` is a MinHash near-match of
    an earlier event in the same LSH bucket (within the watermark
    horizon) are diverted to the quarantine with a ``Dropped`` status
    and a ``dup_of`` pointer instead of landing in the events table.

    Composition: normalization runs in-plan (``normalize_df`` is a
    stateless Arrow-batched map), ``near_dedupe_stream`` adds the
    stateful candidate+verify stage, and ``foreachBatch`` resolves
    per-event verdicts (:func:`resolve_stream_flags`) and lands through
    ``lake.land``: survivors → events table, near-dups → quarantine
    (``Dropped``), processing failures → quarantine
    (``ProcessingFailed``).  Failed records have no usable timestamp or
    summary, so they ride the dedup stage's bypass branch (no row lost)
    and arrive here intact.  ``Dropped`` in the reference envelope means
    "a plugin declined the event" (processor.py:59-76); here it also
    covers near-duplicate suppression, told apart by ``dup_of``.

    The dedup stage runs in ``timeout_mode="processing"`` (wall-clock
    state TTL, no event-time watermark): an ingest pipeline must land
    every event, and an event-time watermark makes the engine silently
    discard rows that arrive behind it (239k of 500k events in a
    measured probe).

    ``dedup_shards=256`` by default: the sharded bucket-table kernel
    serves thousands of LSH buckets per Python call instead of one
    (5.8x throughput at 500k events); ``None`` selects the per-bucket
    reference kernel (verdict-identical, parity-pinned).

    A byte-identical re-delivery of a bucket claimant in a later
    micro-batch is flagged ``dup_of`` by the stateful kernel and lands
    in the quarantine, not twice in the events table.  Bypass rows (no
    parseable timestamp / no shingles) survive unconditionally, so their
    exact re-sends still double-land unless ``exact_predrop`` is on.

    ``exact_predrop=True`` adds a pure-JVM exact-duplicate stage on the
    raw line, before normalization (the pipeline mints eventids, so
    re-sends never share an id after it): a byte-identical re-send
    within the watermark horizon is suppressed, skips the Python
    pipeline, and leaves no quarantine record.  It is the only stage
    that catches re-sends of bypass rows.  A correctness flag, not a
    throughput lever (measured 1.03-1.31x slower at 20-50% re-sends,
    SCALING.md "Round 12"), and off by default because it changes the
    quarantine contract and the streaming DAG: checkpoints do not resume
    across the flag (restart fresh, optionally seeding via
    ``seed_near_dedup_state``).  Byte-identical distinct events inside
    one horizon are indistinguishable from re-sends at this stage, the
    same trade ``dedupe_stream`` documents."""
    from defenda_data_lake_spark.schema import SHELL_FIELDS
    from defenda_data_lake_spark.streaming.dedup import (
        near_dedupe_stream,
        resolve_stream_flags,
    )

    raw = _open_stream(
        spark, landing_path, checkpoint_path, max_files_per_trigger, source
    )
    if scan_parallelism:
        # a file-landing micro-batch scans at one task per FILE; the
        # normalize + signature kernels then run at file parallelism,
        # not core parallelism.  One cheap exchange of the raw lines
        # (bytes ≈ the landing files themselves) fans the Python-heavy
        # stages out to the full core count.  Opt-in: worth it exactly
        # when files-per-trigger < cores and batches are large.
        raw = raw.repartition(scan_parallelism)
    if exact_predrop:
        # the raw line is the one form in which a transport re-send is
        # literally equal.  The query's single arrival-time watermark is
        # defined here (Spark forbids a second on a linear chain) and
        # near_dedupe_stream adopts it via external_watermark.  Keyed on
        # md5(raw): the state store keeps a 32-hex digest per row, not
        # the line (collision risk 2^-128)
        raw = (
            raw.withColumn("_ingest_arrival", F.current_timestamp())
            .withColumn("_ingest_xh", F.md5(F.col("raw")))
            .withWatermark("_ingest_arrival", watermark_delay)
            .dropDuplicatesWithinWatermark(["_ingest_xh"])
            .drop("_ingest_xh")
        )
    # the watermark-tagged arrival column must SURVIVE to the stateful
    # operator (Spark's checker wants the tagged attribute in its
    # input), so it rides normalize_df's passthrough — field metadata
    # copied verbatim — and near_dedupe_stream adopts it as its own
    # arrival column instead of defining a second watermark
    normalized = normalize_df(
        raw,
        raw_col="raw",
        source_col="source" if "source" in raw.columns else None,
        passthrough=["_ingest_arrival"] if exact_predrop else (),
    )
    flagged = near_dedupe_stream(
        normalized,
        id_col="eventid",
        text_col=text_col,
        event_time_col="utctimestamp",
        watermark_delay=watermark_delay,
        min_hash_agreement=min_hash_agreement,
        max_bucket_docs=max_bucket_docs,
        shards=dedup_shards,
        signature_kernel=signature_kernel,
        external_watermark="_ingest_arrival" if exact_predrop else None,
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        # cached so the two routes below do not each re-run the
        # stateful stage
        batch_df = batch_df.withColumnRenamed("_ndd_id", "eventid").cache()
        try:
            ok = resolve_stream_flags(
                batch_df.filter(F.col("_status") == STATUS_OK), id_col="eventid"
            )
            near_dup = F.col("dup_of").isNotNull()
            routed = ok.select(
                *SHELL_FIELDS,
                F.when(near_dup, STATUS_DROPPED).otherwise(STATUS_OK).alias("_status"),
                "_raw",
                "dup_of",
            )
            failed = batch_df.filter(F.col("_status") != STATUS_OK).select(
                *SHELL_FIELDS,
                "_status",
                "_raw",
                F.lit(None).cast("string").alias("dup_of"),
            )
            land(spark, routed.unionByName(failed), quarantine_path)
        finally:
            batch_df.unpersist()

    return _start(flagged, process_batch, checkpoint_path, trigger_seconds)
