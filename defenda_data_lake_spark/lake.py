"""The data-lake facade: catalog setup, batch/streaming ingest, query.

Ties the pieces together the way the reference deployment does
(reference main.tf:205-290 Glue table, README.md:89-136 query surface),
but in one Spark session:

* ``create_events_table`` — the ``defenda_data_lake.events`` table,
  Parquet + zstd, hive-partitioned by processing-time
  ``year/month/day/hour`` (partition pruning ≡ the reference's only
  query-cost lever, README.md:114,230);
* ``land`` — the one landing path: normalized rows → partitioned
  append plus quarantine.  ``ingest_batch`` and ``start_ingest`` in
  ``streaming.ingest`` write through it (replaces the
  S3→lambda→Firehose→lambda→S3 hop chain);
* ``spark.sql`` — the full Presto-surface replacement, including the
  compat JSON functions, so both README sample queries run verbatim.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from defenda_data_lake_spark.operators.intake import ndjson_intake
from defenda_data_lake_spark.operators.pipeline import (
    STATUS_OK,
    add_partition_columns,
    normalize_df,
)
from defenda_data_lake_spark.schema import EVENT_SHELL_SCHEMA, SHELL_FIELDS

DATABASE = "defenda_data_lake"
EVENTS_TABLE = f"{DATABASE}.events"


def create_events_table(spark: SparkSession, location: str | None = None) -> None:
    """Create the events database/table if absent.  With ``location``
    the table is external (the lake layout on shared storage)."""
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {DATABASE}")
    if location:
        # a missing directory costs the first CREATE TABLE and the first
        # insertInto a FileNotFoundException warning each
        path = spark._jvm.org.apache.hadoop.fs.Path(location)
        path.getFileSystem(spark._jsc.hadoopConfiguration()).mkdirs(path)
    location_clause = f" LOCATION '{location}'" if location else ""
    spark.sql(
        f"""
        CREATE TABLE IF NOT EXISTS {EVENTS_TABLE} (
            {EVENT_SHELL_SCHEMA.toDDL()},
            year STRING, month STRING, day STRING, hour STRING
        )
        USING PARQUET
        PARTITIONED BY (year, month, day, hour)
        {location_clause}
        """
    )


def land(
    spark: SparkSession, normalized: DataFrame, quarantine_path: str | None
) -> None:
    """The one write of the lake: append ``normalized``'s ``_status =
    'Ok'`` rows to ``defenda_data_lake.events`` and every other row's
    non-shell columns (``_status``, ``_raw``) to the quarantine as JSON (the reference's result
    envelope, processor.py:59-76).  ``normalized`` is persisted for the
    two writes, so the plugin kernel runs once per event."""
    normalized = normalized.persist()
    try:
        good = normalized.filter(normalized["_status"] == STATUS_OK)
        good = add_partition_columns(good.select(*SHELL_FIELDS))
        good.write.mode("append").insertInto(EVENTS_TABLE)
        # appending into an already-scanned partition leaves the
        # session's file-status cache stale; refresh so concurrent
        # readers see the new files immediately
        spark.catalog.refreshTable(EVENTS_TABLE)
        if quarantine_path:
            envelope = [c for c in normalized.columns if c not in SHELL_FIELDS]
            bad = normalized.filter(normalized["_status"] != STATUS_OK)
            bad.select(*envelope).write.mode("append").json(quarantine_path)
    finally:
        # blocking: an asynchronous release competes with the caller's
        # next job (measured on the read-back after a batch)
        normalized.unpersist(blocking=True)


def ingest_batch(
    spark: SparkSession,
    input_path: str,
    mode: str = "blob",
    quarantine_path: str | None = None,
) -> DataFrame:
    """Batch-ingest landed files into ``defenda_data_lake.events``
    through :func:`land`.

    Every mode lands the records ``intake.records`` finds in each text
    read; ``mode`` only chooses the text: ``'blob'`` reads whole files
    (one task per file; for values that span lines, such as
    pretty-printed CloudTrail bundles), ``'ndjson'`` reads lines (the
    splittable scan).  Any other mode raises ``ValueError`` before
    anything is read.  Returns ``spark.table(EVENTS_TABLE)``, the whole
    events table after the append."""
    if mode not in ("blob", "ndjson"):
        raise ValueError(f"mode must be 'blob' or 'ndjson'; got {mode!r}")
    raw = ndjson_intake(spark.read.text(input_path, wholetext=(mode == "blob")))
    land(spark, normalize_df(raw, raw_col="raw", source_col="source"), quarantine_path)
    return spark.table(EVENTS_TABLE)


def register_hour_partition(
    spark: SparkSession,
    base_location: str,
    parts: tuple[str, str, str, str] | None = None,
) -> str:
    """Register one hour partition with the reference's VERBATIM DDL
    (reference generate_partitions.py:26-34): ``ALTER TABLE
    defenda_data_lake.events ADD IF NOT EXISTS PARTITION
    (year=..., month=..., day=..., hour=...) LOCATION
    '<base>/<year>/<month>/<day>/<hour>'`` — the bare ``Y/M/D/H`` path
    layout the reference's Firehose writer produces (NOT hive-style
    ``year=Y/...``), which is exactly why the reference needs explicit
    per-partition DDL instead of ``MSCK REPAIR``.

    ``parts`` defaults to the current UTC wall-clock hour, zero-padded,
    matching the reference's processing-time cron
    (generate_partitions.py:15-24, utils/dates.py:11-33).  Returns the
    statement (the reference logs it; callers/tests inspect it).

    Athena treats ``ADD IF NOT EXISTS`` on a registered partition as a
    true no-op, but Spark RE-POINTS the existing partition to the new
    LOCATION (orphaning its data) — so this helper checks registration
    first and skips the ALTER when the partition already exists,
    preserving the reference cron's fire-every-10-minutes idempotency."""
    if parts is None:
        from datetime import datetime, timezone

        now = datetime.now(timezone.utc)
        parts = (
            str(now.year),
            str(now.month).rjust(2, "0"),
            str(now.day).rjust(2, "0"),
            str(now.hour).rjust(2, "0"),
        )
    year, month, day, hour = parts
    query = f"""
    ALTER TABLE {DATABASE}.events
    ADD IF NOT EXISTS PARTITION
    (year='{year}',
    month='{month}',
    day='{day}',
    hour='{hour}'
    )
    location '{base_location}/{year}/{month}/{day}/{hour}'
    """
    # isEmpty reads the command's local result; count() would submit a job
    if spark.sql(
        f"SHOW PARTITIONS {DATABASE}.events "
        f"PARTITION (year='{year}', month='{month}', day='{day}', hour='{hour}')"
    ).isEmpty():
        spark.sql(query)
    return query


def query_pandas(spark: SparkSession, sql: str):
    """Run SQL, return a pandas DataFrame — the reference's
    query-to-pandas hand-off (reference utils/athena.py:30-38,
    README.md:146-176) collapsed to one Arrow-backed call."""
    return spark.sql(sql).toPandas()
