"""The data-lake facade: catalog setup, batch/streaming ingest, query.

Ties the pieces together the way the reference deployment does
(reference main.tf:205-290 Glue table, README.md:89-136 query surface),
but in one Spark session:

* ``create_events_table`` — the ``defenda_data_lake.events`` table,
  Parquet + zstd, hive-partitioned by processing-time
  ``year/month/day/hour`` (partition pruning ≡ the reference's only
  query-cost lever, README.md:114,230);
* ``land`` — the one landing path: one unpersisted write stages every
  normalized row under the table, then the driver writes the quarantine
  from the staged failures and moves the Ok files into their hour
  partitions.  ``ingest_batch`` and ``start_ingest`` in
  ``streaming.ingest`` write through it (replaces the
  S3→lambda→Firehose→lambda→S3 hop chain);
* ``spark.sql`` — the full Presto-surface replacement, including the
  compat JSON functions, so both README sample queries run verbatim.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from defenda_data_lake_spark.operators.intake import ndjson_intake
from defenda_data_lake_spark.operators.pipeline import (
    STATUS_OK,
    add_partition_columns,
    normalize_df,
)
from defenda_data_lake_spark.schema import EVENT_SHELL_SCHEMA, SHELL_FIELDS

DATABASE = "defenda_data_lake"
EVENTS_TABLE = f"{DATABASE}.events"
PARTITION_COLUMNS = ("year", "month", "day", "hour")


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
    ``_status`` and ``_raw`` to the quarantine as JSON lines (the
    reference's result envelope, processor.py:59-76).

    One Spark job writes every row once, unpersisted, into a staging
    directory under the table (``_landing-<id>``, skipped by table scans),
    partitioned by ``status`` and the processing-time hour.  The driver
    then writes the quarantine from the staged rows that are not Ok (a
    second job, only when there are any), moves the staged Ok files into
    their hour partition's LOCATION, registers a new hour and refreshes
    the table.  The quarantine is written before any file moves, so a
    failed quarantine write lands nothing.  The staging directory is
    deleted whether or not the landing succeeds."""
    hadoop = spark._jvm.org.apache.hadoop.fs
    table = hadoop.Path(_catalog(spark).getTable(DATABASE, "events").location())
    fs = table.getFileSystem(spark._jsc.hadoopConfiguration())
    staging = hadoop.Path(table, f"_landing-{uuid.uuid4().hex}")
    status = normalized["_status"]
    if not quarantine_path:
        normalized = normalized.filter(status == STATUS_OK)
    # a row that is not Ok has every shell column NULL: its ``details``
    # slot carries ``_raw``, so every staged file holds exactly the shell
    # columns, and the quarantine write maps it back
    details = F.when(status == STATUS_OK, normalized["details"]).otherwise(
        normalized["_raw"]
    )
    staged = add_partition_columns(
        normalized.select(
            *[details.alias(c) if c == "details" else c for c in SHELL_FIELDS],
            status.alias("status"),
        )
    )
    try:
        _write_unsorted(staged, staging.toString())
        failed = [
            s.getPath().toString()
            for s in fs.listStatus(staging)
            if s.isDirectory() and s.getPath().getName() != f"status={STATUS_OK}"
        ]
        if failed:
            spark.read.schema(EVENT_SHELL_SCHEMA).option(
                "basePath", staging.toString()
            ).parquet(*failed).select(
                F.col("status").alias("_status"), F.col("details").alias("_raw")
            ).write.mode("append").json(quarantine_path)
        hours = fs.globStatus(
            hadoop.Path(staging, f"status={STATUS_OK}/year=*/month=*/day=*/hour=*")
        )
        for hour in hours or []:
            _move_into_hour(spark, fs, table, hour.getPath())
        # appending into an already-scanned partition leaves the
        # session's file-status cache stale; refresh so concurrent
        # readers see the new files immediately
        spark.catalog.refreshTable(EVENTS_TABLE)
    finally:
        fs.delete(staging, True)


def _write_unsorted(staged: DataFrame, path: str) -> None:
    """Write ``staged`` as parquet partitioned by status and hour, without
    the planned-write sort Spark puts before a ``partitionBy``: each task
    keeps one open file per partition instead (a landing has one hour and
    at most three statuses).  The setting is scoped to this write, on the
    frame's own session (a stream micro-batch runs in the stream's clone
    of the session), because the session's other partitioned writes keep
    their sorted, one-file-at-a-time output."""
    conf = staged.sparkSession.conf
    key = "spark.sql.maxConcurrentOutputFileWriters"
    previous = conf.get(key, None)
    conf.set(key, "3")
    try:
        staged.write.partitionBy("status", *PARTITION_COLUMNS).parquet(path)
    finally:
        if previous is None:
            conf.unset(key)
        else:
            conf.set(key, previous)


def _move_into_hour(spark: SparkSession, fs, table, staged_hour) -> None:
    """Move one staged hour's files into the hour's partition LOCATION:
    the catalog's, when the hour is registered (``register_hour_partition``
    registers bare ``Y/M/D/H`` directories), else the table's hive
    ``year=…/hour=…`` directory, registered after the move, as
    ``insertInto`` would."""
    hadoop = spark._jvm.org.apache.hadoop.fs
    names = staged_hour.toUri().getPath().split("/")[-len(PARTITION_COLUMNS) :]
    parts = tuple(name.split("=", 1)[1] for name in names)
    location = _hour_location(spark, parts)
    if location:
        target = hadoop.Path(location)
    else:
        target = hadoop.Path(table, "/".join(names))
    fs.mkdirs(target)
    for f in fs.listStatus(staged_hour):
        name = f.getPath().getName()
        if f.isFile() and not name.startswith(("_", ".")):
            if not fs.rename(f.getPath(), hadoop.Path(target, name)):
                raise OSError(f"could not move {f.getPath()} into {target}")
    if not location:
        spark.sql(
            f"ALTER TABLE {EVENTS_TABLE} ADD IF NOT EXISTS PARTITION "
            f"({_partition_spec(*parts)}) "
            f"LOCATION '{target.toString()}'"
        )


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
    if _hour_location(spark, parts) is None:
        spark.sql(query)
    return query


def _partition_spec(year: str, month: str, day: str, hour: str) -> str:
    """The ``PARTITION (…)`` clause body of one hour."""
    return f"year='{year}', month='{month}', day='{day}', hour='{hour}'"


def _catalog(spark: SparkSession):
    """The session's external catalog.  Its lookups are plain method
    calls: no SQL to parse and plan, and no job."""
    return spark._jsparkSession.sharedState().externalCatalog()


def _hour_location(spark: SparkSession, parts: tuple[str, str, str, str]) -> str | None:
    """The catalog LOCATION of the hour ``parts`` (year, month, day,
    hour), or None when the hour is not registered; submits no job."""
    spec = spark._jvm.PythonUtils.toScalaMap(dict(zip(PARTITION_COLUMNS, parts)))
    hour = _catalog(spark).getPartitionOption(DATABASE, "events", spec)
    return hour.get().location().toString() if hour.isDefined() else None


def query_pandas(spark: SparkSession, sql: str):
    """Run SQL, return a pandas DataFrame — the reference's
    query-to-pandas hand-off (reference utils/athena.py:30-38,
    README.md:146-176) collapsed to one Arrow-backed call."""
    return spark.sql(sql).toPandas()
