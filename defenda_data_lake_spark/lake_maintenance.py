"""Lake maintenance: retention for the hour-partitioned events table.

``expire_partitions`` drops the hours older than a retention window,
the table-side twin of the reference's S3 lifecycle rules.  It finds
each hour's directory through the catalog, so it expires hive
``year=…/hour=…`` directories and the bare ``Y/M/D/H`` ones
``lake.register_hour_partition`` registers alike.

Compacting a closed hour's small files into one is ROADMAP item 1
(``seal_hours``).  The ``compact_partition`` that stood here assumed
hive paths and swapped an hour's directory with two renames; it is in
git history (``git log -S compact_partition``).
"""

from __future__ import annotations

from py4j.protocol import Py4JJavaError
from pyspark.sql import SparkSession

from defenda_data_lake_spark.lake import EVENTS_TABLE, _hour_location, _partition_spec


def expire_partitions(
    spark: SparkSession,
    retention_days: int,
    now: "datetime.datetime | None" = None,
) -> dict:
    """Retention enforcement for the hour-partitioned events table —
    the engine-side equivalent of the reference's S3 lifecycle rules
    (reference main.tf:31-42,62-73: input expires at 90 d, output at
    360 d; there the *bucket* ages data out, here the *table* must).

    Every registered hour partition (``SHOW PARTITIONS``) whose hour
    has fully ended before ``now - retention_days`` is dropped from the
    catalog (``ALTER TABLE … DROP IF EXISTS PARTITION``) and its
    directory deleted.  The directory is the partition's LOCATION in
    the catalog, so both layouts expire: the hive ``year=…/hour=…``
    directories ``insertInto`` writes and the bare ``Y/M/D/H`` ones
    ``lake.register_hour_partition`` registers.  Catalog first, so a
    crash between the two steps leaves an unregistered directory
    (harmless, re-droppable) rather than a registered partition with
    no data (every query over it would fail).

    ``now`` is an explicit parameter so retention runs are reproducible
    and testable; production callers pass their scheduler's tick time.
    Returns {"dropped": [partition dicts], "kept": n, "freed_bytes": n,
    "delete_failures": [locations whose delete failed — catalog entry
    gone, bytes not reclaimed]}.

    Scale notes: one catalog listing, then per expired hour one
    location lookup, one drop and one recursive delete through the
    table's Hadoop filesystem — metastore and LIST/DELETE calls of the
    shape the reference's lifecycle manager performs; no executor work
    at all."""
    import datetime

    if retention_days < 0:
        raise ValueError(f"retention_days must be >= 0 (got {retention_days})")
    now = now or datetime.datetime.now(datetime.timezone.utc)
    if now.tzinfo is None:
        now = now.replace(tzinfo=datetime.timezone.utc)
    cutoff = now - datetime.timedelta(days=retention_days)

    conf = spark._jsc.hadoopConfiguration()
    dropped: list[dict] = []
    kept = 0
    freed = 0
    dropped_failed: list[str] = []
    for (name,) in sorted(spark.sql(f"SHOW PARTITIONS {EVENTS_TABLE}").collect()):
        values = dict(kv.split("=", 1) for kv in name.split("/"))
        y, mo, d, h = (values[c] for c in ("year", "month", "day", "hour"))
        try:
            part_time = datetime.datetime(
                int(y), int(mo), int(d), int(h), tzinfo=datetime.timezone.utc
            )
        except ValueError:
            continue  # malformed partition values: never delete blindly
        # a partition covers [part_time, part_time + 1h); it is only
        # fully expired once its END is past the cutoff — comparing the
        # start would delete the boundary hour up to ~1 h early (the S3
        # lifecycle rules this mirrors never delete early)
        if part_time + datetime.timedelta(hours=1) > cutoff:
            kept += 1
            continue
        spec = _partition_spec(y, mo, d, h)
        location = _hour_location(spark, (y, mo, d, h))
        path = spark._jvm.org.apache.hadoop.fs.Path(location)
        fs = path.getFileSystem(conf)
        size = fs.getContentSummary(path).getLength() if fs.exists(path) else 0
        spark.sql(f"ALTER TABLE {EVENTS_TABLE} DROP IF EXISTS PARTITION ({spec})")
        try:
            fs.delete(path, True)
        except Py4JJavaError:
            pass  # reported below: the directory is still there
        if fs.exists(path):
            # delete failed (permissions, busy mount): the catalog
            # entry is already gone, but the bytes are NOT freed —
            # report it instead of silently overstating reclaim
            dropped_failed.append(location)
            continue
        dropped.append(
            {"year": y, "month": mo, "day": d, "hour": h, "bytes": size}
        )
        freed += size
    return {
        "dropped": dropped,
        "kept": kept,
        "freed_bytes": freed,
        "delete_failures": dropped_failed,
    }
