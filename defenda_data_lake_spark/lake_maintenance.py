"""Lake maintenance: small-file compaction for streaming-written
partitions, and retention for the hour-partitioned events table.

The 60 s micro-batch ingest appends one-or-more parquet files per
trigger per hour partition — a day of streaming at 60 s triggers is
~1440 files/partition-day.  At 100 TB that file count (not data size)
becomes the scan bottleneck: task-per-file scheduling, footer reads,
and object-store LIST costs.  ``compact_partition`` rewrites one hive
partition into ~``target_file_bytes`` files; run it per closed hour
(the partition is processing-time, so an hour stops receiving appends
once the trigger clock passes it — no concurrent-writer window).
``expire_partitions`` drops the hours older than a retention window,
the table-side twin of the reference's S3 lifecycle rules.
"""

from __future__ import annotations

import os
import shutil
import uuid

from py4j.protocol import Py4JJavaError
from pyspark.sql import SparkSession

from defenda_data_lake_spark.lake import EVENTS_TABLE, _hour_location, _partition_spec


def partition_path(
    root: str, year: str, month: str, day: str, hour: str
) -> str:
    return os.path.join(
        root, f"year={year}", f"month={month}", f"day={day}", f"hour={hour}"
    )


def compact_partition(
    spark: SparkSession,
    table_location: str,
    year: str,
    month: str,
    day: str,
    hour: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    table_name: str = EVENTS_TABLE,
    sort_by: list[str] | None = None,
) -> dict:
    """Rewrite one hour partition into size-targeted files.

    Reads the partition directory, coalesces to
    ``ceil(bytes / target_file_bytes)`` output files, writes to a
    sibling temp dir, then atomically swaps directories and refreshes
    the table.  Returns {files_before, files_after, bytes}.

    ``sort_by`` additionally range-partitions and sorts the rewrite on
    the given columns (e.g. ``["source", "category"]``) — the
    Z-order-lite clustering pass: each output file/row group then
    covers a narrow, largely disjoint value range, so parquet min/max
    statistics prune entire files for selective predicates on those
    columns.  At 100 TB this is the difference between a filter
    touching every compacted file and touching one — compaction is the
    natural (and only) place to pay the sort, since the hour partition
    is already being rewritten."""
    part_dir = partition_path(table_location, year, month, day, hour)
    data_files = [
        f
        for f in os.listdir(part_dir)
        if f.endswith(".parquet") and not f.startswith(".")
    ]
    total_bytes = sum(os.path.getsize(os.path.join(part_dir, f)) for f in data_files)
    # an empty partition is always a no-op (reading it would raise a
    # schema-inference error); a single file needs no size compaction —
    # but a clustering request (sort_by) must still rewrite it, or an
    # already-compacted partition could never be clustered
    if len(data_files) == 0 or (len(data_files) == 1 and not sort_by):
        return {
            "files_before": len(data_files),
            "files_after": len(data_files),
            "bytes": total_bytes,
        }
    n_out = max(1, -(-total_bytes // target_file_bytes))  # ceil

    df = spark.read.parquet(part_dir)
    tmp_dir = os.path.join(
        os.path.dirname(part_dir), f".compact-{uuid.uuid4().hex[:8]}"
    )
    if sort_by:
        # range-partition so each output file owns a disjoint key range,
        # then sort within files so row groups are clustered too
        out = df.repartitionByRange(n_out, *sort_by).sortWithinPartitions(
            *sort_by
        )
    else:
        out = df.coalesce(n_out)
    out.write.mode("overwrite").parquet(tmp_dir)

    old_dir = part_dir + f".old-{uuid.uuid4().hex[:8]}"
    os.rename(part_dir, old_dir)
    os.rename(tmp_dir, part_dir)
    shutil.rmtree(old_dir)

    try:
        spark.catalog.refreshTable(table_name)
    except Exception:
        pass  # table may not be registered (raw-path usage)
    files_after = len(
        [f for f in os.listdir(part_dir) if f.endswith(".parquet")]
    )
    return {
        "files_before": len(data_files),
        "files_after": files_after,
        "bytes": total_bytes,
    }


def expire_partitions(
    spark: SparkSession,
    retention_days: int,
    now: "datetime.datetime | None" = None,
    dry_run: bool = False,
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
        if not dry_run:
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
