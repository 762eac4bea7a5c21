"""Partition compaction: many small streaming-written files -> few,
with identical data."""

import json

from defenda_data_lake_spark.lake import EVENTS_TABLE, create_events_table, ingest_batch
from defenda_data_lake_spark.lake_maintenance import compact_partition
from tests.fixtures.events import ALL_FIXTURES


def test_compact_partition_roundtrip(spark, tmp_path):
    landing = tmp_path / "landing"
    landing.mkdir()
    location = str(tmp_path / "events_tbl")
    spark.sql("DROP TABLE IF EXISTS defenda_data_lake.events")
    create_events_table(spark, location=location)

    # several separate appends -> several files in the same hour partition
    with open(landing / "b.ndjson", "w") as f:
        for name in ("cloudtrail", "vpc_flow", "syslog"):
            f.write(json.dumps(ALL_FIXTURES[name]()) + "\n")
    for _ in range(4):
        ingest_batch(spark, str(landing), mode="ndjson")

    total_before = spark.table(EVENTS_TABLE).count()
    assert total_before == 12
    part = spark.sql(
        f"SELECT year, month, day, hour FROM {EVENTS_TABLE} LIMIT 1"
    ).first()

    stats = compact_partition(
        spark, location, part["year"], part["month"], part["day"], part["hour"]
    )
    assert stats["files_before"] >= 4
    assert stats["files_after"] == 1  # tiny partition -> one target file

    # data identical after the swap
    assert spark.table(EVENTS_TABLE).count() == total_before
    row = spark.sql(
        f"SELECT count(DISTINCT eventid) AS n FROM {EVENTS_TABLE}"
    ).first()
    assert row["n"] == total_before
    spark.sql("DROP TABLE IF EXISTS defenda_data_lake.events")


def test_compact_with_sort_clusters_files(spark, tmp_path):
    """sort_by compaction range-partitions the rewrite so parquet
    min/max footer statistics become file-disjoint — the data-skipping
    clustering pass."""
    import pyarrow.parquet as pq
    import os as _os

    src = tmp_path / "part_src"
    # one hour partition dir with interleaved sources across many files
    rows = [(i, ["alpha", "beta", "gamma", "delta"][i % 4]) for i in range(400)]
    df = spark.createDataFrame(rows, ["event_id", "source"])
    df.repartition(8).write.mode("overwrite").parquet(str(src))

    from defenda_data_lake_spark.lake_maintenance import compact_partition

    # move the written files into a hive-layout hour partition
    part_dir = tmp_path / "year=2026" / "month=01" / "day=01" / "hour=00"
    part_dir.parent.mkdir(parents=True)
    _os.rename(str(src), str(part_dir))

    stats = compact_partition(
        spark, str(tmp_path), "2026", "01", "01", "00",
        target_file_bytes=4 * 1024,  # force multiple output files
        table_name="nonexistent_table",
        sort_by=["source"],
    )
    assert stats["files_after"] >= 2

    files = [
        f for f in _os.listdir(part_dir)
        if f.endswith(".parquet") and not f.startswith(".")
    ]
    ranges = []
    for f in files:
        md = pq.read_metadata(str(part_dir / f))
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            col = next(
                md.row_group(rg).column(i)
                for i in range(md.row_group(rg).num_columns)
                if md.row_group(rg).column(i).path_in_schema == "source"
            )
            mins.append(col.statistics.min)
            maxs.append(col.statistics.max)
        ranges.append((min(mins), max(maxs)))
    # file ranges are non-overlapping (allowing shared boundary values):
    # sorted by min, each file's max <= next file's min
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2
    # and the data survived intact
    back = spark.read.parquet(str(part_dir))
    assert back.count() == 400
    assert back.select("source").distinct().count() == 4


def test_expire_partitions_enforces_retention(spark, tmp_path):
    import datetime
    import os

    from defenda_data_lake_spark.lake_maintenance import (
        expire_partitions,
        partition_path,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    location = str(tmp_path / "events_tbl")
    spark.sql("DROP TABLE IF EXISTS defenda_data_lake.events")
    create_events_table(spark, location=location)
    with open(landing / "b.ndjson", "w") as f:
        f.write(json.dumps(ALL_FIXTURES["cloudtrail"]()) + "\n")
    ingest_batch(spark, str(landing), mode="ndjson")

    part = spark.sql(
        f"SELECT year, month, day, hour FROM {EVENTS_TABLE} LIMIT 1"
    ).first()
    part_time = datetime.datetime(
        int(part["year"]), int(part["month"]), int(part["day"]),
        int(part["hour"]), tzinfo=datetime.timezone.utc,
    )

    # within retention: nothing dropped
    report = expire_partitions(
        spark, retention_days=90,
        now=part_time + datetime.timedelta(days=1),
    )
    assert report["dropped"] == [] and report["kept"] == 1
    assert spark.table(EVENTS_TABLE).count() == 1

    # dry run past retention: reported, not deleted
    later = part_time + datetime.timedelta(days=91)
    report = expire_partitions(
        spark, retention_days=90, now=later, dry_run=True
    )
    assert len(report["dropped"]) == 1 and report["freed_bytes"] > 0
    assert spark.table(EVENTS_TABLE).count() == 1

    # real run: catalog entry gone, directory gone, queries still work
    report = expire_partitions(spark, retention_days=90, now=later)
    assert len(report["dropped"]) == 1
    assert spark.table(EVENTS_TABLE).count() == 0
    d = report["dropped"][0]
    assert not os.path.exists(
        partition_path(location, d["year"], d["month"], d["day"], d["hour"])
    )

    import pytest

    with pytest.raises(ValueError):
        expire_partitions(spark, retention_days=-1)


def test_expire_partitions_drops_registered_bare_layout_hours(spark, tmp_path):
    """Hours registered under the reference's bare ``Y/M/D/H`` layout
    expire like the hive-layout hours ``insertInto`` writes: both are
    found through the catalog, dropped, and their directories deleted."""
    import datetime
    import os

    from defenda_data_lake_spark.lake import register_hour_partition
    from defenda_data_lake_spark.lake_maintenance import expire_partitions
    from defenda_data_lake_spark.schema import SHELL_FIELDS

    landing = tmp_path / "landing"
    landing.mkdir()
    location = str(tmp_path / "events_tbl")
    spark.sql("DROP TABLE IF EXISTS defenda_data_lake.events")
    create_events_table(spark, location=location)
    with open(landing / "b.ndjson", "w") as f:
        f.write(json.dumps(ALL_FIXTURES["cloudtrail"]()) + "\n")
    ingest_batch(spark, str(landing), mode="ndjson")
    ingested = spark.sql(
        f"SELECT year, month, day, hour FROM {EVENTS_TABLE} LIMIT 1"
    ).first()

    base = str(tmp_path / "firehose")
    bare_dir = os.path.join(base, "2020", "01", "02", "03")
    spark.table(EVENTS_TABLE).select(*SHELL_FIELDS).write.parquet(bare_dir)
    register_hour_partition(spark, base, ("2020", "01", "02", "03"))
    assert spark.table(EVENTS_TABLE).count() == 2

    later = datetime.datetime(
        int(ingested["year"]), int(ingested["month"]), int(ingested["day"]),
        int(ingested["hour"]), tzinfo=datetime.timezone.utc,
    ) + datetime.timedelta(days=91)
    report = expire_partitions(spark, retention_days=90, now=later)

    hours = sorted(
        (d["year"], d["month"], d["day"], d["hour"]) for d in report["dropped"]
    )
    assert hours == sorted([("2020", "01", "02", "03"), tuple(ingested)])
    assert report["kept"] == 0 and report["delete_failures"] == []
    assert all(d["bytes"] > 0 for d in report["dropped"])
    assert spark.sql(f"SHOW PARTITIONS {EVENTS_TABLE}").collect() == []
    assert spark.table(EVENTS_TABLE).count() == 0
    assert not os.path.exists(bare_dir)
    assert not os.path.exists(
        os.path.join(
            location, f"year={ingested['year']}", f"month={ingested['month']}",
            f"day={ingested['day']}", f"hour={ingested['hour']}",
        )
    )
    spark.sql("DROP TABLE IF EXISTS defenda_data_lake.events")
