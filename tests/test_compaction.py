"""Retention: hour partitions past the window are dropped from the
catalog and their directories deleted, in either directory layout."""

import json

from defenda_data_lake_spark.lake import EVENTS_TABLE, create_events_table, ingest_batch
from tests.fixtures.events import ALL_FIXTURES


def test_expire_partitions_enforces_retention(spark, tmp_path):
    import datetime
    import os

    from defenda_data_lake_spark.lake_maintenance import expire_partitions

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

    # past retention: catalog entry gone, directory gone, queries work
    later = part_time + datetime.timedelta(days=91)
    hour_dir = os.path.join(
        location,
        *(f"{c}={part[c]}" for c in ("year", "month", "day", "hour")),
    )
    assert os.path.isdir(hour_dir)
    report = expire_partitions(spark, retention_days=90, now=later)
    assert len(report["dropped"]) == 1 and report["freed_bytes"] > 0
    assert spark.table(EVENTS_TABLE).count() == 0
    assert not os.path.exists(hour_dir)

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
