"""The event-shell schema — the system's core data contract.

Mirrors the reference's fixed 9-column shell + 4 partition columns
(reference main.tf:244-288, normalization_plugins/event_shell.py:17-26,
README.md:56-84).  The outer schema is fixed; ``details`` stays a JSON
*string* so arbitrary nested event interiors survive untyped and are
interrogated at query time with ``get_json_object`` (the Spark analogue
of Presto's ``json_extract_scalar``, reference README.md:97,112).

Partition columns are derived from **processing time**, not event time
(reference generate_partitions.py:24-33 registers the current wall-clock
hour) — see ``defenda_data_lake_spark.operators.pipeline.add_partition_columns``.

Scale note: at 100 TB the hour-grain hive layout
``year=/month=/day=/hour=`` gives Catalyst automatic partition pruning
for the reference's documented time-bounded queries (README.md:98-114);
storing Parquet (vs the reference's gzip NDJSON) additionally buys
column pruning + min/max row-group skipping.
"""

from __future__ import annotations

from pyspark.sql import types as T

SHELL_DEFAULTS = {
    "severity": "INFO",
    "summary": "UNKNOWN",
    "category": "UNKNOWN",
    "source": "UNKNOWN",
}

EVENT_SHELL_SCHEMA = T.StructType(
    [
        T.StructField("eventid", T.StringType(), True),
        T.StructField("utctimestamp", T.StringType(), True),
        T.StructField("severity", T.StringType(), True),
        T.StructField("summary", T.StringType(), True),
        T.StructField("category", T.StringType(), True),
        T.StructField("source", T.StringType(), True),
        T.StructField("tags", T.ArrayType(T.StringType()), True),
        T.StructField("plugins", T.ArrayType(T.StringType()), True),
        T.StructField("details", T.StringType(), True),
    ]
)

SHELL_FIELDS = EVENT_SHELL_SCHEMA.fieldNames()
