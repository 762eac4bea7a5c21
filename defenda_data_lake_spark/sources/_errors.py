"""The shared connector load of the optional streaming sources.

The Kafka / Kinesis adapters substitute an actionable "add the
connector JAR" hint when ``format(...).load()`` fails because the
connector isn't on the classpath — and ONLY then (any other failure is
a real config error whose own message is the actionable one).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

# free-text fallbacks; version-dependent wording, so the structured
# error class below is checked first
_MISSING_MARKERS = (
    "DATA_SOURCE_NOT_FOUND",
    "Failed to find data source",
    "ClassNotFoundException",
)


def is_missing_connector(exc: Exception) -> bool:
    """True when ``exc`` is Spark's missing-data-source failure.

    Checks the structured PySpark error class first
    (``getErrorClass`` — stable across message rewordings), falling
    back to the known free-text signatures for exceptions that don't
    carry a class (plain JVM ClassNotFoundException, older Sparks)."""
    get_class = getattr(exc, "getErrorClass", None)
    if callable(get_class):
        try:
            if get_class() == "DATA_SOURCE_NOT_FOUND":
                return True
        except Exception:
            pass  # structured accessor unavailable on this exception
    msg = str(exc)
    return any(marker in msg for marker in _MISSING_MARKERS)


def load_connector(
    spark: SparkSession, fmt: str, options: dict[str, str], hint: str
) -> DataFrame:
    """``spark.readStream`` of connector ``fmt`` with ``options``;
    raises ``RuntimeError(hint)`` when the connector is missing."""
    try:
        return spark.readStream.format(fmt).options(**options).load()
    except Exception as exc:
        # substitute the actionable hint ONLY for the missing-JAR
        # signature; any other failure (bad option value, malformed
        # offsets, auth) is a real config error whose own message is
        # the actionable one — mislabeling it "add the connector"
        # sends the user down the wrong path
        if is_missing_connector(exc):
            raise RuntimeError(hint) from exc
        raise
