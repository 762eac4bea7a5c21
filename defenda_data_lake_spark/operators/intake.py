"""Intake operators: turn raw landed files into a DataFrame of
one-JSON-string-per-event records, ready for the plugin pipeline.

Re-expresses the reference's S3-relay lambda dataflow (reference
lambdas/s3_to_firehose.py:38-126, SURVEY.md A4-A10):

* gzip handling — Spark's text source decompresses ``.gz`` by codec
  extension natively (A5);
* concatenated-JSON splitting (A6, reference utils/helpers.py:14-33) —
  where the reference's brace count keeps only ``{...}`` blocks, this
  reads successive top-level values of any type and passes text that
  does not decode on raw, so every value lands or is quarantined;
* CloudTrail ``Records`` unroll, top-level-list unroll, bare-dict wrap
  (A7-A9);
* source tagging by filename (A10, reference s3_to_firehose.py:65-69).

Scale notes: ``read_ndjson_events`` is the 100 TB path — a line-based
text scan is splittable (many tasks per large file; gzip is the
exception, one stream per file, same as the reference's storage).
``read_blob_events`` (wholetext) is the compatibility fallback for
non-NDJSON blobs; each file is one task, so it should only ever see the
small malformed-upload tail, not the main firehose output.  Both are
narrow (shuffle-free) scans.
"""

from __future__ import annotations

import json
import re
from typing import Any, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Reference filename convention for CloudTrail drops
# (reference utils/helpers.py:10-12), shared by the Python and JVM taggers.
_CLOUDTRAIL_PATTERN = r"\d+_cloudtrail_.+\.json\.gz$"
_CLOUDTRAIL_RE = re.compile(_CLOUDTRAIL_PATTERN, re.IGNORECASE)

DEFAULT_SOURCE = "s3json"


def is_cloudtrail(filename: str) -> bool:
    return bool(_CLOUDTRAIL_RE.search(filename or ""))


# skipped between values: whitespace, and the byte-order mark a file may start with
_WHITESPACE = re.compile(r"[\s\ufeff]*")
# What a JSON value can start with, so text that cannot start one is
# skipped without a failed decode.
_VALUE_START = r'[-0-9"\[{]|true|false|null|NaN|Infinity'
_STARTS_VALUE = re.compile(_VALUE_START)
_VALUE_AFTER_SPACE = re.compile(rf"(?<=\s)(?:{_VALUE_START})")
_DECODER = json.JSONDecoder()
# A failed ``raw_decode`` costs time linear in its offset into the string
# it reads (the error counts the lines before it).  So a value further
# into the blob than the window's length decodes in a copy of the window
# that starts where the value does.  The window starts at ``_WINDOW``
# characters and grows eightfold while the decode may have stopped for
# want of the text past it: an unterminated string, or an error or a
# top-level number within ``_MARGIN`` characters of its end (the longest
# token, ``-Infinity``, and a ``\uXXXX`` escape are shorter).
_WINDOW = 4096
_MARGIN = 16

# The value ``split_concatenated_json`` pairs with text that does not decode.
UNPARSEABLE = object()


def _block_end(text: str, start: int) -> int:
    """Index just past the ``}`` that closes the ``{`` at ``start``,
    ignoring braces inside JSON strings; ``len(text)`` when the block
    never closes."""
    depth = 0
    in_string = False
    escaped = False
    for i in range(start, len(text)):
        ch = text[i]
        if in_string:
            if escaped:
                escaped = False
            elif ch == "\\":
                escaped = True
            elif ch == '"':
                in_string = False
        elif ch == '"':
            in_string = True
        elif ch == "{":
            depth += 1
        elif ch == "}":
            depth -= 1
            if depth == 0:
                return i + 1
    return len(text)


def split_concatenated_json(text: str) -> Iterator[tuple[str, Any]]:
    """Yield ``(slice, value)`` for each top-level JSON value of a text
    blob that may hold several with or without whitespace between them
    (reference utils/helpers.py:14-33, which keeps ``{...}`` blocks
    only).  ``slice`` is the exact text of the value.  Text that does
    not decode comes as its own slice paired with ``UNPARSEABLE``: a
    malformed ``{...}`` block up to its closing brace (or the end, when
    it never closes), any other text up to the first later position
    that follows whitespace and from which a value decodes, or up to
    the next ``{``, whichever comes first.  Every character but the
    whitespace between values is in exactly one slice."""
    pos = _WHITESPACE.match(text).end()
    while pos < len(text):
        value, end = _decode(text, pos)
        if value is UNPARSEABLE:
            if text[pos] == "{":
                end = _block_end(text, pos)
            else:
                end = text.find("{", pos + 1)
                if end == -1:
                    end = len(text)
                for m in _VALUE_AFTER_SPACE.finditer(text, pos + 1, end):
                    if _decode(text, m.start())[0] is not UNPARSEABLE:
                        end = m.start()
                        break
        yield text[pos:end], value
        pos = _WHITESPACE.match(text, end).end()


def _decode(text: str, pos: int) -> tuple[Any, int]:
    """``raw_decode`` at ``pos``, or ``(UNPARSEABLE, pos)`` when no
    value decodes there.  A failure costs time linear in the text the
    decoder read (see ``_WINDOW``), not in ``pos``."""
    if not _STARTS_VALUE.match(text, pos):
        return UNPARSEABLE, pos
    size = _WINDOW
    while True:
        if pos < size:
            window, base, whole = text, 0, True
        else:
            window, base = text[pos : pos + size], pos
            whole = pos + size >= len(text)
        try:
            value, end = _DECODER.raw_decode(window, pos - base)
        except json.JSONDecodeError as e:
            if whole or (
                e.pos < size - _MARGIN and not e.msg.startswith("Unterminated string")
            ):
                return UNPARSEABLE, pos
        # nesting deeper than the C scanner allows
        except RecursionError:
            return UNPARSEABLE, pos
        else:
            if whole or end < size - _MARGIN or not isinstance(value, (int, float)):
                return value, base + end
        size *= 8


def extract_events(blob: str, filename: str = "") -> Iterator[tuple[str, str]]:
    """Turn one raw file blob into ``(event_json, source)`` pairs with
    the reference's parse/unroll/tag semantics
    (reference s3_to_firehose.py:100-126).  Text that does not parse
    is yielded as-is (before the parsed values), and a value that
    parses but is not an object (a bare ``42``, a scalar in a list or
    in ``Records``) is yielded as its JSON text, so the pipeline
    quarantines either as ``ProcessingFailed`` with its payload instead
    of losing it — as the NDJSON path does."""
    source = "cloudtrail" if is_cloudtrail(filename) else DEFAULT_SOURCE
    chunks = []
    for text, value in split_concatenated_json(blob):
        if value is UNPARSEABLE:
            yield text, source
        else:
            chunks.append(value)
    for parsed in chunks:
        if isinstance(parsed, dict) and isinstance(parsed.get("Records"), list):
            records = parsed["Records"]
        elif isinstance(parsed, list):
            records = parsed
        else:
            records = [parsed]
        for record in records:
            if isinstance(record, dict):
                # the reference stamps the intake source onto every
                # record, overwriting any existing value
                # (s3_to_firehose.py:107,114,120,125)
                record["source"] = source
            yield json.dumps(record), source


RAW_EVENT_SCHEMA = T.StructType(
    [
        T.StructField("raw", T.StringType(), False),
        T.StructField("source", T.StringType(), False),
    ]
)


def _blob_batches(
    batches: Iterable[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    for batch in batches:
        rows = []
        for blob, fname in zip(batch["value"], batch["file"]):
            rows.extend(extract_events(blob, fname))
        yield pd.DataFrame(rows, columns=["raw", "source"])


def read_blob_events(spark: SparkSession, path: str) -> DataFrame:
    """Whole-file intake for arbitrary blobs (concatenated JSON,
    CloudTrail bundles, multi-line JSON).  One task per file — use for
    the malformed tail, not the main NDJSON stream."""
    df = (
        spark.read.text(path, wholetext=True)
        .withColumn("file", F.input_file_name())
        .select("value", "file")
    )
    return df.mapInPandas(_blob_batches, schema=RAW_EVENT_SCHEMA)


def decode_firehose_records(
    df: DataFrame, data_col: str = "data", source_col: str | None = None
) -> DataFrame:
    """Decode a Firehose-style record batch: base64 payload column →
    raw JSON event strings (reference processor.py:25-28 does exactly
    this per record; here it's one vectorized JVM expression).
    ``try_to_binary`` (not ``unbase64``) so malformed base64 decodes to
    NULL per record, and ``try_validate_utf8`` (not ``decode``, which
    raises MALFORMED_CHARACTER_CODING under ANSI) so valid base64 of
    invalid UTF-8 also decodes to NULL per record — either way the
    downstream pipeline quarantines NULL raw as ProcessingFailed,
    matching the reference's per-record failure handling
    (processor.py:58-66) instead of aborting the whole batch."""
    cols = [
        F.try_validate_utf8(
            F.try_to_binary(F.col(data_col), F.lit("base64")).cast("string")
        ).alias("raw")
    ]
    if source_col is not None:
        cols.append(F.col(source_col).alias("source"))
    return df.select(*cols)


def ndjson_intake(lines: DataFrame) -> DataFrame:
    """A text scan's ``value`` lines → ``(raw, source)`` rows: blank
    lines dropped, ``source`` tagged from the file name JVM-side.  The
    one NDJSON intake expression, shared by the batch scan and the
    streaming ``FileLandingSource``."""
    is_cloudtrail_file = F.input_file_name().rlike("(?i)" + _CLOUDTRAIL_PATTERN)
    return lines.filter(F.trim(F.col("value")) != "").select(
        F.col("value").alias("raw"),
        F.when(is_cloudtrail_file, "cloudtrail")
        .otherwise(DEFAULT_SOURCE)
        .alias("source"),
    )


def read_ndjson_events(spark: SparkSession, path: str) -> DataFrame:
    """Line-based intake for newline-delimited JSON (the reference's
    storage format, processor.py:51-57).  Splittable scan — this is the
    scale path."""
    return ndjson_intake(spark.read.text(path))
