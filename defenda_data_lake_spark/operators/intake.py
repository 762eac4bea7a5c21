"""Intake operators: turn raw landed files into a DataFrame of
``(raw, source)`` text rows, and each text into the records the plugin
pipeline runs on.

Re-expresses the reference's S3-relay lambda dataflow (reference
lambdas/s3_to_firehose.py:38-126, SURVEY.md A4-A10):

* gzip handling — Spark's text source decompresses ``.gz`` by codec
  extension natively (A5);
* source tagging by filename, JVM-side (A10, reference
  s3_to_firehose.py:65-69);
* text → records (``records``), which the normalizer runs on every
  input row whatever the intake: concatenated-JSON splitting (A6,
  reference utils/helpers.py:14-33) — where the reference's brace count
  keeps only ``{...}`` blocks, this reads successive top-level values
  of any type and passes text that does not decode on raw, so every
  value lands or is quarantined — then CloudTrail ``Records`` unroll,
  top-level-list unroll, bare-dict wrap (A7-A9).

Scale notes: the text scan is the only intake stage; splitting runs in
the normalizer's one Python stage.  A line scan (``ingest_batch``'s
``mode="ndjson"``, the stream) is the 100 TB path — it is splittable
(many tasks per large file; gzip is the exception, one stream per file,
same as the reference's storage).  A whole-file scan (``mode="blob"``)
is for values that span lines; each file is one task, so it should only
ever see the small malformed-upload tail, not the main firehose output.
Both are narrow (shuffle-free) scans.
"""

from __future__ import annotations

import json
import re
from typing import Any, Iterable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

try:  # optional fast path: ~4x stdlib json parse
    import orjson as _orjson
except Exception:  # pragma: no cover - environment without orjson
    _orjson = None

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
# A line start: the first character of a line that does not continue a
# value spanning lines, as the indented inner lines and the closing line
# of a pretty-printed document do.  Text that does not decode ends there.
_LINE_HEAD = re.compile(r"[^\s}\]]")
_GARBAGE_END = re.compile(r"\{|(?<=\n)[^\s}\]]")  # the next "{" or line start
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
    ignoring braces inside JSON strings, or of the newline before the
    next line start (or the end of the text) for a block still open
    there: a record cut short does not swallow the lines after it."""
    depth = 0
    in_string = False
    escaped = False
    for i in range(start, len(text)):
        ch = text[i]
        # before the string state: a raw newline ends a cut string too
        if ch == "\n" and _LINE_HEAD.match(text, i + 1):
            return i
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
    malformed ``{...}`` block up to its closing brace (or, when it never
    closes, up to the next line start, ``_LINE_HEAD``), any other text
    up to the first later position that follows whitespace and from
    which a value decodes, or up to the next ``{`` or line start,
    whichever comes first.  Every character but the whitespace between
    values is in exactly one slice."""
    pos = _WHITESPACE.match(text).end()
    while pos < len(text):
        value, end = _decode(text, pos)
        if value is UNPARSEABLE:
            if text[pos] == "{":
                end = _block_end(text, pos)
            else:
                m = _GARBAGE_END.search(text, pos + 1)
                end = m.start() if m else len(text)
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
        # nesting deeper than the C scanner allows, or an integer longer
        # than int() converts (``sys.get_int_max_str_digits``)
        except (RecursionError, ValueError):
            return UNPARSEABLE, pos
        else:
            if whole or end < size - _MARGIN or not isinstance(value, (int, float)):
                return value, base + end
        size *= 8


def _loads(raw) -> Any:
    """Parse with orjson when available, falling back to stdlib json for
    inputs orjson rejects but the reference accepts (NaN/Infinity)."""
    if _orjson is not None:
        try:
            return _orjson.loads(raw)
        except Exception:
            pass
    return json.loads(raw)


def _unroll(raw: str, value: Any) -> Iterable[tuple[str, Any]]:
    """The records of one value (reference s3_to_firehose.py:100-126):
    a dict's ``Records`` list and a list unroll, each record with
    ``json.dumps(record)`` as its raw; any other value, ``UNPARSEABLE``
    too, is one record with ``raw`` as its raw."""
    if isinstance(value, dict) and isinstance(value.get("Records"), list):
        value = value["Records"]
    elif not isinstance(value, list):
        return ((raw, value),)
    return [(json.dumps(record), record) for record in value]


def records(text: str | None) -> Iterable[tuple[str | None, Any]]:
    """``(raw, value)`` for each record of one input text (a line, a
    whole file, a stream record), in text order: the one text → records
    rule of every intake.  Text that parses as one value is that value,
    with the whole text as its raw; other text is read value by value
    (``split_concatenated_json``).  A ``Records`` bundle or a list
    unrolls.  A NULL text is ``(None, UNPARSEABLE)``, which the pipeline
    quarantines as ``ProcessingFailed`` like text that does not decode;
    whitespace-only text has no records.  Text whose records cannot be
    serialized again (nested too deep) is one ``(text, UNPARSEABLE)``:
    no text fails the task that reads it."""
    if text is None:
        return ((None, UNPARSEABLE),)
    try:
        try:
            value = _loads(text)
        except (ValueError, RecursionError):  # a list: all records or none
            return [
                record
                for raw, value in split_concatenated_json(text)
                for record in _unroll(raw, value)
            ]
        return _unroll(text, value)
    except (ValueError, RecursionError):
        return ((text, UNPARSEABLE),)


def decode_firehose_records(df: DataFrame) -> DataFrame:
    """Decode a Firehose-style record batch: base64 ``data`` column →
    raw JSON event strings (reference processor.py:25-28 does exactly
    this per record; here it's one vectorized JVM expression).
    ``try_to_binary`` (not ``unbase64``) so malformed base64 decodes to
    NULL per record, and ``try_validate_utf8`` (not ``decode``, which
    raises MALFORMED_CHARACTER_CODING under ANSI) so valid base64 of
    invalid UTF-8 also decodes to NULL per record — either way the
    normalizer still quarantines a NULL raw as one ProcessingFailed row
    (``records(None)``), matching the reference's per-record failure
    handling (processor.py:58-66) instead of aborting the whole batch.
    A decoded payload is split like any other intake text: a list or a
    ``Records`` bundle unrolls, where the reference's processor fails
    the whole record."""
    return df.select(
        F.try_validate_utf8(
            F.try_to_binary(F.col("data"), F.lit("base64")).cast("string")
        ).alias("raw")
    )


def ndjson_intake(lines: DataFrame) -> DataFrame:
    """A text scan's ``value`` rows (lines, or whole files) →
    ``(raw, source)`` rows: blank rows dropped, ``source`` tagged from
    the file name JVM-side.  The one file intake expression, shared by
    both batch modes and the streaming ``FileLandingSource``."""
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
