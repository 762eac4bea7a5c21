"""Firehose base64 intake, Variant projection, lake helpers."""

import base64
import json

from pyspark.sql import functions as F

from defenda_data_lake_spark.functions.variant import (
    variant_get_string,
    with_variant_details,
)
from defenda_data_lake_spark.lake import query_pandas
from defenda_data_lake_spark.operators.intake import decode_firehose_records
from defenda_data_lake_spark.operators import pipeline
from defenda_data_lake_spark.operators.pipeline import STATUS_OK, normalize_df


def test_decode_firehose_records(spark):
    """The Firehose transform path: base64 payloads -> plugin pipeline
    (reference processor.py:25-28).  A payload goes through the same
    splitter as a landed file: a list or a ``Records`` bundle unrolls,
    where the reference's processor fails the whole record."""
    events = [
        {"srcaddr": "198.51.100.1", "start": "2014-12-14T04:06:50"},
        {"kind": "not-gsuite", "x": 1},
        [{"summary": "a"}, {"summary": "b"}],
        {"Records": [{"summary": "c"}, {"summary": "d"}]},
    ]
    rows = [(base64.b64encode(json.dumps(e).encode()).decode(),) for e in events]
    rows.append(("bm90IGpzb24=",))  # base64("not json") -> quarantine
    df = spark.createDataFrame(rows, ["data"])
    out = normalize_df(decode_firehose_records(df), raw_col="raw").collect()
    by_status = {}
    for r in out:
        by_status.setdefault(r["_status"], []).append(r)
    assert len(by_status[STATUS_OK]) == 6
    assert {r["summary"] for r in by_status[STATUS_OK]} >= set("abcd")
    assert len(by_status["ProcessingFailed"]) == 1
    good = by_status[STATUS_OK][0]
    assert good["utctimestamp"] == "2014-12-14T04:06:50+00:00"


def test_variant_projection(spark):
    df = spark.createDataFrame(
        [('{"sourceipaddress": "1.2.3.4", "nested": {"k": "v"}}',)], ["details"]
    )
    v = with_variant_details(df)
    row = v.select(
        variant_get_string("details_v", "$.sourceipaddress").alias("ip"),
        variant_get_string("details_v", "$.nested.k").alias("k"),
        variant_get_string("details_v", "$.missing").alias("m"),
    ).first()
    assert row["ip"] == "1.2.3.4"
    assert row["k"] == "v"
    assert row["m"] is None


def test_query_pandas(spark):
    pdf = query_pandas(spark, "SELECT 1 AS one, 'x' AS s")
    assert list(pdf.columns) == ["one", "s"]
    assert pdf["one"][0] == 1


def test_decode_firehose_malformed_base64_quarantined(spark):
    """Malformed base64 must become a per-record NULL (quarantined as
    ProcessingFailed), never an ANSI-mode job abort."""
    rows = [
        (base64.b64encode(json.dumps({"k": 1}).encode()).decode(),),
        ("!!!not-base64!!!",),
    ]
    df = spark.createDataFrame(rows, ["data"])
    out = normalize_df(decode_firehose_records(df), raw_col="raw").collect()
    statuses = sorted(r["_status"] for r in out)
    assert statuses == [STATUS_OK, "ProcessingFailed"]


def test_decode_firehose_invalid_utf8_quarantined(spark):
    """VALID base64 of INVALID UTF-8 must also become a per-record NULL
    (ANSI decode would raise MALFORMED_CHARACTER_CODING and abort the
    whole batch)."""
    rows = [
        (base64.b64encode(json.dumps({"k": 1}).encode()).decode(),),
        (base64.b64encode(b"\xff\xfe{bad}").decode(),),
    ]
    df = spark.createDataFrame(rows, ["data"])
    out = normalize_df(decode_firehose_records(df), raw_col="raw").collect()
    statuses = sorted(r["_status"] for r in out)
    assert statuses == [STATUS_OK, "ProcessingFailed"]


def test_normalizer_frames_hold_at_most_a_batch_of_rows(monkeypatch):
    """A batch of whole files can hold many more records than rows; the
    normalizer yields them in frames of at most ``_FRAME_ROWS`` rows, in
    text order, and no empty frame."""
    import pandas as pd

    monkeypatch.setattr(pipeline, "_FRAME_ROWS", 4)
    texts = [
        json.dumps([{"summary": f"a{i}"} for i in range(9)]),
        "7",
        "\n".join(json.dumps({"summary": f"b{i}"}) for i in range(2)),
    ]
    normalize = pipeline._make_normalizer(pipeline.default_plugins)
    frames = list(normalize([pd.DataFrame({"raw": texts})]))
    assert [len(frame) for frame in frames] == [4, 4, 4]
    summaries = [s for frame in frames for s in frame["summary"]]
    assert summaries[:9] == [f"a{i}" for i in range(9)]
    assert summaries[9] is None
    assert summaries[10:] == ["b0", "b1"]
