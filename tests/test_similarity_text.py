"""Similarity-search and text-analysis operator tests."""

import math

import pytest
from pyspark.sql import functions as F

from defenda_data_lake_spark.operators.similarity import (
    cosine_topk,
    lsh_cosine_topk,
    with_cosine,
)
from defenda_data_lake_spark.operators.text import (
    detect_language,
    fingerprint,
    quality_features,
)
from defenda_data_lake_spark.operators.multimodal import (
    as_media_table,
    decode_media,
)


@pytest.fixture(scope="module")
def vectors(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),   # close to 0
        (2, [0.0, 1.0, 0.0]),   # orthogonal to 0
        (3, [-1.0, 0.0, 0.0]),  # opposite of 0
        (4, [0.8, 0.2, 0.0]),
    ]
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_with_cosine(spark):
    df = spark.createDataFrame(
        [([1.0, 2.0], [2.0, 4.0]), ([1.0, 0.0], [0.0, 1.0])], ["a", "b"]
    )
    got = [r["cosine"] for r in with_cosine(df, "a", "b").collect()]
    assert abs(got[0] - 1.0) < 1e-12
    assert abs(got[1]) < 1e-12


def test_cosine_topk_ordering(vectors):
    res = cosine_topk(vectors, vectors.filter(F.col("vec_id") == 0), k=4).collect()
    order = [r["neighbor_id"] for r in sorted(res, key=lambda r: r["rank"])]
    assert order == [1, 4, 2, 3]
    assert all(r["query_id"] == 0 for r in res)


def test_quantize_embeddings_values_and_dequantize(spark):
    from defenda_data_lake_spark.operators.similarity import quantize_embeddings

    df = spark.createDataFrame(
        [(0, [0.5, -1.0, 0.25]), (1, [0.0, 0.0, 0.0])], ["vec_id", "embedding"]
    )
    rows = {r["vec_id"]: r for r in quantize_embeddings(df).collect()}
    # maxabs=1.0 -> q = floor(v*127 + 0.5)
    assert rows[0]["q_embedding"] == [64, -127, 32]
    assert abs(rows[0]["q_scale"] - 1.0 / 127) < 1e-15
    # zero vector: zeros, not NaN
    assert rows[1]["q_embedding"] == [0, 0, 0]
    # dequantize error bounded by scale/2 per component
    deq = [q * rows[0]["q_scale"] for q in rows[0]["q_embedding"]]
    for got, want in zip(deq, [0.5, -1.0, 0.25]):
        assert abs(got - want) <= rows[0]["q_scale"] / 2 + 1e-12


def test_quantized_topk_matches_brute_on_separated_vectors(vectors):
    from defenda_data_lake_spark.operators.similarity import quantized_cosine_topk

    brute = cosine_topk(vectors, vectors.filter(F.col("vec_id") == 0), k=4).collect()
    quant = quantized_cosine_topk(
        vectors, vectors.filter(F.col("vec_id") == 0)
    ).collect()
    assert [r["neighbor_id"] for r in sorted(quant, key=lambda r: r["rank"])] == [
        r["neighbor_id"] for r in sorted(brute, key=lambda r: r["rank"])
    ]


def test_lsh_topk_subset_of_brute(spark, vectors):
    """LSH results must be correctly-ranked members of the bucket —
    every returned neighbor's cosine must match the brute-force value.
    The hyperplanes are 64-dim: the vectors are zero-padded to 64."""
    padded = spark.createDataFrame(
        [(r["vec_id"], list(r["embedding"]) + [0.0] * 61) for r in vectors.collect()],
        ["vec_id", "embedding"],
    )
    brute = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in cosine_topk(padded, padded, k=4).collect()
    }
    approx = lsh_cosine_topk(padded, padded, num_planes=2).collect()
    assert len(approx) > 0
    for r in approx:
        key = (r["query_id"], r["neighbor_id"])
        assert key in brute
        assert abs(brute[key] - r["cosine"]) < 1e-9


def test_ivf_topk_probes_nearest_list(spark):
    from defenda_data_lake_spark.operators.similarity import ivf_topk

    rows = [
        (0, [1.0, 0.0], 0),
        (1, [0.9, 0.1], 0),
        (2, [0.8, 0.0], 0),
        (3, [0.0, 1.0], 1),
        (4, [0.1, 0.9], 1),
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    res = ivf_topk(emb, emb.filter(F.col("vec_id") == 0)).collect()
    neighbors = {r["neighbor_id"] for r in res}
    # only the x-axis list (label 0) is probed
    assert neighbors == {1, 2}
    assert all(r["query_id"] == 0 for r in res)
    # rank 1 is the closest in-list vector
    assert min(res, key=lambda r: r["rank"])["neighbor_id"] == 2


# ------------------------------------------------------------------- text


@pytest.fixture(scope="module")
def texts(spark):
    rows = [
        (1, "the cat and the dog of a house"),       # english markers
        (2, "der hund und die katze ist hier"),      # german markers
        (3, "xyzzy qwerty asdf"),                    # no markers
        (4, "dog house cat!!! ###"),                 # punctuation-heavy
        (5, "cat dog house"),
        (6, "house dog cat"),                        # same bag as 5
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_detect_language(texts):
    got = {r["doc_id"]: r["detected_lang"] for r in detect_language(texts).collect()}
    assert got[1] == "en"
    assert got[2] == "de"
    assert got[3] == "und"


def test_quality_features(texts):
    got = {r["doc_id"]: r for r in quality_features(texts).collect()}
    assert got[1]["n_tokens"] == 8
    assert got[1]["stopword_ratio"] == pytest.approx(5 / 8)
    assert got[3]["stopword_ratio"] == 0.0
    # punct-heavy doc scores worse than clean marker-rich doc
    assert got[4]["quality_score"] < got[1]["quality_score"]
    assert 0.0 <= got[4]["quality_score"] <= 1.0


def test_fingerprint_order_insensitive(texts):
    got = {r["doc_id"]: r["fingerprint"] for r in fingerprint(texts).collect()}
    assert got[5] == got[6]
    assert got[5] != got[1]


# -------------------------------------------------------------- multimodal


def test_media_roundtrip(spark):
    df = spark.createDataFrame([(1, "hello"), (2, "world!")], ["id", "payload_text"])
    media = as_media_table(
        df.withColumn("payload", F.encode("payload_text", "UTF-8")), "id", "payload"
    )
    rows = {r["media_id"]: r for r in media.collect()}
    assert rows[1]["meta"]["n_bytes"] == 5
    assert rows[2]["meta"]["n_bytes"] == 6
    assert rows[1]["meta"]["media_type"] == "image"

    decoded = {r["media_id"]: r for r in decode_media(media).collect()}
    assert set(decoded) == {1, 2}
    # deterministic fake: same content -> same dims
    again = {r["media_id"]: r for r in decode_media(media).collect()}
    assert decoded[1]["width"] == again[1]["width"]
    assert 16 <= decoded[1]["width"] < 80
    assert len(decoded[1]["feature"]) > 0


def _build_png(width, height, pixel_fn, color_type=2, filters=None):
    """Hand-assemble a real PNG (8-bit), one scanline per filter type in
    ``filters`` (cycled): the test encodes with the spec's filter math
    forward, the decoder must invert it."""
    import struct
    import zlib

    channels = {0: 1, 2: 3, 4: 2, 6: 4}[color_type]
    filters = filters or [0]
    stride = width * channels
    rows = [
        bytes(
            pixel_fn(x, y, c)
            for x in range(width)
            for c in range(channels)
        )
        for y in range(height)
    ]
    raw = bytearray()
    prev = bytes(stride)
    for y, row in enumerate(rows):
        ftype = filters[y % len(filters)]
        raw.append(ftype)
        if ftype == 0:  # None
            raw.extend(row)
        elif ftype == 1:  # Sub
            raw.extend(
                (row[i] - (row[i - channels] if i >= channels else 0)) & 0xFF
                for i in range(stride)
            )
        elif ftype == 2:  # Up
            raw.extend((row[i] - prev[i]) & 0xFF for i in range(stride))
        elif ftype == 3:  # Average
            raw.extend(
                (row[i] - (((row[i - channels] if i >= channels else 0) + prev[i]) >> 1))
                & 0xFF
                for i in range(stride)
            )
        prev = row

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def test_png_decoder_rejects_unsupported_profile():
    from defenda_data_lake_spark.operators.multimodal import _decode_png

    import pytest as _pytest

    png16 = bytearray(_build_png(4, 4, lambda x, y, c: 0))
    png16[24] = 16  # patch IHDR bit depth
    with _pytest.raises(NotImplementedError):
        _decode_png(bytes(png16))


def test_redact_patterns_and_counts(spark):
    from defenda_data_lake_spark.operators.text import redact

    df = spark.createDataFrame(
        [
            (0, "contact alice@example.com or 10.1.2.3 now"),
            (1, "call +1 555-123-4567 twice: +1 555-123-4567"),
            (2, "clean text only"),
        ],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in redact(df).collect()}
    assert rows[0]["text_redacted"] == "contact <EMAIL> or <IPV4> now"
    assert rows[0]["redaction_counts"]["email"] == 1
    assert rows[0]["redaction_counts"]["ipv4"] == 1
    assert rows[0]["n_redactions"] == 2
    assert rows[1]["text_redacted"] == "call <PHONE> twice: <PHONE>"
    assert rows[1]["n_redactions"] == 2
    assert rows[2]["text_redacted"] == "clean text only"
    assert rows[2]["n_redactions"] == 0


def test_redact_is_pure_jvm(spark):
    from defenda_data_lake_spark.operators.text import redact

    df = spark.createDataFrame([(0, "a@b.co")], ["doc_id", "text"])
    out = redact(df)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan


def test_resize_images_real_roundtrip():
    """The dependency-free codec the dHash kernel runs on a real PNG:
    decode (scanline filters None/Sub/Up/Average) -> nearest-neighbor
    resample -> deterministic re-encode -> decode."""
    from defenda_data_lake_spark.operators.multimodal import (
        _decode_png,
        _encode_png,
        _resize_nearest,
    )

    # 8x4 RGB gradient, mixed scanline filters to exercise the decoder
    png = _build_png(
        8, 4, lambda x, y, c: (x * 30 + y * 40 + c * 7) % 256,
        filters=[0, 1, 2, 3],
    )
    w, h, ch, px = _decode_png(png)
    resized = _encode_png(4, 2, ch, _resize_nearest(w, h, ch, px, 4, 2))
    w, h, ch, px = _decode_png(resized)
    assert (w, h, ch) == (4, 2, 3)
    # nearest-neighbor: out pixel (x,y) = src pixel (x*8//4, y*4//2)
    for y in range(2):
        for x in range(4):
            for c in range(3):
                expect = ((x * 2) * 30 + (y * 2) * 40 + c * 7) % 256
                assert px[(y * 4 + x) * 3 + c] == expect
    # deterministic bytes across runs
    again = _encode_png(4, 2, ch, _resize_nearest(8, 4, 3, _decode_png(png)[3], 4, 2))
    assert again == resized


def test_resize_images_fake_is_plumbing_only(spark):
    from defenda_data_lake_spark.operators.multimodal import (
        as_media_table,
        resize_images,
    )

    df = spark.createDataFrame([(1, b"not a png")], ["id", "p"])
    media = as_media_table(df, "id", "p")
    out = resize_images(media, 32, 32).collect()
    assert out[0]["meta"]["width"] == 32
    assert bytes(out[0]["content"]) == b"not a png"

    import pytest

    with pytest.raises(ValueError):
        resize_images(media, 0, 32)


def test_semantic_contamination_matches_numpy(spark, sf_dir):
    """Flagged set, nearest ids, and cosines equal a direct numpy
    reference; an empty eval set flags nothing; ties go to the lowest
    eval id (pinned on a constructed exact tie)."""
    import numpy as np

    from defenda_data_lake_spark.operators.similarity import (
        semantic_contamination,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    eval_set = emb.filter(F.col("vec_id") % 17 == 0)
    corpus = emb.filter(F.col("vec_id") % 17 != 0)
    got = sorted(
        (r["vec_id"], r["nearest_eval_id"], round(r["max_eval_cosine"], 9))
        for r in semantic_contamination(corpus, eval_set, 0.35).collect()
    )

    rows = emb.collect()
    ids = np.array([r["vec_id"] for r in rows])
    V = np.array([list(r["embedding"]) for r in rows], dtype=np.float64)
    ev = ids % 17 == 0
    E, C = V[ev], V[~ev]
    e_ids, c_ids = ids[ev], ids[~ev]
    order = np.argsort(e_ids)
    E, e_ids = E[order], e_ids[order]
    S = (C @ E.T) / np.outer(
        np.linalg.norm(C, axis=1), np.linalg.norm(E, axis=1)
    )
    mx, am = S.max(axis=1), S.argmax(axis=1)
    want = sorted(
        (int(c_ids[i]), int(e_ids[am[i]]), round(float(mx[i]), 9))
        for i in range(len(c_ids))
        if mx[i] >= 0.35
    )
    assert got == want and len(got) > 0

    # empty eval set: nothing can be contaminated
    none = semantic_contamination(
        corpus, eval_set.filter(F.col("vec_id") < 0), 0.35
    )
    assert none.count() == 0

    # exact tie: one corpus vector, two eval items with the SAME
    # direction but different ids -> the lower id wins
    tied = spark.createDataFrame(
        [(100, [1.0, 0.0]), (7, [2.0, 0.0]), (3, [4.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    r = semantic_contamination(
        tied.filter(F.col("vec_id") == 100),
        tied.filter(F.col("vec_id") != 100),
        0.5,
    ).collect()
    assert [(x["vec_id"], x["nearest_eval_id"]) for x in r] == [(100, 3)]


def test_semantic_contamination_zero_vectors(spark):
    """Zero-norm vectors (cosine undefined) are handled, not crashed
    on: a zero CORPUS vector can never flag, and a zero EVAL vector
    never attracts (its NaN column maps to -inf)."""
    from defenda_data_lake_spark.operators.similarity import (
        semantic_contamination,
    )

    corpus = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [1.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    eval_set = spark.createDataFrame(
        [(10, [0.0, 0.0]), (11, [1.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    rows = semantic_contamination(corpus, eval_set, 0.5).collect()
    # only the real pair flags, and it picks the NONZERO eval item
    assert [(r["vec_id"], r["nearest_eval_id"]) for r in rows] == [(2, 11)]
