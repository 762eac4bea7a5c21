"""Multimodal family: image/audio metadata, PNG decode, resize
plumbing, audio chunk windows, image dHash near-dedup."""

from __future__ import annotations

from pyspark.sql import functions as F
from defenda_data_lake_spark.operators import multimodal as M
from defenda_data_lake_spark.plans.catalog_shared import (
    _t,
)


def q43_multimodal_meta(spark, sf_dir):
    """Multimodal plumbing: binary payload + typed metadata projection
    (metadata-only query prunes the binary column)."""
    docs = _t(spark, sf_dir, "documents")
    media = M.as_media_table(
        docs.withColumn("payload", F.encode(F.col("text"), "UTF-8")),
        "doc_id",
        "payload",
    )
    return media.select(
        "media_id",
        F.col("meta.media_type").alias("media_type"),
        F.col("meta.mime").alias("mime"),
        F.col("meta.n_bytes").alias("n_bytes"),
    )


Q43_SQL = """
SELECT doc_id AS media_id,
       'image' AS media_type,
       'image/png' AS mime,
       octet_length(encode(text)) AS n_bytes
FROM documents
"""


def q44_multimodal_decode(spark, sf_dir):
    """Multimodal decode/feature-extract plumbing.  The decode kernel is
    a STUB (no codec libs in this environment) but a *deterministic*
    one — dims derive from md5 digest bytes — so even the stub is
    value-checked against an oracle reproducing the same bytes via
    ``md5_number_upper``."""
    docs = _t(spark, sf_dir, "documents")
    media = M.as_media_table(
        docs.withColumn("payload", F.encode(F.col("text"), "UTF-8")),
        "doc_id",
        "payload",
    )
    return M.decode_media(media).select(
        "media_id", "width", "height", "n_channels"
    )


Q44_SQL = """
SELECT doc_id AS media_id,
       CAST(16 + (md5_number_upper(text) % 256) % 64 AS INT) AS width,
       CAST(16 + ((md5_number_upper(text) // 256) % 256) % 64 AS INT) AS height,
       3 AS n_channels
FROM documents
"""


def q62_audio_chunks(spark, sf_dir):
    """Audio chunk/window plumbing (operators/multimodal.py
    ``chunk_audio``): overlapping 1000 ms windows at 500 ms stride,
    duration derived from payload size at 16 bytes/ms (8 kHz 16-bit
    mono PCM).  Pure JVM sequence+posexplode over the metadata struct —
    the binary column never feeds the fan-out."""
    docs = _t(spark, sf_dir, "documents")
    media = M.as_media_table(
        docs.withColumn("payload", F.encode(F.col("text"), "UTF-8")),
        "doc_id",
        "payload",
        media_type="audio",
    )
    return M.chunk_audio(media).select(
        "media_id", "chunk_index", "start_ms", "end_ms"
    )


# trunc-vs-floor parity: Spark's cast(double as long) truncates toward
# zero while floor rounds down; they only differ for negative values,
# which the greatest(0, ...) clamp absorbs (last_start is negative only
# when duration < chunk, where both engines clamp to 0).  Tail rule
# mirrored from chunk_audio: a final start at greatest(0, dur - chunk)
# so trailing audio shorter than one stride is still covered; UNION
# dedups it when it coincides with the last strided start, and
# chunk_index is positional (row_number in time order) because the
# tail start need not be a stride multiple.
Q62_SQL = """
WITH m AS (
  SELECT doc_id AS media_id,
         CAST(floor(octet_length(encode(text)) / 16.0) AS BIGINT) AS duration_ms
  FROM documents
),
ls AS (
  SELECT media_id, duration_ms,
         greatest(CAST(0 AS BIGINT),
                  CAST(floor((duration_ms - 1000) / 500.0) AS BIGINT) * 500)
           AS last_start
  FROM m
),
ex AS (
  SELECT media_id, duration_ms,
         unnest(generate_series(0, last_start, 500)) AS start_ms
  FROM ls
  UNION
  SELECT media_id, duration_ms,
         greatest(CAST(0 AS BIGINT), duration_ms - 1000) AS start_ms
  FROM ls
)
SELECT media_id,
       CAST(row_number() OVER (PARTITION BY media_id ORDER BY start_ms) - 1
            AS INT) AS chunk_index,
       start_ms,
       least(start_ms + 1000, duration_ms) AS end_ms
FROM ex
"""


def q74_resize_plumbing(spark, sf_dir):
    """Image-resize plumbing through the media layout
    (operators/multimodal.py ``resize_images``, fake/no-codec mode —
    same oracle policy as q44's decode stub): payload passthrough with
    target dims stamped into the metadata struct; the md5 pins the
    payload bytes through the Arrow round-trip."""
    docs = _t(spark, sf_dir, "documents")
    media = M.as_media_table(
        docs.withColumn("payload", F.encode(F.col("text"), "UTF-8")),
        "doc_id",
        "payload",
    )
    out = M.resize_images(media, 32, 24)
    return out.select(
        "media_id",
        F.md5("content").alias("payload_md5"),
        F.col("meta.n_bytes").alias("n_bytes"),
        F.col("meta.width").cast("long").alias("width"),
        F.col("meta.height").cast("long").alias("height"),
    )


Q74_SQL = """
SELECT doc_id AS media_id,
       md5(text) AS payload_md5,
       octet_length(encode(text)) AS n_bytes,
       CAST(32 AS BIGINT) AS width,
       CAST(24 AS BIGINT) AS height
FROM documents
"""


def q109_image_dhash(spark, sf_dir):
    """Image near-duplicate pairs by perceptual dHash (multimodal.py
    ``dhash_near_duplicates``) — the multimodal-dedup gap closer:
    until round 8 image dedup was metadata/exact-binary only.  The
    corpus is manufactured REAL PNGs (``synthetic_gray_png``: pixel i
    = code point i of the text, the container ships no image dataset),
    so the query exercises the genuine codec round trip — PNG encode
    -> dependency-free decode -> grayscale -> thumbnail -> 64-bit
    gradient-sign hash — and the oracle replays the hash from the
    SAME code points without any codec, integer-exact end to end.
    Docs shorter than the 72-pixel grid are excluded on both sides:
    their zero-padded tail rows hash identically and would form one
    degenerate all-shorts candidate bucket.

    Scale: hash once per image (16 bytes out regardless of image
    size), then the SimHash pigeonhole block join
    (``hamming_block_pairs``) — one keyed exchange, bucket-grouped
    pair expansion, complete recall at hamming <= 3 with 4 blocks, no
    cartesian (plan-pinned in test_multimodal.py)."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("n_chars") >= 72)
    media = M.synthetic_gray_png(docs)
    return M.dhash_near_duplicates(media)


def _dhash_sql() -> str:
    """Reproduce the dHash pipeline in DuckDB: text code points ->
    9x8 pixel grid -> horizontal gradient-sign bits (weight
    ``2^(row*8+col)``) -> 16-bit block join -> Hamming verify — the
    q42 generated-SQL pattern.  The PNG encode/decode round trip is
    pixel-identity (lossless), so replaying the PIXELS replays the
    hash."""
    bit_terms = "\n        + ".join(
        f"(CASE WHEN pix[{r * 9 + c + 2}] > pix[{r * 9 + c + 1}] "
        f"THEN CAST({1 << (r * 8 + c)} AS UHUGEINT) "
        f"ELSE CAST(0 AS UHUGEINT) END)"
        for r in range(8)
        for c in range(8)
    )
    block_selects = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, sig, {blk} AS blk, "
        f"(sig // {1 << (16 * blk)}) % 65536 AS bkey FROM sigs"
        for blk in range(4)
    )
    return f"""
WITH px AS (
  SELECT doc_id,
         list_transform(range(0, 72), i ->
           CASE WHEN i < length(text)
                THEN unicode(substr(text, CAST(i + 1 AS INT), 1)) % 256
                ELSE 0 END) AS pix
  FROM documents WHERE n_chars >= 72
),
sigs AS (
  SELECT doc_id,
        {bit_terms} AS sig
  FROM px
),
blocked AS (
{block_selects}
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(CAST(xor(CAST(a.sig AS UBIGINT), CAST(b.sig AS UBIGINT)) AS UBIGINT)) AS INT) AS hamming
FROM blocked a JOIN blocked b
  ON a.blk = b.blk AND a.bkey = b.bkey AND a.doc_id < b.doc_id
WHERE bit_count(CAST(xor(CAST(a.sig AS UBIGINT), CAST(b.sig AS UBIGINT)) AS UBIGINT)) <= 3
"""


Q109_SQL = _dhash_sql()


def q114_audio_fingerprint(spark, sf_dir):
    """Audio near-duplicate pairs by perceptual envelope fingerprint
    (multimodal.py ``audio_near_duplicates``) — the audio twin of
    q109's image dHash, closing the multimodal-dedup family (text ✓
    image ✓ audio now ✓).  The corpus is manufactured REAL WAVs
    (``synthetic_pcm_wav``: sample i = a linear map of code point i of
    the text; the container ships no audio dataset), so the query
    exercises the genuine RIFF round trip — WAV encode -> stdlib
    decode -> int16 samples -> 65 two-sample energy frames over the
    FIRST 130 samples -> 64-bit gradient-sign fingerprint — and the
    oracle replays the fingerprint from the SAME code points without
    any codec.  The fixed head window (not length-proportional
    frames) is what makes the hash edit-robust: proportional
    boundaries shift with every insertion, flipping 10+ bits between
    near-dup clips (measured — zero pairs at hamming<=3), while the
    fixed window keeps aligned content aligned, the same reason image
    dHash uses a fixed 9x8 grid.  The |sample| = 256 *
    |codepoint%256 - 128| scale factor cancels inside the strict
    energy comparisons, so the oracle sums the unscaled code-point
    magnitudes.  Docs shorter than 130 chars are excluded on both
    sides: they cannot fill the window.

    Scale: fingerprint once per clip (16 bytes out regardless of clip
    length), then the shared pigeonhole Hamming block join — one keyed
    exchange, complete recall at hamming <= 3 with 4 blocks, no
    cartesian.  The oracle filters on n_chars AND length(text): the
    Spark side's effective predicate is the conjunction (the n_chars
    filter selects docs, then sub-130-SAMPLE clips fingerprint to NULL
    and drop), and the two only coincide while n_chars == length(text)
    — the q109 oracle defends the same way."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("n_chars") >= 130)
    media = M.synthetic_pcm_wav(docs)
    return M.audio_near_duplicates(media)


def _afp_sql() -> str:
    """Reproduce the envelope fingerprint in DuckDB: text code points
    -> |cp%256 - 128| magnitudes -> 65 two-sample frames over the
    first 130 -> gradient-sign bits (weight ``2^j``) -> 16-bit block
    join -> Hamming verify — the q109 generated-SQL pattern.  The WAV
    encode/decode round trip is sample-identity (PCM is lossless) and
    the int16 scale factor cancels in the comparisons, so replaying
    the MAGNITUDES replays the fingerprint."""
    bit_terms = "\n        + ".join(
        f"(CASE WHEN e[{j + 2}] > e[{j + 1}] "
        f"THEN CAST({1 << j} AS UHUGEINT) "
        f"ELSE CAST(0 AS UHUGEINT) END)"
        for j in range(64)
    )
    block_selects = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, sig, {blk} AS blk, "
        f"(sig // {1 << (16 * blk)}) % 65536 AS bkey FROM sigs"
        for blk in range(4)
    )
    return f"""
WITH s AS (
  SELECT doc_id,
         list_transform(range(0, 130), i ->
           abs((unicode(substr(text, CAST(i + 1 AS INT), 1)) % 256) - 128)) AS a
  FROM documents WHERE n_chars >= 130 AND length(text) >= 130
),
fr AS (
  SELECT doc_id,
         list_transform(range(0, 65), j ->
           a[CAST(2 * j + 1 AS INT)] + a[CAST(2 * j + 2 AS INT)]) AS e
  FROM s
),
sigs AS (
  SELECT doc_id,
        {bit_terms} AS sig
  FROM fr
),
blocked AS (
{block_selects}
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(CAST(xor(CAST(a.sig AS UBIGINT), CAST(b.sig AS UBIGINT)) AS UBIGINT)) AS INT) AS hamming
FROM blocked a JOIN blocked b
  ON a.blk = b.blk AND a.bkey = b.bkey AND a.doc_id < b.doc_id
WHERE bit_count(CAST(xor(CAST(a.sig AS UBIGINT), CAST(b.sig AS UBIGINT)) AS UBIGINT)) <= 3
"""


Q114_SQL = _afp_sql()
