"""Round-8 operator families: URL/domain curation (operators/urls.py)
and perceptual image dHash near-dedup (operators/multimodal.py +
operators/dedup.py hamming_block_pairs)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from defenda_data_lake_spark.operators import urls as U
from defenda_data_lake_spark.operators.multimodal import (
    _decode_png,
    _dhash64,
    _encode_png,
    dhash_near_duplicates,
    image_dhash,
    synthetic_gray_png,
)


# ------------------------------------------------------------- dHash


def _ref_dhash(gray_8x9):
    """Independent loop-form reference of the 8x8 difference hash."""
    sig = 0
    for r in range(8):
        for c in range(8):
            if gray_8x9[r][c + 1] > gray_8x9[r][c]:
                sig |= 1 << (r * 8 + c)
    return sig - (1 << 64) if sig >= (1 << 63) else sig


def test_dhash_matches_reference_on_native_size():
    rng = np.random.default_rng(7)
    px = rng.integers(0, 256, (8, 9), dtype=np.uint8)
    png = _encode_png(9, 8, 1, px.tobytes())
    assert _dhash64(png) == _ref_dhash(px.tolist())


def test_dhash_rgb_resize_path_matches_reference():
    """A 20x15 RGB image exercises grayscale + nearest-neighbor
    thumbnail; the reference recomputes both with plain loops."""
    rng = np.random.default_rng(11)
    rgb = rng.integers(0, 256, (15, 20, 3), dtype=np.uint8)
    png = _encode_png(20, 15, 3, rgb.tobytes())
    gray = (rgb.sum(axis=2, dtype=np.int64) // 3).astype(np.uint8)
    thumb = [
        [int(gray[min(y * 15 // 8, 14)][min(x * 20 // 9, 19)]) for x in range(9)]
        for y in range(8)
    ]
    assert _dhash64(png) == _ref_dhash(thumb)


def test_dhash_edge_payloads():
    assert _dhash64(b"") is None
    assert _dhash64(None) is None
    with pytest.raises(ValueError):
        _dhash64(b"not a png at all")


def test_dhash_stable_under_perceptual_noise():
    """Flipping one pixel slightly moves at most a couple of gradient
    signs; an unrelated image moves ~half the bits."""
    rng = np.random.default_rng(3)
    px = rng.integers(0, 256, (8, 9), dtype=np.uint8)
    near = px.copy()
    near[4, 4] = min(255, int(near[4, 4]) + 3)
    far = rng.integers(0, 256, (8, 9), dtype=np.uint8)
    h = lambda a: _dhash64(_encode_png(9, 8, 1, a.tobytes()))
    d_near = bin((h(px) ^ h(near)) & ((1 << 64) - 1)).count("1")
    d_far = bin((h(px) ^ h(far)) & ((1 << 64) - 1)).count("1")
    assert d_near <= 2 < 10 <= d_far


def test_image_dhash_and_pairs_end_to_end(spark):
    """Three images: two perceptually identical after a tiny pixel
    nudge, one unrelated — the pair join returns exactly the near
    pair, NULL-payload rows are dropped, and the plan has no
    cartesian."""
    rng = np.random.default_rng(5)
    base = rng.integers(0, 256, (8, 9), dtype=np.uint8)
    near = base.copy()
    near[2, 3] = min(255, int(near[2, 3]) + 2)
    far = rng.integers(0, 256, (8, 9), dtype=np.uint8)
    rows = [
        (1, bytearray(_encode_png(9, 8, 1, base.tobytes()))),
        (2, bytearray(_encode_png(9, 8, 1, near.tobytes()))),
        (3, bytearray(_encode_png(9, 8, 1, far.tobytes()))),
        (4, None),
    ]
    media = spark.createDataFrame(rows, "media_id long, content binary")
    hashes = {
        r["media_id"]: r["dhash"] for r in image_dhash(media).collect()
    }
    assert hashes[4] is None
    assert hashes[1] == _ref_dhash(base.tolist())
    pairs = dhash_near_duplicates(media)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    got = [(r["id_a"], r["id_b"]) for r in pairs.collect()]
    assert got == [(1, 2)]


def test_dhash_pairs_recall_vs_bruteforce(spark):
    """Pigeonhole blocking loses no pair: compare against brute-force
    Hamming over all signature pairs on a seeded image set."""
    rng = np.random.default_rng(13)
    imgs = []
    base = rng.integers(0, 256, (8, 9), dtype=np.uint8)
    for i in range(20):
        a = base.copy() if i % 4 else rng.integers(0, 256, (8, 9), dtype=np.uint8)
        if i % 4:  # clones with increasing perturbation
            a[i % 8, i % 9] = (int(a[i % 8, i % 9]) + i) % 256
        imgs.append((i, bytearray(_encode_png(9, 8, 1, a.tobytes()))))
    media = spark.createDataFrame(imgs, "media_id long, content binary")
    sigs = {r["media_id"]: r["dhash"] for r in image_dhash(media).collect()}
    want = {
        (a, b)
        for a in sigs
        for b in sigs
        if a < b
        and bin((sigs[a] ^ sigs[b]) & ((1 << 64) - 1)).count("1") <= 3
    }
    got = {
        (r["id_a"], r["id_b"])
        for r in dhash_near_duplicates(media).collect()
    }
    assert got == want and want  # non-trivial set


def test_synthetic_gray_png_pixels_are_code_points(spark):
    docs = spark.createDataFrame(
        [(1, "abcdef"), (2, None)], "doc_id long, text string"
    )
    out = {
        r["media_id"]: bytes(r["content"])
        for r in synthetic_gray_png(docs).collect()
    }
    w, h, ch, px = _decode_png(out[1])
    assert (w, h, ch) == (9, 8, 1)
    assert bytes(px)[:6] == b"abcdef" and set(bytes(px)[6:]) == {0}
    # NULL text -> all-zero image, still a real decodable PNG
    assert set(bytes(_decode_png(out[2])[3])) == {0}


# ---------------------------------------------------- URL / domains


def test_extract_domain_normalization(spark):
    rows = [
        (1, "https://WWW.Example.COM/a"),
        (2, "http://cdn.site.org:8080/x?q=1"),
        (3, "https://host.net./trailing-dot"),
        (4, "not a url"),
        (5, None),
        (6, "https://www.www.double.com/"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    got = {
        r["doc_id"]: r["domain"]
        for r in U.extract_domain(df).collect()
    }
    assert got[1] == "example.com"
    assert got[2] == "cdn.site.org"  # port stripped by HOST extraction
    assert got[3] == "host.net"
    assert got[4] is None and got[5] is None
    assert got[6] == "www.double.com"  # ONE leading www. label only


def test_domain_suffixes(spark):
    df = spark.createDataFrame([("a.b.co.uk",)], "d string")
    (row,) = df.select(U.domain_suffixes(F.col("d")).alias("s")).collect()
    assert row["s"] == ["a.b.co.uk", "b.co.uk", "co.uk", "uk"]


def test_blocklist_filter_subdomains_and_nulls(spark):
    docs = spark.createDataFrame(
        [
            (1, "tracker.biz"),
            (2, "cdn.tracker.biz"),
            (3, "nottracker.biz"),
            (4, "fine.org"),
            (5, None),
        ],
        "doc_id long, domain string",
    )
    bl = spark.createDataFrame([("tracker.biz",)], "blocked_domain string")
    kept = {r["doc_id"] for r in U.blocklist_filter(docs, bl).collect()}
    # subdomain blocked, similarly-SPELLED domain not; NULLs survive
    assert kept == {3, 4, 5}
    plan = (
        U.blocklist_filter(docs, bl)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_domain_caps_semantics_and_plan(spark):
    rows = [(i, "big.com" if i < 10 else ("small.org" if i < 12 else None))
            for i in range(15)]
    df = spark.createDataFrame(rows, "doc_id long, domain string")
    out = U.domain_caps(df, max_per_domain=3).collect()
    by_dom = {}
    for r in out:
        by_dom.setdefault(r["domain"], []).append((r["doc_id"], r["domain_rank"]))
    # cap bites deterministically on the lowest ids
    assert sorted(by_dom["big.com"]) == [(0, 1), (1, 2), (2, 3)]
    assert sorted(by_dom["small.org"]) == [(10, 1), (11, 2)]
    # NULL domains: ALL kept, rank NULL
    assert sorted(i for i, _ in by_dom[None]) == [12, 13, 14]
    assert all(rk is None for _, rk in by_dom[None])
    with pytest.raises(ValueError):
        U.domain_caps(df, max_per_domain=0)
    plan = (
        U.domain_caps(df, max_per_domain=3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # the rank<=k filter must compile to the partition-local prune
    assert "WindowGroupLimit" in plan
    assert plan.count("Exchange") == 1
