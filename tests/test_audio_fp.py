"""Round-8 audio fingerprint family (operators/multimodal.py): the
fixed-head-window intensity-envelope fingerprint, its codec round
trip, brute-force recall parity through the shared Hamming block
join, and the synthetic WAV corpus generator."""

import io
import wave

import numpy as np
import pytest

from defenda_data_lake_spark.operators.multimodal import (
    _audio_fp64,
    audio_fingerprint,
    audio_near_duplicates,
    synthetic_pcm_wav,
)


def _wav(samples, channels=1, rate=8000):
    arr = np.asarray(samples, dtype="<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(channels)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(arr.tobytes())
    return buf.getvalue()


def _ref_fp(samples):
    """Independent loop-form reference of the envelope fingerprint."""
    s = [abs(int(x)) for x in samples[:130]]
    e = [s[2 * j] + s[2 * j + 1] for j in range(65)]
    sig = 0
    for j in range(64):
        if e[j + 1] > e[j]:
            sig |= 1 << j
    return sig - (1 << 64) if sig >= (1 << 63) else sig


def test_audio_fp_matches_reference():
    rng = np.random.default_rng(5)
    samples = rng.integers(-32768, 32768, 200, dtype=np.int64)
    assert _audio_fp64(_wav(samples)) == _ref_fp(samples)


def test_audio_fp_ignores_tail_edits():
    """The fixed head window is the edit-robustness mechanism: content
    past sample 130 cannot flip a bit."""
    rng = np.random.default_rng(6)
    head = rng.integers(-32768, 32768, 130, dtype=np.int64)
    a = _audio_fp64(_wav(list(head) + [1, 2, 3]))
    b = _audio_fp64(_wav(list(head) + [30000, -30000] * 50))
    assert a == b == _ref_fp(head)


def test_audio_fp_edge_payloads():
    assert _audio_fp64(b"") is None
    assert _audio_fp64(None) is None
    assert _audio_fp64(_wav(range(100))) is None  # under the 130 window
    with pytest.raises(Exception):
        _audio_fp64(b"not a wav")
    with pytest.raises(ValueError, match="mono"):
        _audio_fp64(_wav([0] * 300, channels=2))
    # 8-bit PCM must fail loudly, not silently pair bytes into int16
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(1)
        w.setframerate(8000)
        w.writeframes(bytes(range(200)))
    with pytest.raises(ValueError, match="16-bit"):
        _audio_fp64(buf.getvalue())


def test_audio_pairs_recall_vs_bruteforce(spark):
    """Pigeonhole blocking loses no pair vs brute-force Hamming."""
    rng = np.random.default_rng(17)
    base = rng.integers(-32768, 32768, 150, dtype=np.int64)
    clips = []
    for i in range(20):
        a = base.copy() if i % 4 else rng.integers(-32768, 32768, 150, dtype=np.int64)
        if i % 4:  # clones with small head perturbations
            a[(i * 7) % 130] = (int(a[(i * 7) % 130]) + 500 * i) % 30000
        clips.append((i, bytearray(_wav(a))))
    media = spark.createDataFrame(clips, "media_id long, content binary")
    sigs = {r["media_id"]: r["afp"] for r in audio_fingerprint(media).collect()}
    want = {
        (a, b)
        for a in sigs
        for b in sigs
        if a < b
        and bin((sigs[a] ^ sigs[b]) & ((1 << 64) - 1)).count("1") <= 3
    }
    got = {
        (r["id_a"], r["id_b"])
        for r in audio_near_duplicates(media).collect()
    }
    assert got == want and want  # non-trivial set


def test_synthetic_wav_samples_are_code_points(spark):
    """The corpus generator's samples must be exactly the documented
    map of the text's code points — that identity is what lets the
    q114 oracle replay the fingerprint without a codec."""
    docs = spark.createDataFrame([(1, "aZ9é")], ["doc_id", "text"])
    (row,) = synthetic_pcm_wav(docs).collect()
    with wave.open(io.BytesIO(bytes(row["content"])), "rb") as w:
        assert w.getnchannels() == 1 and w.getsampwidth() == 2
        pcm = w.readframes(w.getnframes())
    got = list(np.frombuffer(pcm, dtype="<i2"))
    want = [((ord(c) % 256) - 128) * 256 for c in "aZ9é"]
    assert got == want


def test_q114_plan_no_cartesian(spark):
    from defenda_data_lake_spark.plans.catalog import CATALOG

    fn, _ = CATALOG["q114_audio_fingerprint"]
    plan = fn(spark, "/root/testdata/sf0.001")._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    plan = plan.split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
