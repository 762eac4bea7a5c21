"""Randomized differential tests for the round-8 curation/CDC
operators: a seeded random workload checked against independent
pure-Python references (the linkage/NB differential precedent)."""

import random

from pyspark.sql import functions as F

from defenda_data_lake_spark.operators.cdc import cdc_apply
from defenda_data_lake_spark.operators.dedup import boilerplate_chunk_removal


def _py_cdc_apply(snapshot, changes):
    """Pure-Python CDC reference: per key keep the highest-seq change,
    apply deletes/upserts over the dict."""
    state = dict(snapshot)
    best = {}
    for op, seq, k, v in changes:
        if k not in best or seq > best[k][0]:
            best[k] = (seq, op, v)
    for k, (_seq, op, v) in best.items():
        if op == "D":
            state.pop(k, None)
        else:
            state[k] = v
    return sorted(state.items())


def test_cdc_apply_matches_python_reference_random(spark):
    rng = random.Random(42)
    snapshot = [(k, f"s{k}") for k in range(60) if rng.random() < 0.7]
    # unique (key, seq): sample seqs without replacement per key
    changes = []
    for k in range(80):
        for seq in rng.sample(range(1000), rng.randint(0, 4)):
            op = rng.choice(["I", "U", "D"])
            changes.append((op, seq, k, None if op == "D" else f"v{k}.{seq}"))
    rng.shuffle(changes)

    snap_df = spark.createDataFrame(snapshot, "k long, v string")
    ch_df = spark.createDataFrame(changes, "op string, seq long, k long, v string")
    got = sorted(
        (r["k"], r["v"]) for r in cdc_apply(snap_df, ch_df, ["k"]).collect()
    )
    assert got == _py_cdc_apply(snapshot, changes)
    assert got  # non-trivial


def _py_boilerplate(rows, chunk_words, min_doc_freq):
    """Pure-Python boilerplate reference over normalized word chunks."""
    def chunks(text):
        words = " ".join(str(text).lower().split()).split(" ")
        return [
            " ".join(words[i: i + chunk_words])
            for i in range(0, max(len(words), 1), chunk_words)
        ]

    doc_freq: dict[str, set] = {}
    for doc_id, text in rows:
        for c in set(chunks(text)):
            doc_freq.setdefault(c, set()).add(doc_id)
    out = {}
    for doc_id, text in rows:
        cs = chunks(text)
        keep = [c for c in cs if len(doc_freq[c]) < min_doc_freq]
        out[doc_id] = (len(cs), len(cs) - len(keep), " ".join(keep))
    return out


def test_boilerplate_matches_python_reference_random(spark):
    rng = random.Random(7)
    vocab = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]
    # planted boilerplate: one whole 20-word chunk
    boiler = " ".join(f"footer{i}" for i in range(20))
    rows = []
    for doc_id in range(40):
        words = [rng.choice(vocab) for _ in range(rng.randint(0, 60))]
        if rng.random() < 0.5:
            # insert the boilerplate at a chunk boundary so it repeats
            # verbatim as a chunk across documents
            at = 20 * rng.randint(0, max(len(words) // 20, 1))
            words[at:at] = boiler.split()
        rows.append((doc_id, " ".join(words)))

    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["id"]: (r["n_chunks"], r["n_boiler"], r["clean_text"])
        for r in boilerplate_chunk_removal(docs, min_doc_freq=2).collect()
    }
    want = _py_boilerplate(rows, 20, 2)
    assert got == want
    assert sum(v[1] for v in got.values()) > 0  # non-trivial removal
