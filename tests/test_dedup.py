"""Dedup operator tests: exact, MinHash+LSH, n-gram Jaccard, SimHash."""

import pytest
from pyspark.sql import functions as F

from defenda_data_lake_spark.operators.dedup import (
    exact_duplicate_groups,
    minhash_lsh_candidates,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash_near_duplicates,
    simhash_signatures,
    word_shingles,
)

def _words(tag: str, n: int) -> str:
    """``n`` distinct words: ``tag0 tag1 …``."""
    return " ".join(f"{tag}{i}" for i in range(n))


DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
    (3, "THE  Quick  Brown fox jumps over the lazy dog"),  # dup after normalize
    (4, "the quick brown fox jumps over the lazy cat"),  # near dup
    (5, "completely different content about spark engines"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def test_word_shingles(docs):
    rows = word_shingles(docs).collect()
    by_id = {}
    for r in rows:
        by_id.setdefault(r["id"], set()).add(r["shingle"])
    # 9 words -> 7 trigrams, 'the quick brown' etc.; doc1 has a repeated
    # 'the' but trigrams are distinct
    assert len(by_id[1]) == 7
    # shingles surface as md5-derived 64-bit hashes (little-endian first
    # 8 digest bytes == DuckDB md5_number_upper, signed-wrapped)
    import hashlib

    h = int.from_bytes(hashlib.md5(b"the quick brown").digest()[:8], "little")
    assert (h - (1 << 64) if h >= (1 << 63) else h) in by_id[1]
    # case/whitespace-normalized: doc3 identical to doc1
    assert by_id[3] == by_id[1]


def test_exact_duplicate_groups(docs):
    groups = {r["keep_id"]: r["dup_count"] for r in exact_duplicate_groups(docs).collect()}
    assert groups[1] == 3  # docs 1,2,3 share normalized content
    assert groups[4] == 1
    assert groups[5] == 1


def test_minhash_identical_docs_same_signature(docs):
    sigs = {r["id"]: [r[f"h{i}"] for i in range(8)] for r in minhash_signatures(docs).collect()}
    assert sigs[1] == sigs[2] == sigs[3]
    assert sigs[1] != sigs[5]


def test_minhash_lsh_finds_exact_dups(docs):
    pairs = {(r["id_a"], r["id_b"]) for r in minhash_lsh_candidates(docs).collect()}
    assert (1, 2) in pairs
    assert (1, 3) in pairs
    assert (2, 3) in pairs
    # unrelated docs never collide on a full band
    assert all(5 not in p for p in pairs)


def test_ngram_jaccard_values(docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, threshold=0.1).collect()
    }
    assert pairs[(1, 2)] == 1.0
    # doc4 differs in last word: shares 6 of 7 trigrams with doc1;
    # union = 8 -> jaccard 6/8
    assert abs(pairs[(1, 4)] - 0.75) < 1e-9
    assert (1, 5) not in pairs


def test_ngram_jaccard_hot_shingle_guard(docs):
    # with a max posting length of 2, the shared trigrams (in 3+ docs)
    # are dropped, so the (1,4) pair loses most of its intersection
    guarded = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(docs, threshold=0.5, max_shingle_docs=2).collect()
    }
    assert (1, 4) not in guarded


def test_simhash_deterministic_and_near(docs):
    sigs = {r["id"]: r["simhash"] for r in simhash_signatures(docs).collect()}
    assert sigs[1] == sigs[2] == sigs[3]
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_near_duplicates(docs).collect()
    }
    assert pairs[(1, 2)] == 0
    assert (1, 5) not in pairs


def test_ngram_contamination_plants_a_leak(spark):
    from defenda_data_lake_spark.operators.dedup import ngram_contamination

    leak = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    train = spark.createDataFrame(
        [
            (1, f"prefix words here {leak} and trailing content"),
            (2, "completely unrelated training text with many different words"),
        ],
        "doc_id long, text string",
    )
    test = spark.createDataFrame(
        [(100, leak), (101, "nothing shared with anything at all here")],
        "doc_id long, text string",
    )
    rows = {
        (r["train_doc"], r["test_doc"]): (r["n_shared"], r["test_overlap"])
        for r in ngram_contamination(train, test).collect()
    }
    # test doc 100 has 10 words -> 3 distinct 8-grams, all present in train doc 1
    assert set(rows) == {(1, 100)}
    n_shared, overlap = rows[(1, 100)]
    assert n_shared == 3
    assert overlap == 1.0


def test_lsh_max_bucket_docs_guard(docs, spark):
    # ungated: the three normalize-identical docs bucket together
    base = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_candidates(docs).collect()
    }
    assert (1, 2) in base
    # cap of 2: the 3-member bucket is degenerate -> emits nothing
    capped = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_candidates(docs, max_bucket_docs=2).collect()
    }
    assert not any({1, 2, 3} & set(p) for p in capped)


def test_lsh_degenerate_bucket_bounded(spark):
    # adversarial: 10k identical docs land in ONE bucket per band.
    # Uncapped this is a 10k-member array + ~50M pairs; capped it must
    # complete promptly with zero output.
    n = 10_000
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("boilerplate legal footer text repeated verbatim").alias("text"),
    )
    out = minhash_lsh_candidates(docs, max_bucket_docs=100)
    assert out.count() == 0


def test_minhash_bucket_dedupe(docs):
    from defenda_data_lake_spark.operators.dedup import minhash_bucket_dedupe

    out = {r["doc_id"]: r["dup_of"] for r in minhash_bucket_dedupe(docs).collect()}
    # docs 2,3 normalize identically to 1 -> full-signature agreement 1.0
    assert out[2] == "1" and out[3] == "1"
    assert out[1] is None  # the claimant survives
    assert out[5] is None  # unrelated content
    # near-dup 4 shares a band with 1 and >= half its hash families
    assert out[4] == "1"


def test_chunk_level_dedupe(spark):
    from defenda_data_lake_spark.operators.dedup import chunk_level_dedupe

    # 50-word chunks
    a, d, x = _words("a", 50), _words("d", 50), _words("x", 50)
    docs = spark.createDataFrame(
        [
            (1, f"{a} {d}"),   # chunks: a | d
            (2, f"{a} {x}"),   # first chunk is doc1's -> dropped
            (3, d),            # whole doc is doc1's 2nd chunk
            (4, ""),           # empty: one empty chunk, survives
        ],
        ["doc_id", "text"],
    )
    out = {
        r["id"]: (r["n_chunks"], r["n_dropped"], r["clean_text"])
        for r in chunk_level_dedupe(docs).collect()
    }
    assert out[1] == (2, 0, f"{a} {d}")
    assert out[2] == (2, 1, x)
    assert out[3] == (1, 1, "")
    assert out[4] == (1, 0, "")


def test_chunk_level_dedupe_rejects_negative_and_null_ids(spark):
    from defenda_data_lake_spark.operators.dedup import chunk_level_dedupe

    neg = spark.createDataFrame([(-1, "a b c"), (2, "x y z")], ["doc_id", "text"])
    with pytest.raises(Exception, match="non-negative"):
        chunk_level_dedupe(neg).collect()

    nulled = spark.createDataFrame(
        [(None, "a b c"), (2, "x y z")],
        "doc_id BIGINT, text STRING",
    )
    with pytest.raises(Exception, match="non-negative"):
        chunk_level_dedupe(nulled).collect()

    # zero id is valid and sorts before every positive id
    ok = spark.createDataFrame([(0, "a b c"), (5, "a b c")], ["doc_id", "text"])
    out = {
        r["id"]: r["n_dropped"]
        for r in chunk_level_dedupe(ok).collect()
    }
    assert out == {0: 0, 5: 1}


def test_duplicate_span_coverage(spark):
    from defenda_data_lake_spark.operators.dedup import duplicate_span_coverage

    # 5-word grams
    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h"),          # all 4 grams shared with doc 5
            (2, "a b c d e v w x y z"),      # head + tail repeated, adjacent islands merge
            (3, "v w x y z"),                # single gram, repeated via doc 2
            (4, "q r s t"),                  # too short for a gram
            (5, "a b c d e f g h"),          # exact dup of doc 1
            (6, "m m m m m z1 z2 m m m m m"),  # INTRA-doc repeat: two disjoint islands
            (7, "u1 u2 u3 u4 u5 u6"),        # all grams unique -> zero coverage
        ],
        ["doc_id", "text"],
    )
    out = {
        r["id"]: (r["n_words"], r["covered_words"], round(r["dup_coverage"], 4))
        for r in duplicate_span_coverage(docs).collect()
    }
    assert out[1] == (8, 8, 1.0)
    assert out[2] == (10, 10, 1.0)  # [1,6) and [6,11) merge into one island
    assert out[3] == (5, 5, 1.0)
    assert out[4] == (4, 0, 0.0)    # short doc still present, coverage 0
    assert out[5] == (8, 8, 1.0)
    assert out[6] == (12, 10, 0.8333)  # [1,6) + [8,13): disjoint islands sum
    assert out[7] == (6, 0, 0.0)


def test_duplicate_span_removal(spark):
    from defenda_data_lake_spark.operators.dedup import duplicate_span_removal

    # 5-word grams
    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h"),        # corpus-first everywhere: keeps all
            (2, "a b c d e f g h"),        # verbatim re-post: loses everything
            (3, "p q a b c d e f g h r"),  # quotes doc 1's span: loses the quote
            (4, "u1 u2 u3 u4 u5 u6"),      # unique: untouched
            (5, "s t"),                    # too short for a gram: untouched
        ],
        ["doc_id", "text"],
    )
    out = {
        r["id"]: (r["n_words"], r["n_removed"], r["clean_text"])
        for r in duplicate_span_removal(docs).collect()
    }
    assert out[1] == (8, 0, "a b c d e f g h")
    assert out[2] == (8, 8, "")
    # doc 3's repeated grams: every 5-gram inside "a b c d e f g h"
    # also occurs in docs 1/2 (doc1 is first for those grams) -> the
    # span [3,11) is removed, p q and r survive
    assert out[3] == (11, 8, "p q r")
    assert out[4] == (6, 0, "u1 u2 u3 u4 u5 u6")
    assert out[5] == (2, 0, "s t")


def test_duplicate_span_removal_rejects_negative_ids(spark):
    from defenda_data_lake_spark.operators.dedup import duplicate_span_removal

    neg = spark.createDataFrame(
        [(-1, "a b c d e"), (2, "a b c d e")], ["doc_id", "text"]
    )
    with pytest.raises(Exception, match="non-negative"):
        duplicate_span_removal(neg).collect()
