"""Hand-computed checks for the repetition and unigram-LM quality
signals (catalog q53/q54 cover the oracle equivalence; these pin the
semantics on crafted documents)."""

import math

import pytest
from pyspark.sql import functions as F

from defenda_data_lake_spark.operators.text import (
    repetition_signals,
    unigram_logprob_scores,
)


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [
            (1, "a a a a"),          # 4 words, 1 distinct; bigrams: 3x "a a"
            (2, "b c d"),            # all distinct; bigrams "b c", "c d" distinct
            (3, "x"),                # single word: no bigrams
            (4, "  spaced   out  "), # whitespace runs collapse
        ],
        ["doc_id", "text"],
    )


def test_repetition_fractions(docs):
    rows = {
        r["doc_id"]: r
        for r in repetition_signals(docs).select(
            "doc_id", "n_words", "word_rep_frac", "bigram_rep_frac"
        ).collect()
    }
    assert rows[1]["n_words"] == 4
    assert rows[1]["word_rep_frac"] == pytest.approx(0.75)
    assert rows[1]["bigram_rep_frac"] == pytest.approx(2 / 3)
    assert rows[2]["word_rep_frac"] == pytest.approx(0.0)
    assert rows[2]["bigram_rep_frac"] == pytest.approx(0.0)
    assert rows[3]["n_words"] == 1
    assert rows[3]["bigram_rep_frac"] == pytest.approx(0.0)
    assert rows[4]["n_words"] == 2  # leading/trailing/multi spaces collapse


def test_unigram_logprob_hand_computed(spark):
    # corpus: doc1 = "a a b", doc2 = "b" -> counts a:2 b:2, total 4
    # p(a) = p(b) = 0.5 -> every doc's avg_logp = ln(0.5)
    df = spark.createDataFrame([(1, "a a b"), (2, "b")], ["doc_id", "text"])
    rows = {r["doc_id"]: r for r in unigram_logprob_scores(df).collect()}
    assert rows[1]["n_words"] == 3
    assert rows[2]["n_words"] == 1
    for r in rows.values():
        assert r["avg_logp"] == pytest.approx(math.log(0.5))


def test_unigram_logprob_shuffle_free_corpus(spark):
    # broadcast_vocab=True: the words->score join must be broadcast,
    # not a shuffle of the exploded corpus
    df = spark.createDataFrame([(1, "a b"), (2, "b c")], ["doc_id", "text"])
    plan = (
        unigram_logprob_scores(df)._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


# ------------------------------------------------------ normalize_unicode


def test_normalize_unicode_nfc_composes(spark):
    import unicodedata

    from defenda_data_lake_spark.operators.text import normalize_unicode

    decomposed = "école"        # e + COMBINING ACUTE
    composed = "école"           # é precomposed
    ligature = "ﬁle"             # ﬁ ligature (NFC keeps, NFKC folds)
    df = spark.createDataFrame(
        [(1, decomposed), (2, composed), (3, ligature), (4, None), (5, "plain")],
        ["doc_id", "text"],
    )
    nfc = {r.doc_id: r.text for r in normalize_unicode(df).collect()}
    assert nfc[1] == composed == nfc[2]
    assert nfc[3] == ligature            # NFC preserves compatibility chars
    assert nfc[4] is None and nfc[5] == "plain"
    # reference parity on every row
    for i, t in [(1, decomposed), (2, composed), (3, ligature), (5, "plain")]:
        assert nfc[i] == unicodedata.normalize("NFC", t)

