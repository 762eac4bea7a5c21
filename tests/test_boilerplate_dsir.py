"""Round-8 curation operators: C4-style boilerplate chunk removal
(all occurrences of a cross-document-frequent chunk dropped) and DSIR
hashed-ngram importance weights (Xie et al. 2023)."""

import hashlib
import math

import pytest
from pyspark.sql import functions as F


# --------------------------------------------------------- boilerplate


def _words(tag: str, n: int) -> str:
    """``n`` distinct words: ``tag0 tag1 …``."""
    return " ".join(f"{tag}{i}" for i in range(n))


def test_boilerplate_chunk_removal_drops_every_occurrence(spark):
    from defenda_data_lake_spark.operators.dedup import boilerplate_chunk_removal

    # 20-word chunks
    a, d, x, p, st = (_words(t, 20) for t in "adxps")
    docs = spark.createDataFrame(
        [
            (1, f"{a} {d}"),   # chunks: a | d
            (2, f"{a} {x}"),   # shares a with docs 1 and 3
            (3, a),            # whole doc is the boilerplate chunk
            (4, p),            # unique: untouched
            (5, f"{st} {st}"), # chunk repeated within ONE doc only:
        ],                     # df_docs=1 -> NOT boilerplate
        ["doc_id", "text"],
    )
    out = {
        r["id"]: (r["n_chunks"], r["n_boiler"], r["clean_text"])
        for r in boilerplate_chunk_removal(docs, min_doc_freq=2).collect()
    }
    # unlike chunk_level_dedupe, the FIRST occurrence is removed too
    assert out[1] == (2, 1, d)
    assert out[2] == (2, 1, x)
    assert out[3] == (1, 1, "")      # fully boilerplate -> empty doc
    assert out[4] == (1, 0, p)
    assert out[5] == (2, 0, f"{st} {st}")  # distinct-DOC freq, not occurrences


def test_boilerplate_vs_first_occurrence_semantics(spark):
    """The q78/q111 semantic split on one corpus: chunk_level_dedupe
    keeps the first occurrence of a repeated chunk, boilerplate
    removal keeps none."""
    from defenda_data_lake_spark.operators.dedup import (
        boilerplate_chunk_removal,
        chunk_level_dedupe,
    )

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c"), (3, "a b c")], ["doc_id", "text"]
    )
    first = {
        r["id"]: r["clean_text"]
        for r in chunk_level_dedupe(docs).collect()
    }
    none = {
        r["id"]: r["clean_text"]
        for r in boilerplate_chunk_removal(docs, min_doc_freq=2).collect()
    }
    assert first == {1: "a b c", 2: "", 3: ""}
    assert none == {1: "", 2: "", 3: ""}


def test_boilerplate_negative_ids_allowed(spark):
    """No first-occurrence ordering -> no id sign constraint (the
    documented contrast with chunk_level_dedupe's zero-padded key)."""
    from defenda_data_lake_spark.operators.dedup import boilerplate_chunk_removal

    docs = spark.createDataFrame(
        [(-1, "a b c"), (2, "a b c")], ["doc_id", "text"]
    )
    out = {
        r["id"]: r["n_boiler"]
        for r in boilerplate_chunk_removal(docs, min_doc_freq=2).collect()
    }
    assert out == {-1: 1, 2: 1}


def test_null_text_docs_are_never_dropped(spark):
    """NULL text behaves as empty text in both round-8 operators: a
    bare md5/explode of NULL would silently drop the document (inner
    join on a NULL hash; explode of a NULL array), violating the
    no-row-lost contract."""
    from defenda_data_lake_spark.operators.dedup import boilerplate_chunk_removal
    from defenda_data_lake_spark.operators.sampling import dsir_importance_weights

    docs = spark.createDataFrame(
        [(1, "en", "a b c"), (2, "en", None), (3, "fr", "a b c")],
        "doc_id BIGINT, lang STRING, text STRING",
    )
    cleaned = {
        r["id"]: (r["n_chunks"], r["clean_text"])
        for r in boilerplate_chunk_removal(docs, min_doc_freq=2).collect()
    }
    assert set(cleaned) == {1, 2, 3}
    assert cleaned[2] == (1, "")  # one empty chunk, retained
    scored = {
        r["id"]: r["n_feats"]
        for r in dsir_importance_weights(docs, F.col("lang") == "en").collect()
    }
    assert set(scored) == {1, 2, 3}
    assert scored[2] == 1  # the single '' unigram


def test_q111_plan_no_nested_loop(spark):
    from defenda_data_lake_spark.plans.catalog import CATALOG

    fn, _ = CATALOG["q111_boilerplate_removal"]
    plan = fn(spark, "/root/testdata/sf0.001")._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    plan = plan.split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# ---------------------------------------------------------------- DSIR


def _py_dsir(rows, target_langs, buckets=1024, alpha=0.5):
    """Pure-Python DSIR reference: same normalization, same md5 bucket,
    same add-alpha smoothing, same mean-of-occurrences weight."""
    def feats(text):
        words = " ".join(str(text).lower().split()).split(" ")
        return words + [f"{a} {b}" for a, b in zip(words, words[1:])]

    def bucket(feat):
        return int(hashlib.md5(feat.encode()).hexdigest()[:8], 16) % buckets

    raw_c: dict[int, int] = {}
    tgt_c: dict[int, int] = {}
    for _id, lang, text in rows:
        for f_ in feats(text):
            b = bucket(f_)
            raw_c[b] = raw_c.get(b, 0) + 1
            if lang in target_langs:
                tgt_c[b] = tgt_c.get(b, 0) + 1
    raw_tot = sum(raw_c.values())
    tgt_tot = sum(tgt_c.values())
    denom = alpha * buckets
    out = {}
    for _id, lang, text in rows:
        logs = [
            math.log(
                ((tgt_c.get(bucket(f_), 0) + alpha) / (tgt_tot + denom))
                / ((raw_c[bucket(f_)] + alpha) / (raw_tot + denom))
            )
            for f_ in feats(text)
        ]
        out[_id] = (len(logs), sum(logs) / len(logs))
    return out


def test_dsir_matches_python_reference(spark):
    from defenda_data_lake_spark.operators.sampling import dsir_importance_weights

    rows = [
        (1, "en", "the cat sat on the mat"),
        (2, "en", "the dog sat on the log"),
        (3, "fr", "le chat est sur le tapis"),
        (4, "fr", "the chat sat on le mat"),   # mixed: between the two
        (5, "de", "der hund ist auf dem baum"),
        (6, "en", "single"),                   # one word: no bigrams
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "lang", "text"])
    got = {
        r["id"]: (r["n_feats"], r["avg_logw"])
        for r in dsir_importance_weights(docs, F.col("lang") == "en").collect()
    }
    want = _py_dsir(rows, {"en"})
    assert set(got) == set(want)
    for k in want:
        assert got[k][0] == want[k][0], k
        assert got[k][1] == pytest.approx(want[k][1], abs=1e-9), k
    # English docs must score above the German doc (sanity on sign)
    assert got[1][1] > got[5][1] and got[2][1] > got[5][1]


def test_dsir_plan_broadcast_ratio_join(spark):
    """The ratio table (<=1024 rows) must broadcast into the feature
    stream — a shuffled join here would re-key the whole corpus."""
    from defenda_data_lake_spark.plans.catalog import CATALOG

    fn, _ = CATALOG["q112_dsir_weights"]
    plan = fn(spark, "/root/testdata/sf0.001")._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    plan = plan.split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
