"""Product-quantization ANN (operators/pq.py): codebook shapes,
encode determinism, ADC recall sanity vs exact brute force."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from defenda_data_lake_spark.operators.pq import (
    pq_encode,
    pq_topk,
    pq_train,
)


@pytest.fixture(scope="module")
def emb(spark):
    df = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    df = df.select("vec_id", "embedding").cache()
    df.count()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def books(emb):
    return pq_train(emb, dim=64)


def test_codebook_shapes(books):
    assert len(books) == 4
    for cb in books:
        assert len(cb) == 16
        assert all(len(c) == 16 for c in cb)  # dsub = 64/4


def test_encode_range_and_determinism(emb, books):
    codes = pq_encode(emb, books)
    a = {r["vec_id"]: tuple(r["pq_code"]) for r in codes.collect()}
    b = {r["vec_id"]: tuple(r["pq_code"]) for r in pq_encode(emb, books).collect()}
    assert a == b and len(a) == emb.count()
    for code in a.values():
        assert len(code) == 4 and all(0 <= c < 16 for c in code)


def test_adc_recall_vs_brute(emb, books, spark):
    """PQ is lossy by design — m=4, k=16 compresses 256 bytes to 4,
    so recall@10 is moderate by construction (measured 0.38 mean on
    this deterministic corpus vs 0.02 for random guessing).  The bar
    asserts the signal, with margin for testdata regeneration."""
    rows = emb.orderBy("vec_id").collect()
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    ids = np.array([r["vec_id"] for r in rows])
    queries = [(int(ids[i]), [float(x) for x in mat[i]]) for i in range(5)]

    codes = pq_encode(emb, books)
    got = pq_topk(codes, queries, books)
    by_q = {}
    for r in got.collect():
        by_q.setdefault(r["query_id"], set()).add(r["vec_id"])

    recalls = []
    for qid, qvec in queries:
        d = ((mat - np.array(qvec)) ** 2).sum(axis=1)
        order = np.lexsort((ids, d))
        truth = set(ids[order[:10]].tolist())
        recalls.append(len(truth & by_q[qid]) / 10)
    assert sum(recalls) / len(recalls) >= 0.25, recalls


def test_rejects_bad_m(emb):
    with pytest.raises(ValueError):
        pq_train(emb, dim=62)  # 4 subspaces do not divide 62


def test_encode_id_col_named_like_an_intermediate(emb, books):
    """An input column named like pq_encode's bound distance arrays
    does not shadow them."""
    want = {r["vec_id"]: tuple(r["pq_code"]) for r in pq_encode(emb, books).collect()}
    clashing = emb.withColumn("__pq_da0", F.lit(7))
    got = {
        r["vec_id"]: tuple(r["pq_code"])
        for r in pq_encode(clashing, books).collect()
    }
    assert got == want
