"""Iterative k-means over embedding columns."""

from pyspark.sql import functions as F

from defenda_data_lake_spark.operators.clustering import kmeans_assign


def test_kmeans_separates_obvious_clusters(spark):
    # eight tight blobs, one per axis; vector i sits in blob i % 8, so
    # the 8 lowest ids (the init) seed one centroid per blob
    rows = [
        (i, [10.0 + (i // 8 % 3) * 0.1 if d == i % 8 else 0.0 for d in range(8)])
        for i in range(80)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    got = kmeans_assign(df, iterations=4).collect()
    clusters = {}
    for r in got:
        clusters.setdefault(r["cluster"], set()).add(r["id"])
    assert len(clusters) == 8
    blobs = sorted(clusters.values(), key=min)
    assert blobs == [set(range(b, 80, 8)) for b in range(8)]
    # converged: points sit near their centroid
    assert all(r["sq_dist"] < 0.05 for r in got)


def test_kmeans_deterministic(spark):
    rows = [(i, [float(i % 7), float((i * 3) % 5)]) for i in range(50)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    a = {(r["id"], r["cluster"]) for r in kmeans_assign(df, iterations=3).collect()}
    b = {(r["id"], r["cluster"]) for r in kmeans_assign(df, iterations=3).collect()}
    assert a == b


def test_kmeans_feeds_ivf(spark):
    from defenda_data_lake_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    assigned = kmeans_assign(emb, iterations=2)
    # the k-means clusters become the inverted lists (ivf_topk's label)
    clustered = emb.drop("label").join(
        assigned.select(F.col("id").alias("vec_id"), F.col("cluster").alias("label")),
        "vec_id",
    )
    res = ivf_topk(clustered, clustered.filter(F.col("vec_id") == 0)).collect()
    (own,) = clustered.filter(F.col("vec_id") == 0).select("label").first()
    members = {
        r["vec_id"] for r in clustered.filter(F.col("label") == own).collect()
    }
    assert len(res) == min(10, len(members) - 1)
    assert all(r["query_id"] == 0 for r in res)
    assert {r["neighbor_id"] for r in res} <= members - {0}


def test_semdedup_matches_bruteforce_within_clusters(spark):
    from defenda_data_lake_spark.operators.clustering import semdedup

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out = semdedup(emb)
    rows = out.collect()
    assert len(rows) == emb.count()
    # recompute the drop rule brute-force from the same assignment
    assigned = kmeans_assign(emb, iterations=3, keep_vec=True).collect()
    import numpy as np

    by_cluster = {}
    for r in assigned:
        by_cluster.setdefault(r["cluster"], []).append(
            (r["id"], np.array(r["vec"], dtype=float))
        )
    expect_dup = set()
    for members in by_cluster.values():
        members.sort()
        for i in range(len(members)):
            for j in range(i + 1, len(members)):
                ia, va = members[i]
                ib, vb = members[j]
                cos = float(
                    va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb))
                )
                if cos >= 0.4:
                    expect_dup.add(ib)
    got_dup = {r["id"] for r in rows if r["is_duplicate"]}
    assert got_dup == expect_dup
    # the lowest id of every cluster is never a duplicate
    for members in by_cluster.values():
        assert min(m[0] for m in members) not in got_dup


def test_semdedup_deterministic(spark):
    from defenda_data_lake_spark.operators.clustering import semdedup

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    a = sorted(map(tuple, semdedup(emb).collect()))
    b = sorted(map(tuple, semdedup(emb).collect()))
    assert a == b


def test_semdedup_max_group_rows_parity(spark):
    """The oversized-cluster split (pairwise sub-bucket kernel groups)
    is output-identical to the single-group form, even with a cap
    small enough to force m >= 3 sub-buckets per cluster.  The rows
    cap comes from the byte budget: cap = budget // (16 * (dim + 1024))
    at the fixture's 64-dim vectors."""
    from defenda_data_lake_spark.operators.clustering import (
        _cap_from_bytes,
        semdedup,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base = sorted(map(tuple, semdedup(emb).collect()))
    for cap in (1, 3, 10_000):
        budget = cap * 16 * (64 + 1024)
        assert _cap_from_bytes(budget, 64) == cap
        capped = sorted(
            map(tuple, semdedup(emb, max_group_bytes=budget).collect())
        )
        assert capped == base, f"cap={cap} diverged"
