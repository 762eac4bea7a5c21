"""Embedding family: brute/LSH/IVF/int8/PQ ANN, embedding dedup,
k-means, SemDedup, recall harness, prototypicality."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window
from defenda_data_lake_spark.operators import similarity as S
from defenda_data_lake_spark.plans.catalog_shared import (
    R,
    _t,
)
from defenda_data_lake_spark.plans.catalog_text import (
    _BM25_CTES_SQL,
    _BM25_TOP20_SELECT,
)

#: the oracles' embedding width, k-means Lloyd iterations (q47, and
#: the clustering q73/q105/q126 build on), and PQ subspaces and
#: iterations (q96)
_DIM = 64
_KMEANS_ITERATIONS = 3
_PQ_M, _PQ_ITERATIONS = 4, 2


def q89_ann_recall(spark, sf_dir):
    """ANN quality harness: recall@10 of the LSH-bucketed approximate
    top-k (q41's kernel) against the brute-force ground truth (q40's
    kernel), per query vector — the evaluation loop every ANN
    deployment needs before trading exactness for the scale path.
    Both kernels are the existing deterministic operators, so even
    this meta-query is value-checked end-to-end (the oracle replays
    the md5-derived hyperplanes AND the exact ranking).

    Scale: the expensive legs are the two ANN kernels themselves
    (corpus never shuffled, query block broadcast — q40/q41 plan
    tests); the recall join touches only ``n_queries × k`` rows."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    truth = S.cosine_topk(emb, queries, k=10).select(
        "query_id", "neighbor_id"
    )
    approx = S.lsh_cosine_topk(emb, queries, num_planes=6).select(
        "query_id", "neighbor_id", F.lit(1).alias("_hit")
    )
    marked = truth.join(approx, ["query_id", "neighbor_id"], "left")
    rec = marked.groupBy("query_id").agg(
        F.count("*").alias("n_truth"),
        F.sum(F.coalesce(F.col("_hit"), F.lit(0)))
        .cast("long")
        .alias("n_hits"),
    )
    recall = F.col("n_hits").cast("double") / F.col("n_truth").cast(
        "double"
    )
    return rec.select(
        "query_id",
        "n_truth",
        "n_hits",
        R(recall, 4).alias("recall_at_10"),
    )


def _ann_recall_sql() -> str:
    """q89 oracle: q40's brute CTE + q41's hyperplane-replay CTE, then
    the same left-join recall aggregation."""
    planes = S._hyperplanes(64, 6)
    bits = ",\n         ".join(
        "CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), [{}]) >= 0 "
        "THEN '1' ELSE '0' END".format(", ".join(repr(v) for v in plane))
        for plane in planes
    )
    return f"""
WITH brute AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                             CAST(c.embedding AS DOUBLE[])) DESC,
                      c.vec_id) AS rank
    FROM embeddings q CROSS JOIN embeddings c
    WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id
  ) t WHERE rank <= 10
),
hashed AS (
  SELECT vec_id, embedding,
         concat({bits}) AS bucket
  FROM embeddings
),
approx AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                             CAST(c.embedding AS DOUBLE[])) DESC,
                      c.vec_id) AS rank
    FROM hashed q JOIN hashed c ON q.bucket = c.bucket
    WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id
  ) t WHERE rank <= 10
)
SELECT b.query_id, count(*) AS n_truth,
       CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_hits,
       round(CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                  AS DOUBLE)
             / CAST(count(*) AS DOUBLE) * 10000, 0) / 10000 AS recall_at_10
FROM brute b
LEFT JOIN approx a
  ON a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id
GROUP BY b.query_id
"""


Q89_SQL = _ann_recall_sql()


def q45_embedding_dedup(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs (cosine >= 0.4), via LSH
    bucketing: deterministic hyperplane signatures bucket the corpus,
    pairs come from an equi-join on the bucket (shuffle keyed on the
    signature — never a cross join), exact cosine verifies.

    This is the scale path registered as THE catalog plan; its DuckDB
    oracle replays the same buckets (``Q45_SQL``)."""
    emb = _t(spark, sf_dir, "embeddings")
    pairs = S.lsh_near_duplicates(emb)
    return pairs.select("id_a", "id_b", R("cosine", 6).alias("cosine"))


def _embedding_dedup_sql() -> str:
    """Replay q45's deterministic hyperplane buckets in DuckDB (same
    6 md5-derived planes as Q41_SQL), then the same equi-join + verify."""
    planes = S._hyperplanes(_DIM, 6)
    bits = ",\n         ".join(
        "CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), [{}]) >= 0 "
        "THEN '1' ELSE '0' END".format(", ".join(repr(v) for v in plane))
        for plane in planes
    )
    return f"""
WITH hashed AS (
  SELECT vec_id, embedding,
         concat({bits}) AS bucket
  FROM embeddings
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                    CAST(b.embedding AS DOUBLE[])), 6) AS cosine
FROM hashed a JOIN hashed b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                             CAST(b.embedding AS DOUBLE[])) >= 0.4
"""


Q45_SQL = _embedding_dedup_sql()


def q40_knn_brute(spark, sf_dir):
    """Brute-force cosine top-10 for query vectors vec_id < 5."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return S.cosine_topk(emb, queries, k=10).select(
        "query_id",
        "neighbor_id",
        R("cosine", 6).alias("cosine"),
        F.col("rank").cast("long").alias("rank"),
    )


Q40_SQL = """
SELECT query_id, neighbor_id, round(cosine, 6) AS cosine, rank
FROM (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                CAST(c.embedding AS DOUBLE[])) AS cosine,
         row_number() OVER (
           PARTITION BY q.vec_id
           ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                           CAST(c.embedding AS DOUBLE[])) DESC,
                    c.vec_id) AS rank
  FROM embeddings q CROSS JOIN embeddings c
  WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id
) t
WHERE rank <= 10
"""


def q48_knn_quantized(spark, sf_dir):
    """Brute-force cosine top-10 over int8-quantized embeddings (the
    4x-smaller storage/shuffle representation; scale cancels in cosine
    so no dequantize).  Integer dots make the approximate scoring
    exactly reproducible in the oracle."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return S.quantized_cosine_topk(emb, queries).select(
        "query_id",
        "neighbor_id",
        R("cosine", 6).alias("cosine"),
        F.col("rank").cast("long").alias("rank"),
    )


Q48_SQL = """
WITH q8 AS (
  SELECT vec_id,
         list_transform(
           embedding,
           x -> floor(CAST(x AS DOUBLE) * 127 / (CASE WHEN m = 0 THEN 1.0 ELSE m END) + 0.5)
         ) AS qv
  FROM (
    SELECT vec_id, embedding,
           list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS m
    FROM embeddings
  )
)
SELECT query_id, neighbor_id, round(cosine, 6) AS cosine, rank
FROM (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_cosine_similarity(q.qv, c.qv) AS cosine,
         row_number() OVER (
           PARTITION BY q.vec_id
           ORDER BY list_cosine_similarity(q.qv, c.qv) DESC, c.vec_id) AS rank
  FROM q8 q CROSS JOIN q8 c
  WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id
) t
WHERE rank <= 10
"""


def q41_knn_lsh(spark, sf_dir):
    """LSH-bucketed approximate cosine top-k (the scale path).
    Approximate vs brute force, but fully deterministic: the md5-derived
    hyperplanes are reproducible in the oracle, so even the approximate
    result is value-checked."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return S.lsh_cosine_topk(emb, queries, num_planes=6).select(
        "query_id", "neighbor_id", R("cosine", 6).alias("cosine"),
        F.col("rank").cast("long").alias("rank"),
    )


def _knn_lsh_sql() -> str:
    """Reproduce q41's deterministic hyperplane bucketing in DuckDB."""
    planes = S._hyperplanes(64, 6)
    bits = ",\n         ".join(
        "CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), [{}]) >= 0 "
        "THEN '1' ELSE '0' END".format(", ".join(repr(v) for v in plane))
        for plane in planes
    )
    return f"""
WITH hashed AS (
  SELECT vec_id, embedding,
         concat({bits}) AS bucket
  FROM embeddings
)
SELECT query_id, neighbor_id, round(cosine, 6) AS cosine, rank
FROM (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                CAST(c.embedding AS DOUBLE[])) AS cosine,
         row_number() OVER (
           PARTITION BY q.vec_id
           ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                           CAST(c.embedding AS DOUBLE[])) DESC,
                    c.vec_id) AS rank
  FROM hashed q JOIN hashed c ON q.bucket = c.bucket
  WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id
) t
WHERE rank <= 10
"""


Q41_SQL = _knn_lsh_sql()


def q46_knn_ivf(spark, sf_dir):
    """IVF-style ANN: label-partitioned inverted lists with mean
    centroids; queries probe the nearest list only (n_probe=1), then
    exact cosine ranks within it.  Deterministic → value-checked."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return S.ivf_topk(emb, queries).select(
        "query_id", "neighbor_id", R("cosine", 6).alias("cosine"),
        F.col("rank").cast("long").alias("rank"),
    )


Q46_SQL = """
WITH comps AS (
  SELECT label AS list_id, pos, avg(CAST(embedding[pos] AS DOUBLE)) AS mean_c
  FROM embeddings, range(1, 65) t(pos)
  GROUP BY 1, 2
),
centroids AS (
  SELECT list_id, list(mean_c ORDER BY pos) AS centroid FROM comps GROUP BY list_id
),
probed AS (
  SELECT query_id, list_id FROM (
    SELECT q.vec_id AS query_id, c.list_id,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), c.centroid) DESC,
                      c.list_id) AS probe_rank
    FROM embeddings q CROSS JOIN centroids c
    WHERE q.vec_id < 5
  ) WHERE probe_rank <= 1
)
SELECT query_id, neighbor_id, round(cosine, 6) AS cosine, rank
FROM (
  SELECT p.query_id, c.vec_id AS neighbor_id,
         list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                CAST(c.embedding AS DOUBLE[])) AS cosine,
         row_number() OVER (
           PARTITION BY p.query_id
           ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                           CAST(c.embedding AS DOUBLE[])) DESC,
                    c.vec_id) AS rank
  FROM probed p
  JOIN embeddings q ON q.vec_id = p.query_id
  JOIN embeddings c ON c.label = p.list_id AND c.vec_id <> p.query_id
) t
WHERE rank <= 10
"""


def q47_kmeans_clusters(spark, sf_dir):
    """Iterative k-means (Lloyd, 3 fixed iterations) cluster summary.
    Fully value-checked: centroid quantization (clustering.py) makes
    every iteration bit-reproducible across engines, and the oracle
    unrolls the same Lloyd loop as one CTE chain per iteration —
    init -> assign -> quantized means -> ... -> final assignment."""
    from defenda_data_lake_spark.operators.clustering import kmeans_assign

    emb = _t(spark, sf_dir, "embeddings")
    assigned = kmeans_assign(emb, iterations=3)
    return assigned.groupBy("cluster").agg(
        F.count("*").alias("n_vectors"),
        R(F.avg("sq_dist"), 4).alias("avg_sq_dist"),
    ).select(
        F.col("cluster").cast("long").alias("cluster"),
        "n_vectors",
        "avg_sq_dist",
    )


def _kmeans_sql() -> str:
    """Unrolled Lloyd-loop replay of ``kmeans_assign(k=8, iterations=3)``
    in DuckDB.

    Mirrors, per iteration: (1) assignment = argmin over squared
    distance with ties to the lowest centroid id, (2) per-component
    means rounded at the same 1e-9 quantum the Spark side uses, (3)
    empty clusters keep their previous centroid.  Init is the 8
    lowest-id vectors; the final assignment (after
    ``_KMEANS_ITERATIONS`` mean updates) feeds the cluster summary."""
    sq = (
        f"list_sum(list_transform(range(1, {_DIM} + 1), "
        "i -> (e.v[i] - c.cent[i]) * (e.v[i] - c.cent[i])))"
    )
    parts = [
        "emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
        (
            "c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cl, v AS cent "
            "FROM (SELECT vec_id, v FROM emb ORDER BY vec_id LIMIT 8) t)"
        ),
    ]
    for it in range(_KMEANS_ITERATIONS + 1):
        parts.append(
            f"""a{it} AS (
  SELECT vec_id, v, cl, sq FROM (
    SELECT vec_id, v, cl, sq,
           row_number() OVER (PARTITION BY vec_id ORDER BY sq ASC, cl ASC) AS rn
    FROM (
      SELECT e.vec_id, e.v, c.cl, {sq} AS sq
      FROM emb e CROSS JOIN c{it} c
    ) s
  ) t WHERE rn = 1
)"""
        )
        if it < _KMEANS_ITERATIONS:
            parts.append(
                f"m{it} AS (SELECT cl, pos, round(avg(v[pos]), 9) AS m "
                f"FROM a{it}, range(1, {_DIM} + 1) t(pos) GROUP BY cl, pos)"
            )
            parts.append(
                f"c{it + 1} AS (SELECT c{it}.cl, coalesce(mm.cent, c{it}.cent) AS cent "
                f"FROM c{it} LEFT JOIN (SELECT cl, list(m ORDER BY pos) AS cent "
                f"FROM m{it} GROUP BY cl) mm ON c{it}.cl = mm.cl)"
            )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT cl AS cluster, count(*) AS n_vectors, round(avg(sq), 4) AS avg_sq_dist
FROM a{_KMEANS_ITERATIONS} GROUP BY cl
"""
    )


def _kmeans_cte() -> str:
    """The Lloyd CTE chain of :func:`_kmeans_sql` without its final
    SELECT — the final assignment lives in ``a3`` — so other
    oracles (q73 SemDedup) can build on the identical clustering."""
    base = _kmeans_sql()
    return base.rsplit("SELECT cl AS cluster", 1)[0].rstrip().rstrip(",")


Q47_SQL = _kmeans_sql()


def q96_knn_pq(spark, sf_dir):
    """Product-quantization ANN (``operators/pq.py``): train m=4
    per-subspace codebooks (k=16, 2 Lloyd iterations — the house
    deterministic kmeans per 16-dim slice), encode the corpus to 4
    small ints per vector (~64x compression), and answer the 5-query
    block via ADC — distances summed from constant-folded literal
    lookup tables, so the search scan reads only (id, code).  The
    missing FAISS-family member next to brute/LSH/IVF/int8
    (q40/q41/q46/q48).  The oracle replays EVERYTHING — four Lloyd
    chains, the encode argmin, the LUTs, the ADC sum in the same
    left-to-right order — so even the trained codebooks are
    value-checked.  Scale: training is m·(iters+1) bounded jobs over
    the raw vectors; search never shuffles or joins the corpus, and
    the per-query top-k plans as WindowGroupLimit (map-side top-k,
    the exchange carries O(queries x k) rows per task)."""
    from defenda_data_lake_spark.operators.pq import (
        pq_encode,
        pq_topk,
        pq_train,
    )

    emb = _t(spark, sf_dir, "embeddings")
    books = pq_train(emb, dim=64)
    codes = pq_encode(emb, books)
    queries = [
        (r["vec_id"], list(r["embedding"]))
        for r in emb.select("vec_id", "embedding")
        .orderBy("vec_id")
        .limit(5)
        .collect()
    ]
    top = pq_topk(codes, queries, books)
    return top.select(
        F.col("query_id").cast("long").alias("query_id"),
        "vec_id",
        R("adc_dist", 6).alias("adc_dist"),
        F.col("rank").cast("long").alias("rank"),
    )


def _pq_sql() -> str:
    """Generated replay of q96's whole PQ pipeline in DuckDB: one
    ``_kmeans_sql``-style Lloyd chain (k=16) PER SUBSPACE over the
    vector slice, encode = the final assignment (argmin, ties to the
    lowest centroid id), per-(query, centroid) LUTs for the 5 queries,
    ADC = the same left-to-right sum of LUT lookups, nearest-rank
    top-10."""
    dsub = _DIM // _PQ_M
    parts = [
        "emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)"
    ]
    for s in range(_PQ_M):
        lo, hi = s * dsub + 1, (s + 1) * dsub
        p = f"s{s}"
        parts.append(
            f"{p}_emb AS (SELECT vec_id, v[{lo}:{hi}] AS v FROM emb)"
        )
        parts.append(
            f"{p}_c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cl, v AS cent "
            f"FROM (SELECT vec_id, v FROM {p}_emb ORDER BY vec_id LIMIT 16) t)"
        )
        sq = (
            f"list_sum(list_transform(range(1, {dsub} + 1), "
            "i -> (e.v[i] - c.cent[i]) * (e.v[i] - c.cent[i])))"
        )
        for it in range(_PQ_ITERATIONS + 1):
            parts.append(
                f"""{p}_a{it} AS (
  SELECT vec_id, v, cl, sq FROM (
    SELECT vec_id, v, cl, sq,
           row_number() OVER (PARTITION BY vec_id ORDER BY sq ASC, cl ASC) AS rn
    FROM (
      SELECT e.vec_id, e.v, c.cl, {sq} AS sq
      FROM {p}_emb e CROSS JOIN {p}_c{it} c
    ) s
  ) t WHERE rn = 1
)"""
            )
            if it < _PQ_ITERATIONS:
                parts.append(
                    f"{p}_m{it} AS (SELECT cl, pos, round(avg(v[pos]), 9) AS m "
                    f"FROM {p}_a{it}, range(1, {dsub} + 1) t(pos) GROUP BY cl, pos)"
                )
                parts.append(
                    f"{p}_c{it + 1} AS (SELECT {p}_c{it}.cl, coalesce(mm.cent, {p}_c{it}.cent) AS cent "
                    f"FROM {p}_c{it} LEFT JOIN (SELECT cl, list(m ORDER BY pos) AS cent "
                    f"FROM {p}_m{it} GROUP BY cl) mm ON {p}_c{it}.cl = mm.cl)"
                )
    code_cols = ", ".join(f"s{s}_a{_PQ_ITERATIONS}.cl AS code{s}" for s in range(_PQ_M))
    code_joins = " ".join(
        f"JOIN s{s}_a{_PQ_ITERATIONS} USING (vec_id)" for s in range(1, _PQ_M)
    )
    parts.append(
        f"codes AS (SELECT vec_id, {code_cols} FROM s0_a{_PQ_ITERATIONS} {code_joins})"
    )
    parts.append(
        "q AS (SELECT vec_id AS query_id, v FROM emb ORDER BY vec_id LIMIT 5)"
    )
    for s in range(_PQ_M):
        lo = s * dsub
        parts.append(
            f"lut{s} AS (SELECT q.query_id, c.cl, "
            f"list_sum(list_transform(range(1, {dsub} + 1), "
            f"i -> (q.v[{lo} + i] - c.cent[i]) * (q.v[{lo} + i] - c.cent[i]))) AS d "
            f"FROM q CROSS JOIN s{s}_c{_PQ_ITERATIONS} c)"
        )
    dist_sum = " + ".join(f"l{s}.d" for s in range(_PQ_M))
    lut_joins = " ".join(
        f"JOIN lut{s} l{s} ON l{s}.cl = codes.code{s} AND l{s}.query_id = l0.query_id"
        for s in range(1, _PQ_M)
    )
    parts.append(
        f"adc AS (SELECT l0.query_id, codes.vec_id, ({dist_sum}) AS adc_dist "
        f"FROM codes JOIN lut0 l0 ON l0.cl = codes.code0 {lut_joins})"
    )
    parts.append(
        "ranked AS (SELECT query_id, vec_id, adc_dist, "
        "row_number() OVER (PARTITION BY query_id ORDER BY adc_dist ASC, vec_id ASC) AS rank "
        "FROM adc)"
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT query_id, vec_id,
       round(adc_dist * 1000000, 0) / 1000000 AS adc_dist,
       CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 10
"""
    )


Q96_SQL = _pq_sql()


def q73_semdedup(spark, sf_dir):
    """SemDedup-style semantic dedup summary (operators/clustering.py
    ``semdedup``): k-means clusters the embedding space, then vectors
    with a lower-id same-cluster neighbor at cosine ≥ 0.4 are marked
    duplicates.  Pair volume is confined within clusters (Σ n_c², not
    N²); the oracle replays the identical Lloyd chain (q47's CTE
    machinery) plus the same pair rule."""
    from defenda_data_lake_spark.operators.clustering import semdedup

    emb = _t(spark, sf_dir, "embeddings")
    # The sub-bucket cap is a per-task MEMORY bound, not a parallelism
    # knob: a cluster of n_c rows is replicated ceil(n_c/cap) times
    # and kernel-grouped quadratically in that factor, so an
    # undersized cap explodes shuffle volume as clusters grow (the
    # r12 32x pairing measured cap=32 at 94.8 s vs cap=4096 at
    # 25.3 s, 17.0 s after the kernel's marking loop vectorized —
    # 16M replicated rows / 251k Arrow groups vs 24).  Round 13
    # (VERDICT r12 item 5): the knob is now a BYTE budget — a rows
    # constant was itself dim-local (fine at dim 16, 64-256 MB+ per
    # task at production embedding dims); 64 MiB against the actual
    # dim derives cap = 4032 rows here (vs the r12 4096 — same
    # ceil(n_c/cap) sub-bucketing at every measured scale) and
    # dim-proportionally smaller caps for fat vectors.  Output-
    # identical to the uncapped form at every cap (the operator's
    # pinned parity test sweeps caps 1/3/10000 and the byte form), so
    # the oracle needs no mirror.
    out = semdedup(emb, max_group_bytes=64 << 20)
    return out.groupBy("cluster").agg(
        F.count("*").alias("n_vectors"),
        F.sum(F.col("is_duplicate").cast("long")).alias("n_duplicates"),
    ).select(
        F.col("cluster").cast("long").alias("cluster"),
        "n_vectors",
        "n_duplicates",
    )


Q73_SQL = _kmeans_cte() + """,
sd_pairs AS (
  SELECT x.cl, y.vec_id AS dup_id
  FROM a3 x JOIN a3 y ON x.cl = y.cl AND x.vec_id < y.vec_id
  WHERE list_cosine_similarity(x.v, y.v) >= 0.4
),
sd_dups AS (SELECT DISTINCT cl, dup_id FROM sd_pairs)
SELECT a3.cl AS cluster, count(*) AS n_vectors,
       CAST(count(sd_dups.dup_id) AS BIGINT) AS n_duplicates
FROM a3 LEFT JOIN sd_dups
  ON a3.cl = sd_dups.cl AND a3.vec_id = sd_dups.dup_id
GROUP BY a3.cl
"""


def q105_prototypicality(spark, sf_dir):
    """Prototypicality pruning scores (SSL-prototypes / "Beyond neural
    scaling laws" data pruning): cluster the embedding space with the
    q47 deterministic Lloyd k-means, then rank every vector within its
    cluster by distance to the centroid — rank 1 is the most
    prototypical (nearest, most redundant under pruning), the tail is
    the hardest/most informative.  Downstream pruning is a filter on
    ``proto_rank`` (or its per-cluster quantile).

    Scale notes (100 TB): clustering cost is the fixed Lloyd job count
    (centroids broadcast as literals — the corpus never shuffles during
    assignment); the ranking is ONE exchange on the cluster id.  The
    within-cluster sort is the k-means-partitioned twin of a global
    sort — k partitions bound the skew, and rank (not collect) keeps it
    streaming-aggregable.  Cross-engine determinism: quantized
    centroids make per-vector sq distances bit-identical (the q47/q73
    argument), ties break on vec_id."""
    from defenda_data_lake_spark.operators.clustering import kmeans_assign

    emb = _t(spark, sf_dir, "embeddings")
    assigned = kmeans_assign(emb, iterations=3)
    w = Window.partitionBy("cluster").orderBy(F.col("sq_dist").asc(), F.col("id").asc())
    return assigned.select(
        F.col("id").alias("vec_id"),
        F.col("cluster").cast("long").alias("cluster"),
        R("sq_dist", 4).alias("sq_dist"),
        F.row_number().over(w).cast("long").alias("proto_rank"),
    )


Q105_SQL = f"""{_kmeans_cte()}
SELECT vec_id, cl AS cluster,
       round(sq * 10000, 0) / 10000 AS sq_dist,
       row_number() OVER (PARTITION BY cl ORDER BY sq ASC, vec_id ASC) AS proto_rank
FROM a3
"""


_Q122_TAU = 0.35


def q122_semantic_decontamination(spark, sf_dir):
    """Embedding-level decontamination
    (``similarity.semantic_contamination``): flag corpus documents
    whose embedding sits within cosine ``0.35`` of ANY eval-set item
    (the deterministic ``vec_id % 17 = 0`` slice stands in for a
    benchmark) — the semantic complement of q51's 8-gram
    decontamination: a paraphrased eval item shares no n-gram but
    lands next to its source in embedding space.  Scale: the bounded
    eval block broadcasts (the q40 pattern); the corpus is scanned
    ONCE, no shuffle/join, flagged rows only leave the executors."""
    emb = _t(spark, sf_dir, "embeddings")
    eval_set = emb.filter(F.col("vec_id") % 17 == 0)
    corpus = emb.filter(F.col("vec_id") % 17 != 0)
    return S.semantic_contamination(corpus, eval_set, _Q122_TAU).select(
        "vec_id",
        "nearest_eval_id",
        R("max_eval_cosine", 6).alias("max_eval_cosine"),
    )


Q122_SQL = f"""
WITH ev AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 17 = 0),
corp AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 17 <> 0),
pairs AS (
  SELECT c.vec_id, e.vec_id AS eval_id,
         list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
                                CAST(e.embedding AS DOUBLE[])) AS cos
  FROM corp c CROSS JOIN ev e
),
best AS (
  SELECT vec_id, eval_id, cos,
         row_number() OVER (
           PARTITION BY vec_id ORDER BY cos DESC, eval_id
         ) AS rn
  FROM pairs
)
SELECT vec_id, eval_id AS nearest_eval_id,
       round(cos * 1000000, 0) / 1000000 AS max_eval_cosine
FROM best WHERE rn = 1 AND cos >= {_Q122_TAU}
"""


def q124_hybrid_rrf(spark, sf_dir):
    """Hybrid retrieval with Reciprocal Rank Fusion: BM25 keyword
    top-20 (q87's kernel, the fixed 3-term query) fused with the
    embedding-cosine top-20 of query vector 0 (q40's kernel, shared
    doc/vec id space as in q63) by RRF(k=60) — the
    lexical-plus-semantic search recipe production retrieval stacks
    run, as one declarative plan.

    ``rrf = 1/(60+lex_rank) + 1/(60+sem_rank)`` with a missing rank
    contributing 0; top-10 by (rrf desc, doc_id).  Determinism: the
    lexical rank orders by the ROUNDED bm25 with a doc_id tie-break
    (the q87 contract); the semantic rank inherits q40's contract —
    ordering on the RAW cosine with a vec_id tie-break, stable across
    engines because distinct random embeddings separate cosines far
    above double noise (a sub-1e-15 near-tie could in principle flip
    a rank across engines; the q40 precedent accepts that, and every
    oracle run at 3 SFs + 32x has been value-equal).  The two RRF
    terms are exact doubles summed in fixed association, and the
    final cut orders by the 6dp-rounded fusion with a doc_id
    tie-break.

    Scale notes (100 TB): both legs end in TakeOrderedAndProject
    top-20s (corpus scanned, never shuffled — the q87/q40 plan
    shapes); the fusion itself joins two 20-row lists — broadcast by
    construction, no exchange regardless of corpus size."""
    from defenda_data_lake_spark.plans.catalog_text import q87_bm25_topk

    lex = q87_bm25_topk(spark, sf_dir).select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("bm25"), F.asc("doc_id")))
        .alias("lex_rank"),
    )
    emb = _t(spark, sf_dir, "embeddings")
    sem = S.cosine_topk(emb, emb.filter(F.col("vec_id") == 0), k=20).select(
        F.col("neighbor_id").alias("doc_id"),
        F.col("rank").cast("long").alias("sem_rank"),
    )
    # outer-merge WITHOUT a join: Spark cannot broadcast a FULL OUTER
    # join (it would plan a SortMergeJoin even for two 20-row lists),
    # so the two rank lists union into one (doc_id, lex_rank, sem_rank)
    # stream and collapse with a 40-row hash aggregate — one tiny
    # exchange, no join operator at all
    fused = (
        lex.select(
            "doc_id",
            F.col("lex_rank").cast("long").alias("lex_rank"),
            F.lit(None).cast("long").alias("sem_rank"),
        )
        .unionByName(
            sem.select(
                "doc_id",
                F.lit(None).cast("long").alias("lex_rank"),
                "sem_rank",
            )
        )
        .groupBy("doc_id")
        .agg(
            F.max("lex_rank").alias("lex_rank"),
            F.max("sem_rank").alias("sem_rank"),
        )
    )
    term = lambda c: F.coalesce(  # noqa: E731
        F.lit(1.0) / (F.lit(60.0) + F.col(c).cast("double")), F.lit(0.0)
    )
    rrf = F.round((term("lex_rank") + term("sem_rank")) * 1000000, 0) / 1000000
    return (
        fused.select("doc_id", "lex_rank", "sem_rank", rrf.alias("rrf"))
        .orderBy(F.desc("rrf"), F.asc("doc_id"))
        .limit(10)
    )


Q124_SQL = f"""
WITH {_BM25_CTES_SQL},
lex20 AS (
  {_BM25_TOP20_SELECT}
),
lex AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS lex_rank
  FROM lex20
),
sem AS (
  SELECT neighbor_id AS doc_id, rank AS sem_rank FROM (
    SELECT c.vec_id AS neighbor_id,
           row_number() OVER (
             ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                             CAST(c.embedding AS DOUBLE[])) DESC,
                      c.vec_id) AS rank
    FROM embeddings q CROSS JOIN embeddings c
    WHERE q.vec_id = 0 AND c.vec_id <> q.vec_id
  ) t WHERE rank <= 20
),
fused AS (
  SELECT coalesce(l.doc_id, s.doc_id) AS doc_id,
         CAST(l.lex_rank AS BIGINT) AS lex_rank,
         CAST(s.sem_rank AS BIGINT) AS sem_rank,
         round((coalesce(1.0 / (60.0 + l.lex_rank), 0.0)
                + coalesce(1.0 / (60.0 + s.sem_rank), 0.0)) * 1000000, 0)
           / 1000000 AS rrf
  FROM lex l FULL OUTER JOIN sem s ON l.doc_id = s.doc_id
)
SELECT doc_id, lex_rank, sem_rank, rrf
FROM fused ORDER BY rrf DESC, doc_id ASC LIMIT 10
"""


def q126_embedding_drift(spark, sf_dir):
    """Embedding-distribution drift report: assign every vector to the
    q47 k-means clustering (identical Lloyd chain — quantized
    centroids, bit-reproducible), split the corpus into two
    deterministic md5 halves ("old"/"new" snapshots, the q38 split
    pattern with its own salt), and report per-cluster population and
    dispersion shift — the "did my embedding space move between
    snapshots" gate a retrieval/dedup index needs before trusting a
    stale IVF layout (q46) or semantic-dedup thresholds (q73) on new
    data.  With a hash split the expected drift is ~0: the value of
    the entry is the MACHINERY being oracle-exact, so a real pipeline
    can point it at true time-ordered snapshots.

    Per cluster: ``(cluster, n_old, n_new, avg_sq_old, avg_sq_new,
    drift)`` where avg_sq_* is the mean squared distance to the
    centroid at 4dp and drift = avg_sq_new - avg_sq_old computed FROM
    the rounded pair (the q123 gap convention).  A side with no
    members yields NULL avg and NULL drift on both engines.

    Scale notes (100 TB): everything is q47's plan (k broadcast
    centroids into one corpus pass) plus ONE extra narrow md5 column
    and a k-row aggregation — no new exchange, no window, nothing
    corpus-sized beyond the assignment scan q47 already pays."""
    from defenda_data_lake_spark.operators.clustering import kmeans_assign
    from defenda_data_lake_spark.operators.sampling import hash_bucket

    emb = _t(spark, sf_dir, "embeddings")
    assigned = kmeans_assign(emb, iterations=3)
    agg = (
        assigned.withColumn("_old", hash_bucket("id", "embdrift") < 5000)
        .groupBy("cluster")
        .agg(
            F.sum(F.col("_old").cast("long")).alias("n_old"),
            F.sum((~F.col("_old")).cast("long")).alias("n_new"),
            R(F.avg(F.when(F.col("_old"), F.col("sq_dist"))), 4).alias(
                "avg_sq_old"
            ),
            R(F.avg(F.when(~F.col("_old"), F.col("sq_dist"))), 4).alias(
                "avg_sq_new"
            ),
        )
    )
    return agg.select(
        F.col("cluster").cast("long").alias("cluster"),
        "n_old",
        "n_new",
        "avg_sq_old",
        "avg_sq_new",
        R(F.col("avg_sq_new") - F.col("avg_sq_old"), 4).alias("drift"),
    )


Q126_SQL = _kmeans_cte() + """,
split AS (
  SELECT vec_id, cl, sq,
         (CAST('0x' || substr(md5('embdrift' || CAST(vec_id AS VARCHAR)), 1, 8)
               AS BIGINT) % 10000) < 5000 AS is_old
  FROM a3
),
agg AS (
  SELECT CAST(cl AS BIGINT) AS cluster,
         CAST(sum(CASE WHEN is_old THEN 1 ELSE 0 END) AS BIGINT) AS n_old,
         CAST(sum(CASE WHEN is_old THEN 0 ELSE 1 END) AS BIGINT) AS n_new,
         round(avg(CASE WHEN is_old THEN sq END) * 10000, 0) / 10000 AS avg_sq_old,
         round(avg(CASE WHEN NOT is_old THEN sq END) * 10000, 0) / 10000 AS avg_sq_new
  FROM split GROUP BY cl
)
SELECT cluster, n_old, n_new, avg_sq_old, avg_sq_new,
       round((avg_sq_new - avg_sq_old) * 10000, 0) / 10000 AS drift
FROM agg
"""
