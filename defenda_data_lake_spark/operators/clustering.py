"""Iterative clustering over embedding columns — Lloyd's k-means as a
DataFrame loop.

This is the engine's representative of the *iterative-algorithm* class
(driver-side loop over declarative steps; each iteration is one Spark
job).  Used to build real IVF indexes (`similarity.ivf_topk` accepts
any partition column — feed it `kmeans_assign`'s output).

Determinism: init = the ``k`` lowest-id vectors; assignment ties break
on centroid id; iteration count is fixed (no convergence RNG).

Cross-engine reproducibility: after every mean update the centroid
components are *quantized* to 9 decimal places (the same
scale-round-unscale scheme as ``plans.catalog.R``).  Without this, the
engines' different summation orders leave each centroid off by an ULP
and the drift compounds through iterations; with it, any engine that
averages the same assignments lands on bit-identical centroids, so the
whole Lloyd loop — and therefore the final assignment — is
value-checkable against a SQL replay (``plans.catalog.Q47_SQL``).
Quantizing at 1e-9 perturbs a centroid by <1e-9 per component, far
below any meaningful cluster geometry.

Scale notes: per iteration — one broadcast of k centroids (tiny), one
narrow assignment projection, one shuffle keyed by cluster id for the
mean (k groups, map-side partial agg).  State between iterations lives
in the driver as k plain vectors, not a cached DataFrame — no lineage
growth with iterations.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from defenda_data_lake_spark.utils.partitioning import (
    ensure_min_parallelism,
    kernel_parallelism,
)


def _dlit(v: float) -> str:
    """SQL double literal for ``v``, shared by the kmeans and PQ plans
    (``operators/pq.py``).  It parses to the same IEEE value
    ``F.lit(float(v))`` holds, except that -0.0 becomes +0.0: a squared
    distance cannot tell them apart, and one spelling per zero keeps
    the plan text independent of the zero's sign.

    Finite values are ``D``-suffixed shortest-roundtrip literals: one
    lexer token instead of a six-token CAST plus a Cast node to fold —
    these plans inline ~1k literals, and parsing and analyzing them is
    a measured driver-side cost (q96 decomposition, round 13).
    Non-finite values use the string-cast spelling: ``repr()`` emits
    bare ``nan``/``inf``, which the SQL parser reads as column
    references."""
    v = float(v)
    if math.isnan(v):
        return "CAST('NaN' AS DOUBLE)"
    if math.isinf(v):
        return f"CAST('{'-' if v < 0 else ''}Infinity' AS DOUBLE)"
    if v == 0.0:
        v = 0.0  # -0.0 -> +0.0
    return f"{v!r}D"


def _sq_dist_sql(vec_sql: str, centroid: Sequence[float]) -> str:
    """SQL text of the squared distance of the double-array expression
    ``vec_sql`` to a literal centroid, shared by the kmeans assignment
    and PQ encoding.  The aggregate(zip_with(...)) tree sums left to
    right, the same IEEE order as the DuckDB
    ``list_sum(list_transform(...))`` replay.  SQL text rather than
    py4j-composed Columns: composing k centroids × dim literals through
    py4j cost ~1.4 s of driver round trips per assignment plan
    (measured at k=16, dim=16); one ``expr()`` parse is milliseconds."""
    arr = ", ".join(_dlit(c) for c in centroid)
    return (
        f"aggregate(zip_with({vec_sql}, array({arr}), "
        "(x, y) -> (x - y) * (x - y)), "
        f"{_dlit(0.0)}, (acc, v) -> acc + v)"
    )


def _assignment_plan(base: DataFrame, cents: list[list[float]]) -> DataFrame:
    """(id, vec, cluster, sq_dist) for fixed centroids: argmin over
    squared distance, ties to the lowest centroid id."""
    k = len(cents)
    vec = "transform(vec, v -> CAST(v AS DOUBLE))"
    dist_exprs = [
        f"{_sq_dist_sql(vec, c)} AS d{i}" for i, c in enumerate(cents)
    ]
    with_d = base.selectExpr("id", "vec", *dist_exprs)
    names = [f"d{i}" for i in range(k)]
    best_sql = f"least({', '.join(names)})" if k > 1 else names[0]
    # first centroid achieving the min wins (tie-break by id) — the
    # CASE arms evaluate in order, same as the old chained F.when
    arms = " ".join(f"WHEN d{i} = best THEN {i}" for i in range(k))
    return with_d.selectExpr(
        "id", "vec", *names, f"{best_sql} AS best"
    ).selectExpr(
        "id",
        "vec",
        f"CASE {arms} ELSE CAST(NULL AS INT) END AS cluster",
        "best AS sq_dist",
    )


def _lloyd(base: DataFrame, k: int, iterations: int) -> list[list[float]]:
    """The Lloyd loop over a cached (id, vec) plan: deterministic init
    (k lowest-id vectors), ``iterations`` mean updates with the 1e-9
    centroid quantization, empty clusters keep their position.
    Returns the final centroids (driver-side plain lists)."""
    init_rows = base.orderBy("id").limit(k).collect()
    centroids: list[list[float]] = [
        [float(x) for x in r["vec"]] for r in init_rows
    ]
    for _ in range(iterations):
        assigned = _assignment_plan(base, centroids)
        # same scheme as plans.catalog.R: round in the scaled domain so
        # DuckDB's round(x, n) lands on the same double
        mean_col = F.round(F.avg(F.col("c").cast("double")) * 10**9, 0) / 10**9
        means = (
            assigned.select("cluster", F.posexplode("vec").alias("pos", "c"))
            .groupBy("cluster", "pos")
            .agg(mean_col.alias("m"))
            .groupBy("cluster")
            .agg(
                F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm")
            )
            .select(
                "cluster",
                F.transform("pm", lambda s: s["m"]).alias("centroid"),
            )
            .collect()
        )
        new_centroids = list(centroids)  # empty clusters keep position
        for row in means:
            new_centroids[row["cluster"]] = [float(x) for x in row["centroid"]]
        centroids = new_centroids
    return centroids


def kmeans_assign(
    df: DataFrame, iterations: int = 5, keep_vec: bool = False
) -> DataFrame:
    """Assign every ``embedding`` to one of 8 clusters after a fixed
    number of Lloyd iterations with 1e-9 centroid quantization.
    Returns (id, cluster, sq_dist), ``id`` the ``vec_id``, plus
    the vector itself as ``vec`` when ``keep_vec`` (for consumers like
    :func:`semdedup` that pair vectors within a cluster)."""
    base = ensure_min_parallelism(
        df.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec")),
        kernel_parallelism(df),
    ).cache()
    try:
        centroids = _lloyd(base, 8, iterations)
        cols = ["id", "cluster", "sq_dist"] + (["vec"] if keep_vec else [])
        return _assignment_plan(base, centroids).select(*cols)
    finally:
        base.unpersist()


#: per-1024-row block of the Gram matrix, the kernel holds 2·cap
#: doubles per block row — see :func:`_cap_from_bytes`
_GRAM_BLOCK_ROWS = 1024


def _cap_from_bytes(max_group_bytes: int, dim: int) -> int:
    """Rows-per-sub-bucket cap from a per-task BYTE budget: a pair
    group holds ~2·cap vectors (2·cap·dim·8 B) plus one
    ``_GRAM_BLOCK_ROWS`` × 2·cap similarity block (1024·2·cap·8 B), so
    footprint ≈ 16·cap·(dim + 1024) bytes and the cap solves for the
    budget.  A rows cap is a LOCAL-SCALE constant — right at dim 16
    (~1 MB of vectors), 64-256 MB+ per task at production embedding
    dims (1-4k); budgeting bytes keeps the per-task footprint flat in
    ``dim`` (VERDICT r12 item 5)."""
    return max(1, max_group_bytes // (16 * (dim + _GRAM_BLOCK_ROWS)))


def semdedup(df: DataFrame, max_group_bytes: int | None = None) -> DataFrame:
    """SemDedup-style semantic deduplication of ``(vec_id, embedding)``
    rows: cluster the embedding space (8 clusters, 3 Lloyd iterations,
    deterministic init), then mark as duplicates the vectors that have a
    higher-priority (lower-id) near-identical neighbor *within their own
    cluster* (cosine ≥ 0.4).  The cluster step is what makes
    this scale: pair comparison is confined to same-cluster vectors, so
    the pair volume is Σ n_c² instead of N² — at 100 TB the cluster
    count would grow with corpus size (∝ N/target_cluster_size) so the
    per-cluster work stays bounded, while the cluster equi-join
    shuffles on a single int key.

    The drop rule is the non-greedy form (drop if ANY lower-id
    same-cluster neighbor is ≥ 0.4, retained or not) — the
    standard approximation; it is order-independent and replayable in
    plain SQL, where the greedy chain would be sequential.

    The within-cluster comparison is a per-cluster Gram-matrix kernel
    (``applyInPandas`` over the cluster groups), NOT a pair self-join:
    a join would materialize both vectors on every one of the Σ n_c²
    pair rows (n_c² · 2 · dim floats through the shuffle and Arrow),
    where the kernel ships each vector ONCE and computes blockwise
    ``V @ Vᵀ`` in BLAS, O(n_c · dim) bytes moved for O(n_c² · dim)
    flops.  Row blocks bound the similarity-MATRIX memory, but the
    cluster's vector matrix ``V`` (n_c · dim doubles) still lives in
    one task — a skewed giant cluster is an OOM risk unless
    ``max_group_bytes`` is set.

    ``max_group_bytes`` bounds per-task heap: it sets a rows cap from
    the ACTUAL vector dimensionality (:func:`_cap_from_bytes`), so the
    footprint stays flat whether embeddings are 16-dim test fixtures or
    4k-dim production vectors.  A cluster larger than the cap is split
    into ``m = ceil(n_c / cap)`` sub-buckets by id hash, and every
    *pair* of sub-buckets (including a bucket with itself) becomes one
    kernel group, so each task holds at most ~2·cap vectors while all
    intra-cluster pairs are still compared.  OUTPUT-
    IDENTICAL to the uncapped form (a pinned parity test asserts it):
    each vector is shipped m times instead of once — the standard
    replication-for-memory trade, chosen per cluster so unskewed
    clusters pay nothing (m = 1 reduces to the plain group).  One
    broadcast of the k-row cluster-size table decides m; duplicates
    found in multiple pair groups collapse with one distinct.

    Returns ``(id, cluster, sq_dist, is_duplicate)``."""
    import numpy as np

    # the assignment feeds BOTH branches below (the dup kernel and the
    # join probe side); without materialization the Lloyd assignment
    # expressions and the source scan would execute twice per action —
    # localCheckpoint pins the one copy (same precedent as connected
    # components in operators/dedup.py)
    assigned = kmeans_assign(df, 3, keep_vec=True).localCheckpoint()

    max_group_rows = None
    if max_group_bytes is not None:
        if max_group_bytes < 1:
            raise ValueError(
                f"max_group_bytes must be >= 1 (got {max_group_bytes})"
            )
        # dim from the materialized assignment — one first() over the
        # checkpointed rows, no recompute of the Lloyd chain
        probe = assigned.select(F.size("vec").alias("d")).first()
        dim = int(probe["d"]) if probe is not None else 1
        max_group_rows = _cap_from_bytes(max_group_bytes, max(dim, 1))

    def dup_ids(pdf: pd.DataFrame) -> pd.DataFrame:
        order = np.argsort(pdf["id"].to_numpy(), kind="stable")
        ids = pdf["id"].to_numpy()[order]
        V = np.asarray(pdf["vec"].to_list(), dtype=np.float64)[order]
        norms = np.linalg.norm(V, axis=1)
        norms[norms == 0.0] = 1.0
        n = len(ids)
        has_earlier = np.zeros(n, dtype=bool)
        block = 1024
        col = np.arange(n)
        for lo in range(0, n, block):
            hi = min(lo + block, n)
            S = (V[lo:hi] @ V.T) / np.outer(norms[lo:hi], norms)
            # rows lo..hi are the EARLIER side: mark any strictly-later
            # column j whose similarity to an earlier row i (< j)
            # passes.  Marking is one vectorized pass per block (the
            # former per-row Python loop was ~n interpreter
            # iterations per group — guide §4.2); the comparison set
            # and therefore the marked set are identical.
            mask = S >= 0.4
            mask &= col[None, :] > np.arange(lo, hi)[:, None]
            has_earlier |= mask.any(axis=0)
        return pd.DataFrame({"dup_id": pd.Series(ids[has_earlier], dtype="int64")})

    if max_group_rows is None:
        dups = assigned.groupBy("cluster").applyInPandas(
            dup_ids, schema="dup_id long"
        )
    else:
        sizes = assigned.groupBy("cluster").agg(F.count("*").alias("n_c"))
        m = F.ceil(F.col("n_c") / F.lit(max_group_rows)).cast("int")
        sized = assigned.join(
            F.broadcast(sizes.select("cluster", m.alias("m"))), "cluster"
        )
        bucket = F.pmod(F.xxhash64(F.col("id")), F.col("m")).cast("int")
        pairs = (
            sized.withColumn("b", bucket)
            .select(
                "cluster", "id", "vec", "b",
                F.explode(F.sequence(F.lit(0), F.col("m") - 1)).alias("x"),
            )
            .select(
                "cluster", "id", "vec",
                F.least("b", "x").alias("g1"),
                F.greatest("b", "x").alias("g2"),
            )
        )
        dups = (
            pairs.groupBy("cluster", "g1", "g2")
            .applyInPandas(dup_ids, schema="dup_id long")
            .distinct()
        )
    return assigned.join(
        dups, assigned["id"] == dups["dup_id"], "left"
    ).select(
        assigned["id"],
        assigned["cluster"],
        assigned["sq_dist"],
        F.col("dup_id").isNotNull().alias("is_duplicate"),
    )
