"""Product quantization (PQ) ANN: compressed-domain nearest-neighbor
search — the memory-bound scale path of the ANN family (brute = exact,
LSH = bucketed, IVF = partition-pruned, int8 = 4x compression; PQ gets
~``dim·4 / m`` x compression, e.g. 64 floats -> 4 bytes at m=4).

Construction (Jégou, Douze, Schmid, "Product Quantization for Nearest
Neighbor Search", TPAMI 2011):

* TRAIN: split the vector into ``m`` contiguous subvectors; per
  subspace, a ``k``-centroid codebook via the house deterministic
  Lloyd loop (``clustering._lloyd`` — k lowest-id init, 1e-9
  centroid quantization, fixed iterations), so the codebooks — and
  therefore every code and every ADC distance — replay in any SQL
  engine (the q96 oracle does, subspace by subspace).
* ENCODE: per subspace, the nearest centroid id (ties to the lowest
  id, the kmeans convention) — a pure-JVM argmin over literal
  centroids; the corpus never shuffles and each row carries ``m``
  small ints instead of ``dim`` floats.
* SEARCH (ADC — asymmetric distance): a query's distance to a coded
  vector is the sum over subspaces of the distance from the query's
  subvector to the centroid named by the code.  The per-(query,
  subspace, centroid) lookup table is ``m·k`` LITERAL doubles —
  Catalyst constant-folds them at plan time — so the scan reads only
  the code column: the classic compressed-domain trade (approximate
  distances, ~quantization-error bias, at a fraction of the bytes).

Scale (100 TB): training touches the raw vectors (``m·(iters+1)``
bounded jobs); the search scan reads ``m`` bytes-ish per row instead
of ``4·dim``, the per-query top-k plans as WindowGroupLimit (each map
task keeps its own top-k BEFORE the exchange, so the shuffle carries
O(queries × 10) rows per task), and the corpus is never joined or
shuffled in full.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from defenda_data_lake_spark.operators.clustering import _dlit, _sq_dist_sql

Codebooks = list[list[list[float]]]  #: [subspace][centroid][component]


def _dist_array_sql(sub_sql: str, cents: list[list[float]]) -> str:
    """SQL text of the k-element array of squared distances of a
    subvector expression to each literal centroid, in centroid order.
    Bound ONCE to a name by the caller: the old ``_argmin_code_sql``
    inlined this array twice (in ``array_position`` and inside
    ``array_min``), doubling the literal tree the driver parses and
    analyzes per plan — a measured cost at k·dim literals per
    subspace (q96 decomposition, round 13)."""
    return f"array({', '.join(_sq_dist_sql(sub_sql, c) for c in cents)})"


def _argmin_from_dists_sql(dists_col: str) -> str:
    """Nearest-centroid id from a BOUND distance-array column, ties to
    the LOWEST id: ``array_position`` returns the FIRST index holding
    the minimum — exactly the kmeans tie rule the oracle's row_number
    replay uses."""
    return (
        f"CAST(array_position({dists_col}, "
        f"array_min({dists_col})) - 1 AS INT)"
    )


def _py_sq_dist(q: Sequence[float], c: Sequence[float]) -> float:
    """Driver-side squared distance with the SAME sequential
    left-to-right accumulation as the SQL aggregate (IEEE ops in the
    same order → the identical double)."""
    acc = 0.0
    for x, y in zip(q, c):
        acc = acc + (float(x) - float(y)) * (float(x) - float(y))
    return acc


def pq_train(df: DataFrame, dim: int | None = None) -> Codebooks:
    """Train 4 per-subspace codebooks of 16 centroids each
    over contiguous ``embedding`` slices — one deterministic 2-iteration
    Lloyd run per subspace, centroids quantized at 1e-9 like
    :func:`kmeans_assign`.  Returns driver-side plain lists (the whole
    codebook is ``16·dim`` floats — broadcast-literal sized by
    construction)."""
    if dim is None:
        dim = len(
            df.select(F.col("embedding").alias("v")).first()["v"]
        )
    m = 4
    if dim % m != 0:
        raise ValueError(f"m must divide the dimension; got dim={dim}, m={m}")
    dsub = dim // m

    # FUSED training: the m per-subspace Lloyd runs are independent,
    # but each used to pay its own cache materialization, init collect,
    # and per-iteration means job over the same rows — m·(iterations+2)
    # driver jobs (16 at m=4, iters=2).  One cached projection carrying
    # all m slices, ONE init collect (the k lowest-id vectors, sliced
    # driver-side — identical values: slicing commutes with the
    # orderBy/limit), and per iteration ONE unioned means job bring it
    # to iterations+2 jobs.  Per-(subspace, cluster, pos) groups
    # aggregate the same value multisets as the per-subspace jobs, and
    # the 1e-q centroid quantization (the loop's cross-engine
    # determinism mechanism) makes boundary divergence vanishingly
    # unlikely (a double avg landing EXACTLY on a rounding boundary
    # could still round differently when the unionAll changes partial-
    # aggregation grouping — not observed under the seed-pinned data;
    # bit-exactness across plan shapes is not claimed), so the trained
    # books are unchanged in practice — q96 stays value-equal against
    # its full-replay oracle (re-checked at sf0.001/0.01/0.1 when this
    # landed).
    from functools import reduce

    from pyspark.sql import DataFrame as _DF

    from defenda_data_lake_spark.operators.clustering import _assignment_plan
    from defenda_data_lake_spark.utils.partitioning import (
        ensure_min_parallelism,
        kernel_parallelism,
    )

    base = ensure_min_parallelism(
        df.select(
            F.col("vec_id").alias("id"),
            *[
                F.slice(F.col("embedding"), s * dsub + 1, dsub).alias(f"v{s}")
                for s in range(m)
            ],
        ),
        kernel_parallelism(df),
    ).cache()
    try:
        init_rows = base.orderBy("id").limit(16).collect()
        books: Codebooks = [
            [[float(x) for x in r[f"v{s}"]] for r in init_rows]
            for s in range(m)
        ]
        for _ in range(2):
            branches = []
            for s in range(m):
                assigned = _assignment_plan(
                    base.selectExpr("id", f"v{s} AS vec"), books[s]
                )
                branches.append(
                    assigned.select(
                        F.lit(s).alias("sub"),
                        "cluster",
                        F.posexplode("vec").alias("pos", "c"),
                    )
                )
            fused = reduce(_DF.unionAll, branches)
            mean_col = F.round(F.avg(F.col("c").cast("double")) * 10**9, 0) / 10**9
            rows = (
                fused.groupBy("sub", "cluster", "pos")
                .agg(mean_col.alias("m"))
                .groupBy("sub", "cluster")
                .agg(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "m"))
                    ).alias("pm")
                )
                .select(
                    "sub",
                    "cluster",
                    F.transform("pm", lambda x: x["m"]).alias("centroid"),
                )
                .collect()
            )
            new_books = [list(b) for b in books]  # empty clusters keep position
            for row in rows:
                new_books[row["sub"]][row["cluster"]] = [
                    float(x) for x in row["centroid"]
                ]
            books = new_books
    finally:
        base.unpersist()
    return books


def pq_encode(df: DataFrame, codebooks: Codebooks) -> DataFrame:
    """Encode every ``embedding`` as ``m`` nearest-centroid ids
    (``pq_code``, array<int>) beside its ``vec_id`` —
    a shuffle-free pure-JVM projection over literal codebooks.  Two
    projection steps: the per-subspace distance arrays are computed
    (and their literal trees parsed) ONCE under a name, then the
    argmin reads the bound column — identical values, half the
    expression tree of the former inline-twice form."""
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    da_cols = []
    for s in range(m):
        sub = (
            f"transform(slice(`embedding`, {s * dsub + 1}, {dsub}), "
            "v -> CAST(v AS DOUBLE))"
        )
        da_cols.append(
            f"{_dist_array_sql(sub, codebooks[s])} AS `__pq_da{s}`"
        )
    argmins = ", ".join(
        _argmin_from_dists_sql(f"`__pq_da{s}`") for s in range(m)
    )
    return df.selectExpr("`vec_id`", *da_cols).selectExpr(
        "`vec_id`", f"array({argmins}) AS `pq_code`"
    )


def pq_topk(
    codes: DataFrame,
    queries: Sequence[tuple],
    codebooks: Codebooks,
) -> DataFrame:
    """ADC top-10 per query over a :func:`pq_encode` output.
    ``queries`` = [(query_id, vector)] — a small driver-side block,
    like every ANN kernel here.  The per-query distance is a sum of
    ``element_at`` lookups into LITERAL per-subspace tables (constant-
    folded), so the scan reads only (id, code); the rank<=k filter
    plans as WindowGroupLimit — map-side top-k before the one tiny
    exchange.  Ties break on the vector id.  Returns (query_id,
    vec_id, adc_dist, rank)."""
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    per_query = []
    for qid, qvec in queries:
        qvec = [float(x) for x in qvec]
        terms = [_dlit(0.0)]
        for s in range(m):
            qsub = qvec[s * dsub : (s + 1) * dsub]
            # the m·k lookup values are computed DRIVER-side with the
            # same sequential accumulation the SQL aggregate would use
            # (identical IEEE doubles, none of the py4j/codegen cost of
            # m·k folded aggregate expressions)
            lut = ", ".join(
                _dlit(_py_sq_dist(qsub, cent)) for cent in codebooks[s]
            )
            terms.append(
                f"element_at(array({lut}), "
                f"element_at(`pq_code`, {s + 1}) + 1)"
            )
        dist_sql = " + ".join(terms)
        per_query.append(
            f"struct(CAST({int(qid)} AS INT) AS query_id, "
            f"({dist_sql}) AS adc_dist)"
        )
    exploded = codes.select(
        F.col("vec_id"),
        F.expr(f"explode(array({', '.join(per_query)}))").alias("q"),
    ).select("vec_id", "q.query_id", "q.adc_dist")
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("vec_id").asc()
    )
    return (
        exploded.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("query_id", "vec_id", "adc_dist", "rank")
    )
