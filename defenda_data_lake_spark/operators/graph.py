"""Iterative graph analytics as Pregel-style join rounds.

Complements :func:`.dedup.connected_components` (pointer-jumping label
propagation) with a *numeric* iterative algorithm: PageRank over an
entity graph — e.g. rank customers/suppliers by order-flow centrality,
or documents by citation/link structure, to weight a training corpus.

Determinism contract (the reason this pandas-free operator is fully
value-checkable against a SQL oracle): ranks are FIXED-POINT integers
in units of 1e-12.  Every step — the per-edge contribution
(``rank div outdeg``), the incoming sum, and the damping update
(``base + (85 * sum) div 100``) — is 64-bit integer arithmetic, so the
result is bit-identical regardless of partitioning, summation order,
or engine.  Total mass ≤ 1e12 keeps every intermediate ≤ ~1e14, far
inside BIGINT range.  (Floor division loses ≤1e-12 of mass per edge
per round — the price of exactness, and far below PageRank's own
iteration error at 5 rounds.)

Scale: each round is one equi-join of the edge list with the
nodes-sized rank table plus one keyed aggregation — the standard
Pregel-as-join shape.  The rank table is |V|-sized (orders of
magnitude under the edge list), so AQE broadcasts it when it fits and
hash-joins otherwise; the edge list itself is never shuffled when the
rank side broadcasts.  Driver traffic is a single |V| scalar.  At
100 TB you would persist the degree-annotated edge list once and reuse
it across rounds (here the lineage re-reads it; the plan per round is
identical either way).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: fixed-point scale: ranks are integers in units of 1e-12
SCALE = 10**12
#: PageRank damping factor in integer percent (85 → 0.85) — integral
#: so the update stays exact
DAMPING_PCT = 85


def symmetrize(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Undirected simple graph from a (possibly duplicated, directed)
    edge list: both orientations, distinct, self-loops dropped.

    Both orientations come from ONE explode pass over the input
    (round 13): the former ``fwd.union(rev)`` referenced the caller's
    edge DERIVATION twice, and a union's branches each execute their
    own copy — ReuseExchange shares only identical shuffle files, not
    the join/merge/project work above them, so q100's orders⋈lineitem
    derivation ran once per branch.  Same output multiset row for row,
    so the distinct result is identical.

    The dedup deliberately stays BEFORE any downstream keyed
    repartition (pagerank's broadcast path adds its own): fusing the
    two into one exchange (repartition-then-distinct — hash(dst) does
    satisfy the (src, dst) clustering requirement) was built and
    MEASURED SLOWER at the 32x replica (invariant build 7.7 →
    21.4 s): a user repartition plans below the aggregation, so the
    map-side partial dedup disappears and the full pre-distinct
    multiset (~2x |E| here) crosses the wire.  Two exchanges moving
    partially-deduped-then-distinct rows beat one moving everything."""
    both = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col(src).alias("src"), F.col(dst).alias("dst")),
                    F.struct(F.col(dst).alias("src"), F.col(src).alias("dst")),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .filter(F.col("src") != F.col("dst"))
    )
    return both.distinct()


def pagerank(
    edges: DataFrame,
    symmetric_input: bool = False,
    broadcast_ranks: bool = False,
) -> DataFrame:
    """Fixed-point PageRank over a directed simple ``(src, dst)`` edge
    list: 5 rounds, damping ``DAMPING_PCT``.

    ``symmetric_input``: pass True when the edge list is undirected
    (both orientations present — :func:`symmetrize` output).  Every
    node then appears as ``src``, so the node list is the distinct
    ``src`` set alone and the dst-side half of the |E|-sized node
    pass is skipped (at 32x sf0.1 the full union-distinct measured
    9.2 s of the loop-invariant cost).  Node set — and therefore
    every rank — is identical by construction; a test pins the
    equivalence on symmetrized data.

    Returns ``(node_id, rank_e12, rank)`` where ``rank_e12`` is the
    exact BIGINT fixed-point rank (units of 1e-12) and ``rank`` its
    6-dp double rendering.

    Contract: a *simple* graph (weight-1 edges; callers dedupe or
    :func:`symmetrize` first).  Nodes are whatever appears in the edge
    list.  Dangling nodes (in-edges only) receive rank but their mass
    is not redistributed — the GraphX ``staticPageRank`` convention,
    which keeps every round a pure join+agg.

    Materialized (the ``connected_components`` / q125/q112 house
    convention): the loop-invariant edge⋈outdeg relation and each
    round's rank table are pinned with eager ``localCheckpoint``.
    Without the checkpoints the plan would embed the edge-derivation
    subtree once per round plus once for the |V| scalar — measured at
    sf0.1 (q100: an orders⋈lineitem edge derivation) as 8.0 s per
    execution against 1.5 s pinned, with Catalyst re-analysis of the
    unrolled tree dominating.  Every Pregel-style engine materializes
    the edge relation between supersteps for exactly this reason; the
    rank table is |V|-sized.  NOTE: ``localCheckpoint`` stores blocks
    NON-reliably — on a real cluster an executor loss makes downstream
    actions fail instead of recomputing lineage (acceptable for
    interactive/bench sessions; a cluster deployment that needs fault
    tolerance mid-query should swap in reliable ``checkpoint()`` at the
    same call sites).

    The |E|-sized relation is built and materialized ONCE: outdeg
    rides a window count over ``src`` (one shuffle+sort of the edge
    pass, no groupBy⋈self join), and the node list is a |V|-partial
    aggregation over the pinned result rather than a second pass over
    the raw edge derivation.  The r12 32x decomposition measured the
    former three-checkpoint form (edge list 37.7 s + node
    union-distinct 22.5 s + edge⋈outdeg join 39.6 s) against ~32 s
    for all five rounds — the loop invariants cost 3x the loop; this
    form pays the |E| materialization once.

    ``broadcast_ranks`` (round 13, VERDICT r12 item 6 — pass True when
    the caller knows |V| is broadcast-sized, i.e. well under the 8 GB
    broadcast cap; q100's |V| is ~16 B/node): re-keys the per-round
    dataflow so NO |E|-sized relation ever crosses an exchange inside
    the loop, and the invariant build itself shrinks: the pinned edge
    relation is the BARE (src, dst) pairs, hash-partitioned by ``dst``
    — the aggregation key — in ONE exchange (outdeg rides on the |V|
    rank table instead of on every edge row, so the window's
    |E|-sized hash(src) exchange AND its full sort disappear; the r13
    32x probe measured the window-form invariants at 56-58 s vs ~34 s
    for all five shuffle-form rounds).  The two |V|-sized loop tables
    ride broadcasts: the rank table (carrying outdeg) broadcasts into
    the contribution join (replacing the per-round |E|-vs-|V| shuffle
    join), and because a broadcast join preserves the probe side's
    ``dst`` partitioning, the contribution aggregation then needs no
    exchange at all; the aggregated ``incoming`` (≤ |V|) broadcasts
    back into the dangling-node left join.  Per-round exchanges drop
    from 2 (one |V| shuffle + one |E|-sized contribution shuffle) to
    ZERO — measured 34.0 → 11.6 s for the five rounds at the 32x
    replica, rank-for-rank identical.  Ranks are exact integer sums,
    so values are identical under any partitioning/join strategy (the
    equivalence is pinned by ``test_pagerank_broadcast_ranks_matches``
    on asymmetric data with dangling nodes)."""
    from pyspark.sql.window import Window

    e = edges.select("src", "dst")
    # the loop-invariant join side: |E| rows with outdeg attached.
    # count() over a src-partitioned full frame == the old
    # groupBy("src").count() joined back, row for row.
    if broadcast_ranks:
        # outdeg rides on the |V| RANK TABLE, not on every edge row:
        # the per-round broadcast join delivers (rank_e12, outdeg)
        # together, so the pinned |E| relation is just the bare
        # dst-partitioned (src, dst) pairs — the invariant build drops
        # from three |E| exchanges plus a full |E| sort (distinct →
        # window(src)+sort → repartition(dst)) to ONE exchange (the
        # dst repartition; guide §2.4).  The r13 32x probe measured
        # the window-form invariants at 56-58 s against ~34 s for all
        # five shuffle-form rounds.  outdeg for a node that never
        # appears as src is NULL on the rank table, and is only ever
        # read through the contribution join (matched on src), so the
        # NULL is unreachable — dangling nodes contribute nothing,
        # exactly the window form's semantics.
        # computed once; feeds deg, nodes, and every round's join
        contrib_edges = e.repartition("dst").localCheckpoint(eager=True)
        deg = contrib_edges.groupBy("src").agg(
            F.count(F.lit(1)).alias("outdeg")
        )
        if symmetric_input:
            nodes = deg.select(F.col("src").alias("node_id"), "outdeg")
        else:
            nodes = (
                contrib_edges.select(F.col("src").alias("node_id"))
                .union(contrib_edges.select(F.col("dst").alias("node_id")))
                .distinct()
                .join(
                    deg.select(F.col("src").alias("node_id"), "outdeg"),
                    "node_id",
                    "left",
                )
            )
        nodes = nodes.localCheckpoint(eager=True)
    else:
        # computed once; feeds nodes and every round's join
        contrib_edges = e.withColumn(
            "outdeg", F.count(F.lit(1)).over(Window.partitionBy("src"))
        ).localCheckpoint(eager=True)
        nodes = contrib_edges.select(F.col("src").alias("node_id"))
        if not symmetric_input:
            nodes = nodes.union(
                contrib_edges.select(F.col("dst").alias("node_id"))
            )
        nodes = nodes.distinct().localCheckpoint(eager=True)
    # |V| is the one driver scalar — needed as a literal in the teleport
    # term, same as the oracle's scalar CTE.
    n = nodes.count()
    if n == 0:
        return nodes.select(
            "node_id",
            F.lit(0).cast("long").alias("rank_e12"),
            F.lit(0.0).alias("rank"),
        )
    base = ((100 - DAMPING_PCT) * SCALE) // (100 * n)

    ranks = nodes.withColumn("rank_e12", F.lit(SCALE // n).cast("long"))
    for _ in range(5):
        rank_side = F.broadcast(ranks) if broadcast_ranks else ranks
        incoming = (
            contrib_edges.join(
                rank_side, contrib_edges["src"] == rank_side["node_id"]
            )
            .select(
                F.col("dst").alias("node_id"),
                F.expr("rank_e12 div outdeg").alias("c"),
            )
            .groupBy("node_id")
            .agg(F.sum("c").alias("insum"))
        )
        inc_side = F.broadcast(incoming) if broadcast_ranks else incoming
        # the broadcast path carries outdeg on the rank table (see the
        # invariant build above) — keep it through the round update
        keep = ["node_id", "outdeg"] if broadcast_ranks else ["node_id"]
        # |V|-sized; the checkpoint truncates the per-round lineage growth
        ranks = (
            nodes.join(inc_side, "node_id", "left")
            .select(
                *keep,
                (
                    F.lit(base).cast("long")
                    + F.expr(
                        f"({DAMPING_PCT} * coalesce(insum, 0L)) div 100"
                    )
                ).alias("rank_e12"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks.select(
        "node_id",
        "rank_e12",
        (
            F.round(F.col("rank_e12") / F.lit(SCALE) * F.lit(10**6), 0)
            / F.lit(10**6)
        ).alias("rank"),
    )


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts + local clustering coefficient over an
    UNDIRECTED simple ``(src, dst)`` graph (pass :func:`symmetrize` output: both
    orientations present, no self-loops, no duplicates).

    Returns ``(node_id, degree, triangles, clustering)`` where
    ``clustering = 2T / (d(d-1))`` (0.0 when d < 2), rounded 6 dp.

    Scale — the whole point of this formulation: edges are ORIENTED by
    ``(degree, id)`` before the wedge join, so every node's effective
    out-degree is O(√m) and the wedge count is O(m^1.5) instead of
    Σd² — the standard defense against power-law hubs (a 10M-degree
    node contributes zero wedges as a source unless its neighbors are
    higher-degree still).  Three equi-joins total: two nodes-sized
    degree annotations (broadcast under AQE), one oriented self-join
    on the wedge apex, one closing-edge semi-ish join; per-triangle
    work is pure integer counting, so the result is engine-exact.

    Materialized (the :func:`pagerank` / ``connected_components``
    house convention): the edge list and the oriented relation are
    pinned with eager ``localCheckpoint``.
    Both are multi-referenced (edges by the degree agg and the
    orientation; oriented by the two wedge legs and the closing
    edge), so a lazy plan re-derives the caller's edge subtree —
    when that subtree ends in a Python candidate stage (q101's
    MinHash kernel), it executes once per un-reused reference.  Same
    non-reliable-storage caveat as :func:`pagerank`: an executor loss fails the
    downstream action rather than recomputing lineage."""
    # computed once; feeds the degree agg and the orientation join
    e = edges.select("src", "dst").localCheckpoint(eager=True)
    deg = e.groupBy(F.col("src").alias("node_id")).agg(
        F.count("*").alias("degree")
    )
    dsrc = deg.select(
        F.col("node_id").alias("src"), F.col("degree").alias("deg_src")
    )
    ddst = deg.select(
        F.col("node_id").alias("dst"), F.col("degree").alias("deg_dst")
    )
    # orient low (degree, id) -> high (degree, id): each undirected edge
    # survives exactly once
    oriented = (
        e.join(dsrc, "src")
        .join(ddst, "dst")
        .filter(
            (F.col("deg_src") < F.col("deg_dst"))
            | ((F.col("deg_src") == F.col("deg_dst")) & (F.col("src") < F.col("dst")))
        )
        .select("src", "dst")
        # consumed three ways: both wedge legs and the closing edge
        .localCheckpoint(eager=True)
    )
    a = oriented.select(F.col("src").alias("apex"), F.col("dst").alias("b"))
    c = oriented.select(F.col("src").alias("apex"), F.col("dst").alias("c"))
    # wedges from a common apex; b < c dedupes the unordered neighbor pair
    wedges = a.join(c, "apex").filter(F.col("b") < F.col("c"))
    # the closing edge is degree-oriented while (b, c) is id-ordered —
    # normalize the closing edge to id-order so the match is ONE
    # two-column equi-join (an OR over both directions would plan as a
    # nested loop; pinned in the plan test)
    closing = oriented.select(
        F.least("src", "dst").alias("b"), F.greatest("src", "dst").alias("c")
    )
    tri = wedges.join(closing, ["b", "c"]).select("apex", "b", "c")
    per_node = (
        tri.select(F.col("apex").alias("node_id"))
        .union(tri.select(F.col("b").alias("node_id")))
        .union(tri.select(F.col("c").alias("node_id")))
        .groupBy("node_id")
        .agg(F.count("*").alias("triangles"))
    )
    return (
        deg.join(per_node, "node_id", "left")
        .select(
            "node_id",
            "degree",
            F.coalesce("triangles", F.lit(0)).cast("long").alias("triangles"),
            F.when(
                F.col("degree") >= 2,
                F.round(
                    F.coalesce("triangles", F.lit(0))
                    * F.lit(2.0)
                    / (F.col("degree") * (F.col("degree") - 1))
                    * F.lit(10**6),
                    0,
                )
                / F.lit(10**6),
            )
            .otherwise(F.lit(0.0))
            .alias("clustering"),
        )
    )
