"""Round-13 optimization-round pins.

Covers the ADVICE r12 fixes (non-finite `_dlit` literals, bounded
`_wanted_tokens` cache) and the round's operator changes (each change
lands with its equivalence/behavior pin here).
"""

import math

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------- _dlit


def _sql_scalar(spark, expr_sql):
    return spark.sql(f"SELECT {expr_sql} AS x").collect()[0]["x"]


@pytest.mark.parametrize("mod", ["clustering", "pq"])
def test_dlit_nonfinite_values_parse_and_roundtrip(spark, mod):
    """ADVICE r12 (medium): repr() of non-finite doubles emitted bare
    ``nan``/``inf``, which the SQL parser reads as column references —
    an AnalysisException on any embedding with a non-finite component.
    The string-cast spelling must parse to the identical IEEE value
    F.lit(float) produces."""
    if mod == "clustering":
        from defenda_data_lake_spark.operators.clustering import _dlit
    else:
        from defenda_data_lake_spark.operators.pq import _dlit

    assert math.isnan(_sql_scalar(spark, _dlit(float("nan"))))
    assert _sql_scalar(spark, _dlit(float("inf"))) == float("inf")
    assert _sql_scalar(spark, _dlit(float("-inf"))) == float("-inf")
    # finite values: D-suffixed shortest-roundtrip literals that parse
    # back to the same double; -0.0 is spelled as +0.0
    for v in (0.0, -0.0, 1.5, 1e-300, -2.2250738585072014e-308, 3.141592653589793):
        assert _sql_scalar(spark, _dlit(v)) == v
    assert _dlit(-0.0) == _dlit(0.0) == "0.0D"


def test_kmeans_with_nonfinite_embedding_component(spark):
    """A NaN component in one of the 8 lowest-id vectors becomes a NaN
    centroid component; the assignment must still build and run (the
    old F.lit form did — the SQL-text rewrite regressed it to an
    AnalysisException until the _dlit guard)."""
    from defenda_data_lake_spark.operators.clustering import kmeans_assign

    rows = [(0, [float("nan"), 1.0])] + [
        (i, [float(i % 5), float((i * 3) % 7)]) for i in range(1, 30)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    got = kmeans_assign(df, iterations=2).collect()
    assert len(got) == 30
    # NaN-propagating, not failing: the NaN vector's distances are all
    # NaN, its best is NaN, and Spark SQL's NaN = NaN is TRUE (its
    # documented NaN semantics), so the FIRST arm wins — cluster 0
    # with a NaN sq_dist
    nan_row = next(r for r in got if r["id"] == 0)
    assert nan_row["cluster"] == 0 and math.isnan(nan_row["sq_dist"])
    # every finite vector still gets a defined cluster
    assert all(r["cluster"] is not None for r in got if r["id"] != 0)


# ------------------------------------------------- _wanted_tokens cache


def test_wanted_tokens_cache_bounded_and_correct():
    """ADVICE r12 (low): the lowered-token cache is lru-bounded now;
    same results, including the unhashable fall-back."""
    from defenda_data_lake_spark.operators.pipeline import (
        _lowered_tokens,
        _wanted_tokens,
    )

    assert _wanted_tokens(["Alpha", "BETA"]) == frozenset({"alpha", "beta"})
    assert _wanted_tokens(("Alpha", "BETA")) == frozenset({"alpha", "beta"})

    # unhashable tokens fall back to the direct (uncached) form
    class UnhashableToken(str):
        __hash__ = None

    assert _wanted_tokens([UnhashableToken("GAMMA")]) == frozenset({"gamma"})
    info = _lowered_tokens.cache_info()
    assert info.maxsize == 256


# ------------------------------------------- semdedup byte-budget cap


def test_cap_from_bytes_flat_in_dim():
    """VERDICT r12 item 5: the per-task footprint the cap implies —
    16·cap·(dim + 1024) bytes — stays within the budget at every
    dimensionality, and the dim-16 cap reproduces the r12 measured
    sweet spot (~4096 rows at 64 MiB)."""
    from defenda_data_lake_spark.operators.clustering import _cap_from_bytes

    budget = 64 << 20
    for dim in (4, 16, 64, 768, 1024, 4096):
        cap = _cap_from_bytes(budget, dim)
        assert 16 * cap * (dim + 1024) <= budget
        assert cap >= 1
    assert _cap_from_bytes(budget, 16) == 4032
    # fat production vectors get a proportionally smaller cap, never 0
    assert _cap_from_bytes(budget, 4096) < _cap_from_bytes(budget, 16)
    assert _cap_from_bytes(1, 4096) == 1


def test_pagerank_broadcast_ranks_matches(spark):
    """VERDICT r12 item 6: the broadcast-ranks dataflow (dst-partitioned
    pinned edges, |V| tables on broadcasts, zero per-round exchanges)
    computes the identical exact-integer ranks as the shuffle form —
    on ASYMMETRIC input with dangling nodes and varied out-degrees."""
    from defenda_data_lake_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 1), (4, 1), (5, 4), (1, 6), (7, 3)],
        ["src", "dst"],
    )
    base = sorted(map(tuple, pagerank(edges).collect()))
    fast = sorted(map(tuple, pagerank(edges, broadcast_ranks=True).collect()))
    assert fast == base


def test_semdedup_max_group_bytes_parity(spark):
    """Every byte budget is output-identical to the uncapped form (the
    cap only changes sub-bucketing), and a budget below 1 is refused."""
    from defenda_data_lake_spark.operators.clustering import semdedup

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base = sorted(map(tuple, semdedup(emb).collect()))
    for budget in (1, 2048 * 16 * 8, 64 << 20):  # cap 1 / small / 4032
        got = sorted(
            map(
                tuple,
                semdedup(emb, max_group_bytes=budget).collect(),
            )
        )
        assert got == base, f"budget={budget} diverged"
    with pytest.raises(ValueError):
        semdedup(emb, max_group_bytes=0)


# --------------------------------------------- symmetrize (explode form)


def _plan_nodes(plan) -> list:
    """Every node of a Catalyst plan tree (a py4j handle), root first."""
    nodes = [plan]
    children = plan.children()
    for i in range(children.size()):
        nodes += _plan_nodes(children.apply(i))
    return nodes


def _exchange_nodes(df) -> int:
    """Exchanges in ``df``'s physical plan as first planned, before
    adaptive execution turns them into query stages."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.initialPlan()
    return sum(node.nodeName() == "Exchange" for node in _plan_nodes(plan))


def test_symmetrize_explode_form(spark):
    """Round 13: symmetrize emits both orientations from ONE explode
    pass — the union form executed the caller's edge derivation once
    per branch (ReuseExchange shares shuffle files, not the work
    above them).  Values identical; the plan holds exactly one
    Exchange (the dedup's), with the input subtree appearing ONCE.
    (The repartition-then-distinct fusion — one shared exchange — was
    measured SLOWER at 32x and rejected: it moves the un-deduped
    multiset; see operators/graph.py.)"""
    from defenda_data_lake_spark.operators.graph import symmetrize

    rows = [(1, 2), (2, 1), (1, 2), (3, 3), (4, 1), (2, 5), (5, 2)]
    df = spark.createDataFrame(rows, ["a", "b"])

    plain = symmetrize(df, src="a", dst="b")
    assert _exchange_nodes(plain) == 1
    # one Generate (explode) node, and the source appears once as the
    # plan's only leaf — the union form scanned the input subtree twice
    optimized = plain._jdf.queryExecution().optimizedPlan()
    assert optimized.collectLeaves().size() == 1
    assert sum(n.nodeName() == "Generate" for n in _plan_nodes(optimized)) == 1

    expect = set()
    for a, b in rows:
        if a != b:
            expect.add((a, b))
            expect.add((b, a))
    assert {(r["src"], r["dst"]) for r in plain.collect()} == expect
