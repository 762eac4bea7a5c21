"""Deterministic hash sampling (operators/sampling.py)."""

from pyspark.sql import functions as F

from defenda_data_lake_spark.operators.sampling import (
    BUCKETS,
    stratified_hash_sample,
    with_split,
)


def _docs(spark):
    return spark.range(2000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 4 == 0, "crawl").otherwise("curated").alias("src"),
    )


def _hash_sample(df, fraction, salt):
    """One rate for every stratum: a plain id-hash sample."""
    return stratified_hash_sample(
        df, "doc_id", "src", {}, default_fraction=fraction, salt=salt
    )


def test_hash_sample_is_deterministic_and_sized(spark):
    df = _docs(spark)
    a = {r["doc_id"] for r in _hash_sample(df, 0.2, "s").collect()}
    b = {r["doc_id"] for r in _hash_sample(df, 0.2, "s").collect()}
    assert a == b  # same rows every run
    assert 0.15 < len(a) / 2000 < 0.25  # close to the asked fraction


def test_hash_sample_is_nested(spark):
    """A smaller fraction must be a subset of a larger one (same salt) —
    the property that makes hash sampling resumable/incremental."""
    df = _docs(spark)
    small = {r["doc_id"] for r in _hash_sample(df, 0.1, "s").collect()}
    big = {r["doc_id"] for r in _hash_sample(df, 0.3, "s").collect()}
    assert small <= big


def test_salt_redraws_assignment(spark):
    df = _docs(spark)
    a = {r["doc_id"] for r in _hash_sample(df, 0.2, "fold1").collect()}
    b = {r["doc_id"] for r in _hash_sample(df, 0.2, "fold2").collect()}
    assert a != b


def test_with_split_partitions_completely(spark):
    df = _docs(spark)
    rows = with_split(df, "doc_id").collect()
    by_split = {}
    for r in rows:
        by_split.setdefault(r["split"], set()).add(r["doc_id"])
    assert set(by_split) == {"train", "test"}
    assert len(by_split["train"] | by_split["test"]) == 2000
    assert not (by_split["train"] & by_split["test"])


def test_stratified_rates(spark):
    df = _docs(spark)
    kept = stratified_hash_sample(
        df, "doc_id", "src", {"curated": 1.0, "crawl": 0.1}
    ).groupBy("src").count().collect()
    counts = {r["src"]: r["count"] for r in kept}
    assert counts["curated"] == 1500  # 100% kept
    assert 20 <= counts.get("crawl", 0) <= 80  # ~10% of 500


def test_bucket_range(spark):
    df = _docs(spark)
    from defenda_data_lake_spark.operators.sampling import hash_bucket

    stats = df.select(hash_bucket("doc_id").alias("b")).agg(
        F.min("b"), F.max("b")
    ).first()
    assert 0 <= stats[0] and stats[1] < BUCKETS


def test_weighted_sample_determinism_and_bias(spark):
    from defenda_data_lake_spark.operators.sampling import weighted_sample

    rows = [(i, 1000 if i < 50 else 10) for i in range(1000)]
    df = spark.createDataFrame(rows, "id long, w long")
    s1 = weighted_sample(df, "id", "w", k=100).select("id", "sample_rank")
    s2 = weighted_sample(df, "id", "w", k=100).select("id", "sample_rank")
    r1 = sorted((r["id"], r["sample_rank"]) for r in s1.collect())
    assert r1 == sorted((r["id"], r["sample_rank"]) for r in s2.collect())
    assert len(r1) == 100
    assert [rank for _, rank in r1] and len({rank for _, rank in r1}) == 100
    # 50 heavy ids carry 100x the weight of each of the 950 light ones
    # (50k vs 9.5k total): the heavy minority must dominate the sample
    heavy = sum(1 for i, _ in r1 if i < 50)
    assert heavy >= 35, heavy


def test_weighted_sample_clamps_bad_weights(spark):
    from defenda_data_lake_spark.operators.sampling import weighted_sample

    df = spark.createDataFrame(
        [(1, 0), (2, -5), (3, None), (4, 100)], "id long, w long"
    )
    out = weighted_sample(df, "id", "w", k=4).collect()
    assert len(out) == 4
    # no NaN/Inf priorities from non-positive weights
    import math

    assert all(math.isfinite(r["priority"]) for r in out)


def test_weighted_sample_plans_as_topk(spark):
    from defenda_data_lake_spark.operators.sampling import weighted_sample

    df = spark.range(10000).withColumn("w", (F.col("id") % 7) + 1)
    plan = (
        weighted_sample(df, "id", "w", k=10)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" in plan


def test_weighted_sample_respects_fractional_weights(spark):
    from defenda_data_lake_spark.operators.sampling import weighted_sample

    df = spark.createDataFrame([(1, 0.2), (2, 0.9)], "id long, w double")
    out = {r["id"]: r["priority"] for r in weighted_sample(df, "id", "w", k=2).collect()}
    import hashlib
    import math

    for i, w in ((1, 0.2), (2, 0.9)):
        u = (
            int(hashlib.md5(f"wsample{i}".encode()).hexdigest()[:8], 16) + 0.5
        ) / 4294967296.0
        assert abs(out[i] - math.log(u) / w) < 1e-12, (i, out[i])


def test_group_weighted_sample_topk_and_plan(spark):
    from defenda_data_lake_spark.operators.sampling import (
        es_priority,
        group_weighted_sample,
    )

    df = spark.createDataFrame(
        [(i, "g" + str(i % 3), (i % 5) + 1) for i in range(300)],
        "id long, grp string, w long",
    )
    out = group_weighted_sample(df, "grp", "id", "w", k=7)
    rows = out.collect()
    per_group = {}
    for r in rows:
        per_group.setdefault(r["grp"], []).append(r)
    assert set(per_group) == {"g0", "g1", "g2"}
    for grp_rows in per_group.values():
        assert len(grp_rows) == 7
        assert sorted(r["sample_rank"] for r in grp_rows) == list(range(1, 8))
        # ranks follow priority descending
        by_rank = sorted(grp_rows, key=lambda r: r["sample_rank"])
        pris = [r["priority"] for r in by_rank]
        assert pris == sorted(pris, reverse=True)
    # map-side group-limit reaches the plan (the scale property: the
    # shuffle carries O(groups x k) rows, not the corpus)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan
    # determinism
    again = sorted((r["grp"], r["id"]) for r in group_weighted_sample(df, "grp", "id", "w", k=7).collect())
    assert again == sorted((r["grp"], r["id"]) for r in rows)


# --- token_budget_select -------------------------------------------------


def _naive_budget(rows, budget):
    """Reference greedy selection: rows = [(id, key, tok)], best-first
    by (key desc, id), keep while cumulative tok <= budget."""
    out, cum = [], 0
    for rid, key, tok in sorted(rows, key=lambda r: (-r[1], r[0])):
        cum += tok
        if cum > budget:
            break
        out.append((rid, cum))
    return out


def _mk_budget_df(spark, n=500, seed_mod=97):
    return spark.range(n).select(
        F.col("id"),
        ((F.col("id") * 37) % seed_mod).cast("double").alias("key"),
        ((F.col("id") * 13) % 50 + 1).cast("long").alias("tok"),
    )


def test_token_budget_absolute_matches_naive(spark):
    """A ratio budget keeps the naive prefix at the absolute token
    count it implies: 10·cum <= 3·total <=> cum <= 3·total // 10."""
    from defenda_data_lake_spark.operators.sampling import token_budget_select

    df = _mk_budget_df(spark)
    rows = [(r["id"], r["key"], r["tok"]) for r in df.collect()]
    total = sum(t for _, _, t in rows)
    expect = _naive_budget(rows, 3 * total // 10)
    got = token_budget_select(
        df, "tok", "key", tie_cols=["id"], budget_ratio=(3, 10), buckets=8
    )
    assert sorted((r["id"], r["cum_tokens"]) for r in got.collect()) == sorted(
        expect
    )


def test_token_budget_ratio_matches_naive(spark):
    from defenda_data_lake_spark.operators.sampling import token_budget_select

    df = _mk_budget_df(spark)
    rows = [(r["id"], r["key"], r["tok"]) for r in df.collect()]
    total = sum(t for _, _, t in rows)
    expect = _naive_budget(rows, total // 4)  # 4*cum <= total <=> cum <= total//4
    got = token_budget_select(
        df, "tok", "key", tie_cols=["id"], budget_ratio=(1, 4), buckets=8
    )
    assert sorted((r["id"], r["cum_tokens"]) for r in got.collect()) == sorted(
        expect
    )


def test_token_budget_partitioning_invariant(spark):
    from defenda_data_lake_spark.operators.sampling import token_budget_select

    df = _mk_budget_df(spark, n=800)
    a = token_budget_select(
        df, "tok", "key", tie_cols=["id"], budget_ratio=(1, 3), buckets=16
    )
    b = token_budget_select(
        df.repartition(13), "tok", "key", tie_cols=["id"],
        budget_ratio=(1, 3), buckets=3,
    )
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_token_budget_null_rows_excluded(spark):
    from defenda_data_lake_spark.operators.sampling import token_budget_select

    df = spark.createDataFrame(
        [(1, 5.0, 10), (2, 1.0, 10), (3, None, 10), (4, 2.0, None), (5, 3.0, 10)],
        "id long, key double, tok long",
    )
    got = token_budget_select(
        df, "tok", "key", tie_cols=["id"], budget_ratio=(2, 3), buckets=4
    )
    # descending: key 5.0 (id 1) then 3.0 (id 5) fill 20 of the 30
    # tokens; NULL key/tok rows are neither selected nor counted
    assert [(r["id"], r["cum_tokens"]) for r in
            sorted(got.collect(), key=lambda r: r["cum_tokens"])] == [
        (1, 10), (5, 20)
    ]


def test_token_budget_rejects_bad_args(spark):
    import pytest

    from defenda_data_lake_spark.operators.sampling import token_budget_select

    df = _mk_budget_df(spark, n=10)
    with pytest.raises(ValueError):
        token_budget_select(df, "tok", "key", budget_ratio=(-1, 4))
    with pytest.raises(ValueError):
        token_budget_select(df, "tok", "key", budget_ratio=(1, 0))
    with pytest.raises(ValueError):
        token_budget_select(df, "tok", "key", budget_ratio=(1, 4), buckets=0)


def test_token_budget_plan_no_global_window_on_data(spark):
    from defenda_data_lake_spark.operators.sampling import token_budget_select

    df = _mk_budget_df(spark, n=2000)
    got = token_budget_select(
        df, "tok", "key", tie_cols=["id"], budget_ratio=(1, 4), buckets=16
    )
    got.collect()
    plan = got._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    # the corpus-bearing cumsum must be partitioned by bucket (exactly
    # one full-data exchange); the offsets join must be broadcast; the
    # only SinglePartition traffic is the <= buckets-row offsets table
    assert plan.count("hashpartitioning(_tb_bucket") >= 1
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def _naive_group_budget(rows, frac_num, frac_den):
    """rows = [(id, grp, key, tok)] -> [(id, cum)] kept per group."""
    from collections import defaultdict

    by_g = defaultdict(list)
    for rid, g, key, tok in rows:
        by_g[g].append((rid, key, tok))
    out = []
    for g, rs in by_g.items():
        total = sum(t for _, _, t in rs)
        cum = 0
        for rid, key, tok in sorted(rs, key=lambda r: (-r[1], r[0])):
            cum += tok
            if cum * frac_den > total * frac_num:
                break
            out.append((rid, cum))
    return out


def test_group_token_budget_ratio_matches_naive(spark):
    from defenda_data_lake_spark.operators.sampling import (
        group_token_budget_select,
    )

    df = spark.range(400).select(
        F.col("id"),
        (F.col("id") % 5).cast("string").alias("g"),
        ((F.col("id") * 37) % 97).cast("double").alias("key"),
        ((F.col("id") * 13) % 50 + 1).cast("long").alias("tok"),
    )
    rows = [(r["id"], r["g"], r["key"], r["tok"]) for r in df.collect()]
    expect = _naive_group_budget(rows, 1, 3)
    got = group_token_budget_select(
        df, "tok", "key", "g", tie_cols=["id"], budget_ratio=(1, 3)
    )
    assert sorted((r["id"], r["cum_tokens"]) for r in got.collect()) == sorted(
        expect
    )


def test_group_token_budget_rejects_bad_args(spark):
    import pytest

    from defenda_data_lake_spark.operators.sampling import (
        group_token_budget_select,
    )

    df = spark.createDataFrame([(1, "a", 1.0, 1)], "id long, g string, key double, tok long")
    with pytest.raises(ValueError):
        group_token_budget_select(df, "tok", "key", "g", budget_ratio=(-1, 2))
    with pytest.raises(ValueError):
        group_token_budget_select(df, "tok", "key", "g", budget_ratio=(1, 0))


def test_token_budget_monotone_in_budget(spark):
    """A larger budget must select a SUPERSET of a smaller one (the
    greedy prefix property — if this breaks, the selection is not a
    prefix of one global order and re-runs with a grown budget would
    drop previously-selected docs)."""
    from defenda_data_lake_spark.operators.sampling import token_budget_select

    df = _mk_budget_df(spark, n=600)
    prev: set = set()
    for num in (1, 4, 9):
        ids = {
            r["id"]
            for r in token_budget_select(
                df, "tok", "key", tie_cols=["id"],
                budget_ratio=(num, 10), buckets=8,
            ).collect()
        }
        assert prev <= ids, (num, prev - ids)
        prev = ids


def test_token_budget_single_bucket_degenerate(spark):
    """buckets=1 (no quantile probe at all) must still be exact — the
    documented degenerate single-task form."""
    from defenda_data_lake_spark.operators.sampling import token_budget_select

    df = _mk_budget_df(spark, n=200)
    rows = [(r["id"], r["key"], r["tok"]) for r in df.collect()]
    total = sum(t for _, _, t in rows)
    expect = _naive_budget(rows, 3 * total // 10)
    got = token_budget_select(
        df, "tok", "key", tie_cols=["id"], budget_ratio=(3, 10), buckets=1
    )
    assert sorted((r["id"], r["cum_tokens"]) for r in got.collect()) == sorted(
        expect
    )


def test_token_budget_empty_input(spark):
    from defenda_data_lake_spark.operators.sampling import (
        group_token_budget_select,
        token_budget_select,
    )

    df = _mk_budget_df(spark, n=10).filter(F.lit(False))
    assert (
        token_budget_select(
            df, "tok", "key", tie_cols=["id"], budget_ratio=(1, 2), buckets=4
        ).count()
        == 0
    )
    gdf = spark.createDataFrame([], "id long, g string, key double, tok long")
    assert (
        group_token_budget_select(
            gdf, "tok", "key", "g", budget_ratio=(1, 2)
        ).count()
        == 0
    )
