"""Deterministic HLL sketch (operators/sketches.py)."""

import pytest
from pyspark.sql import functions as F

from defenda_data_lake_spark.operators.sketches import hll_distinct


def test_hll_accuracy_bands(spark):
    # standard error for m=256 is ~6.5%/sqrt-free ≈ 6.5%; assert a
    # loose 15% band across three cardinality regimes
    for true_card, n in [(50, 5000), (3777, 50000), (60000, 120000)]:
        df = spark.range(n).select(
            (F.col("id") % true_card).cast("string").alias("v")
        )
        est = hll_distinct(df, "v").collect()[0]["hll_estimate"]
        assert abs(est - true_card) / true_card < 0.15, (true_card, est)


def test_hll_small_cardinality_no_overflow(spark):
    # the scaled register sum is bounded by m * 2^55 = 2^63 at p=8,
    # the edge of int64, and absent registers each add 2^55: in the
    # small-cardinality regime, where most registers are absent, the
    # DECIMAL sum must stay exact and agree with a pure-Python
    # exact-integer replay of the same formula.
    import hashlib
    import math

    true_card = 50
    df = spark.range(5000).select(
        (F.col("id") % true_card).cast("string").alias("v")
    )
    est = hll_distinct(df, "v").collect()[0]["hll_estimate"]
    assert abs(est - true_card) / true_card < 0.15, est

    # python replay (arbitrary-precision ints: the ground truth)
    regs: dict[str, int] = {}
    for i in range(true_card):
        h = hashlib.md5(str(i).encode()).hexdigest()
        idx, whex = h[:2], h[2:16]
        bits = bin(int(whex, 16))[2:].zfill(56)
        rho = min(bits.index("1") + 1 if "1" in bits else 56, 55)
        regs[idx] = max(regs.get(idx, 0), rho)
    m = 256
    alpha = 0.7213 / (1.0 + 1.079 / m)
    zeros = m - len(regs)
    isum = sum(1 << (55 - r) for r in regs.values()) + zeros * (1 << 55)
    raw = alpha * m * m * float(1 << 55) / float(isum)
    expect = (
        float(m) * math.log(float(m) / zeros)
        if raw <= 2.5 * m and zeros > 0
        else raw
    )
    assert est == pytest.approx(expect, rel=1e-12), (est, expect)


def test_hll_deterministic_and_grouped(spark):
    df = spark.range(20000).select(
        (F.col("id") % 4).alias("g"), (F.col("id") % 997).cast("string").alias("v")
    )
    a = sorted(map(tuple, hll_distinct(df, "v", ["g"]).collect()))
    b = sorted(map(tuple, hll_distinct(df, "v", ["g"]).collect()))
    assert a == b and len(a) == 4


def test_hll_ignores_nulls(spark):
    # count(DISTINCT) semantics: NULL values contribute nothing.  An
    # all-NULL-plus-k-values column must estimate ~k, not pick up a
    # phantom max-rho register from md5(NULL).
    df = spark.range(1000).select(
        F.when(F.col("id") % 2 == 0, (F.col("id") % 20).cast("string")).alias("v")
    )
    # even ids mod 20 -> the 10 even residues; odd rows are NULL
    est = hll_distinct(df, "v").collect()[0]["hll_estimate"]
    assert abs(est - 10) / 10 < 0.15, est

    all_null = spark.range(100).select(F.lit(None).cast("string").alias("v"))
    rows = hll_distinct(all_null, "v").collect()
    assert len(rows) == 1 and rows[0]["hll_estimate"] == 0.0


def test_bloom_accuracy_bands(spark):
    from defenda_data_lake_spark.operators.sketches import bloom_cardinality

    for true_card, n in [(50, 5000), (3777, 50000), (30000, 90000)]:
        df = spark.range(n).select(
            (F.col("id") % true_card).cast("string").alias("v")
        )
        est = bloom_cardinality(df, "v").collect()[0]["bloom_estimate"]
        assert abs(est - true_card) / true_card < 0.1, (true_card, est)


def test_bloom_nulls_empty_and_validation(spark):
    from defenda_data_lake_spark.operators.sketches import bloom_cardinality

    # NULLs ignored like count(DISTINCT)
    df = spark.range(1000).select(
        F.when(F.col("id") % 2 == 0, (F.col("id") % 20).cast("string")).alias("v")
    )
    est = bloom_cardinality(df, "v").collect()[0]["bloom_estimate"]
    assert abs(est - 10) / 10 < 0.2, est

    all_null = spark.range(50).select(F.lit(None).cast("string").alias("v"))
    rows = bloom_cardinality(all_null, "v").collect()
    assert len(rows) == 1 and rows[0]["bloom_estimate"] == 0.0

    # grouped determinism
    g = spark.range(20000).select(
        (F.col("id") % 4).alias("g"), (F.col("id") % 997).cast("string").alias("v")
    )
    a = sorted(map(tuple, bloom_cardinality(g, "v", ["g"]).collect()))
    b = sorted(map(tuple, bloom_cardinality(g, "v", ["g"]).collect()))
    assert a == b and len(a) == 4


def test_count_min_one_sided_and_bounded(spark):
    from defenda_data_lake_spark.operators.sketches import (
        count_min_lookup,
        count_min_table,
    )

    # Zipf-ish frequencies: value v appears (2000 // (v+1)) times
    rows = [(str(v),) for v in range(500) for _ in range(2000 // (v + 1))]
    df = spark.createDataFrame(rows, ["v"])
    n = len(rows)
    cells = count_min_table(df, "v")
    exact = df.groupBy("v").agg(F.count("*").alias("cnt"))
    est = count_min_lookup(cells, exact, "v")
    w = 16 ** 3
    for r in est.collect():
        # CMS error is one-sided: estimate >= truth, over by at most
        # ~e*N/w with overwhelming probability (loose 10x slack here)
        assert r["cm_estimate"] >= r["cnt"], r
        assert r["cm_estimate"] - r["cnt"] <= 10 * n / w + 5, r


def test_count_min_grouped_nulls_absent_and_validation(spark):
    from defenda_data_lake_spark.operators.sketches import (
        count_min_lookup,
        count_min_table,
    )

    df = spark.range(4000).select(
        (F.col("id") % 2).alias("g"),
        F.when(F.col("id") % 5 != 0, (F.col("id") % 7).cast("string")).alias("v"),
    )
    cells = count_min_table(df, "v", ["g"])
    # NULLs contribute to no cell: total mass = non-null count
    total = cells.agg(F.sum("_cm_count")).collect()[0][0]
    nn = df.filter(F.col("v").isNotNull()).count()
    assert total == 3 * nn  # d=3 probes per value

    # absent candidate estimates small (0 unless it collides in all rows)
    probe = spark.createDataFrame([(0, "no-such-value"),], ["g", "v"])
    est = count_min_lookup(cells, probe, "v", ["g"]).collect()[0]["cm_estimate"]
    assert est <= nn  # sanity: bounded by the stream mass
    # exact per-group estimate for a present value
    present = spark.createDataFrame([(1, "3")], ["g", "v"])
    true_cnt = df.filter((F.col("g") == 1) & (F.col("v") == "3")).count()
    est2 = count_min_lookup(cells, present, "v", ["g"]).collect()[0]["cm_estimate"]
    assert est2 >= true_cnt


def test_count_min_null_group_key_matches(spark):
    # a NULL GROUP key is a real group (groupBy keeps it); the lookup
    # join must be null-safe or its estimates come back 0, breaking
    # the one-sided guarantee
    from defenda_data_lake_spark.operators.sketches import (
        count_min_lookup,
        count_min_table,
    )

    df = spark.createDataFrame(
        [(None, "x")] * 7 + [("en", "x")] * 3,
        "g string, v string",
    )
    cells = count_min_table(df, "v", ["g"])
    probe = spark.createDataFrame([(None, "x"), ("en", "x")], "g string, v string")
    got = {
        r["g"]: r["cm_estimate"]
        for r in count_min_lookup(cells, probe, "v", ["g"]).collect()
    }
    assert got[None] >= 7 and got["en"] >= 3, got


def test_bloom_saturation_returns_null(spark):
    from defenda_data_lake_spark.operators.sketches import bloom_cardinality

    # m=65536 bits, k=2: a million distinct values leave a position
    # unset with probability ~exp(-30) each, so every position is set
    df = spark.range(1_000_000).select(F.col("id").cast("string").alias("v"))
    rows = bloom_cardinality(df, "v").collect()
    assert len(rows) == 1 and rows[0]["bloom_estimate"] is None


def test_histogram_quantiles_error_bound(spark):
    from defenda_data_lake_spark.operators.sketches import (
        histogram_quantiles,
    )

    # uniform-ish values in [0, 100): every estimate must land within
    # one bin width of the exact quantile
    df = spark.range(10000).select(
        ((F.col("id") * 37) % 1000 / 10.0).alias("v")
    )
    est = {
        r["quantile"]: r["quantile_estimate"]
        for r in histogram_quantiles(df, "v").collect()
    }
    exact = df.selectExpr(
        "percentile(v, array(0.5D, 0.9D, 0.99D)) AS p"
    ).collect()[0]["p"]
    for q, ex in zip((0.5, 0.9, 0.99), exact):
        assert abs(est[q] - ex) <= 1.0 + 1e-9, (q, est[q], ex)


def test_histogram_quantiles_grouped_and_nulls(spark):
    from defenda_data_lake_spark.operators.sketches import (
        histogram_quantiles,
    )

    df = spark.range(2000).select(
        (F.col("id") % 2).alias("g"),
        F.when(F.col("id") % 10 != 0, (F.col("id") % 500).cast("double")).alias("v"),
    )
    rows = histogram_quantiles(df, "v", ["g"]).collect()
    # 2 groups x 3 quantiles; NULL v rows ignored
    assert len(rows) == 6

    # all-NULL group absent entirely
    nn = spark.range(100).select(
        F.lit(0).alias("g"), F.lit(None).cast("double").alias("v")
    )
    assert histogram_quantiles(nn, "v", ["g"]).collect() == []


def test_ann_recall_self_is_one(spark, sf_dir):
    # recall of the brute-force kernel against itself is exactly 1.0
    # for every query; and q89 (LSH vs brute) stays within [0, 1] with
    # n_truth = 10
    from defenda_data_lake_spark.plans.catalog import q89_ann_recall

    rows = q89_ann_recall(spark, sf_dir).collect()
    assert len(rows) == 5
    for r in rows:
        assert r["n_truth"] == 10
        assert 0 <= r["n_hits"] <= 10
        assert abs(r["recall_at_10"] - r["n_hits"] / 10.0) < 1e-9


def test_hll_merge_register_identical(spark):
    # the mergeability law: register tables built on disjoint (or
    # overlapping) slices, max-merged, must equal a direct build over
    # the union REGISTER-FOR-REGISTER — not approximately
    from defenda_data_lake_spark.operators.sketches import (
        hll_merge,
        hll_register_table,
    )

    df = spark.range(3000).select(
        (F.col("id") % 3).alias("g"),
        (F.col("id") % 700).cast("string").alias("v"),
    )
    a = df.filter(F.col("id") < 1000)
    b = df.filter(F.col("id") >= 800)  # overlap on purpose
    merged = hll_merge(
        hll_register_table(a, "v", ["g"]).unionAll(
            hll_register_table(b, "v", ["g"])
        ),
        ["g"],
    )
    direct = hll_register_table(df, "v", ["g"])
    key = lambda r: (r["g"], r["_hll_idx"], r["_hll_max"])
    assert sorted(map(key, merged.collect())) == sorted(
        map(key, direct.collect())
    )


def test_hash_sample_overlap_estimates(spark):
    from defenda_data_lake_spark.operators.sketches import (
        hash_sample_overlap,
        hash_sample_sketch,
    )

    # |A| = 12000 (0..12000), |B| = 12000 (6000..18000), |A∩B| = 6000
    a = spark.range(0, 12000).select(F.col("id").cast("string").alias("v"))
    b = spark.range(6000, 18000).select(F.col("id").cast("string").alias("v"))
    row = hash_sample_overlap(
        hash_sample_sketch(a, "v"), hash_sample_sketch(b, "v")
    ).collect()[0]
    assert abs(row["est_a"] - 12000) / 12000 < 0.15
    assert abs(row["est_b"] - 12000) / 12000 < 0.15
    assert abs(row["est_union"] - 18000) / 18000 < 0.15
    assert abs(row["est_intersection"] - 6000) / 6000 < 0.25
    assert abs(row["jaccard_estimate"] - 6000 / 18000) < 0.1
    # internal consistency: inclusion-exclusion holds EXACTLY on the
    # coordinated samples (union = a + b - intersection)
    assert row["est_union"] == row["est_a"] + row["est_b"] - row["est_intersection"]


def test_hash_sample_empty_and_nulls(spark):
    from defenda_data_lake_spark.operators.sketches import (
        hash_sample_overlap,
        hash_sample_sketch,
    )

    empty = spark.range(0).select(F.col("id").cast("string").alias("v"))
    nulls = spark.range(100).select(F.lit(None).cast("string").alias("v"))
    for df in (empty, nulls):
        assert hash_sample_sketch(df, "v").count() == 0
    row = hash_sample_overlap(
        hash_sample_sketch(empty, "v"), hash_sample_sketch(nulls, "v")
    ).collect()[0]
    assert row["est_union"] == 0 and row["jaccard_estimate"] is None
