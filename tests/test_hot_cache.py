"""Hot-table cache: cached results must be byte-identical to the cold
path, the physical plan must actually scan the in-memory cache, and the
size budget must skip oversized tables."""

import os

import pytest

from defenda_data_lake_spark.plans import catalog_shared
from defenda_data_lake_spark.plans.catalog import (
    CATALOG,
    _T_CACHE,
    clear_table_cache,
    warm_table_cache,
)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture()
def cold_cache():
    clear_table_cache()
    yield
    clear_table_cache()


def _run(spark, name):
    fn, _ = CATALOG[name]
    df = fn(spark, SF_DIR)
    return sorted(map(tuple, df.collect())), df.schema


def test_cached_results_identical(spark, cold_cache):
    checks = ["q01_pricing_summary", "q05_regional_revenue", "q20_events_json"]
    cold = {n: _run(spark, n) for n in checks}
    cached = warm_table_cache(spark, SF_DIR)
    assert "lineitem" in cached and "events" in cached
    for n in checks:
        rows, schema = _run(spark, n)
        assert schema == cold[n][1], n
        assert rows == cold[n][0], n


def test_cached_plan_scans_memory(spark, cold_cache):
    warm_table_cache(spark, SF_DIR)
    fn, _ = CATALOG["q01_pricing_summary"]
    plan = fn(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan
    # the only parquet reference left is the cached relation's stored
    # build recipe (InMemoryRelation child), not a live scan: every
    # FileScan line must sit beneath an InMemoryRelation
    live_scans = [
        ln
        for ln in plan.splitlines()
        if "FileScan parquet" in ln and "InMemoryRelation" in plan[: plan.index(ln)]
    ]
    assert len(live_scans) == plan.count("FileScan parquet")


def test_size_budget_skips_big_tables(spark, cold_cache, monkeypatch):
    # every fixture table is over a 1-byte budget
    monkeypatch.setattr(catalog_shared, "CACHE_BUDGET_BYTES", 1)
    cached = warm_table_cache(spark, SF_DIR)
    assert cached == {}
    assert not any(
        df.storageLevel.useMemory for df in _T_CACHE.values()
    )


def test_derived_view_memoizes_pins_and_clears(spark, cold_cache, monkeypatch):
    """derived_view: values identical to an uncached build, the second
    call reuses the pinned plan (memoized), and over-budget sources
    return unpinned; clear_table_cache forgets and unpersists."""
    from pyspark.sql import functions as F

    from defenda_data_lake_spark.plans.catalog_shared import (
        _DERIVED_CACHE,
        _t,
        derived_view,
    )

    def build(s, d):
        return _t(s, d, "events").select(
            "event_type", F.from_json("props", "k INT").getField("k").alias("k")
        )

    dv = derived_view(spark, SF_DIR, "ev_k_test", build, source_table="events")
    assert dv.storageLevel.useMemory
    again = derived_view(spark, SF_DIR, "ev_k_test", build, source_table="events")
    assert again is dv
    cold = sorted(map(tuple, build(spark, SF_DIR).collect()))
    assert sorted(map(tuple, dv.collect())) == cold
    # over-budget source: returned unpinned, values still identical.
    # NB: the build must differ from dv's — Spark's cache manager
    # matches by logical plan, so an identical plan would (correctly)
    # read as cached through dv's pin.
    def build2(s, d):
        return build(s, d).select("k", "event_type")

    monkeypatch.setattr(catalog_shared, "CACHE_BUDGET_BYTES", 1)
    big = derived_view(
        spark, SF_DIR, "ev_k_unpinned", build2, source_table="events"
    )
    assert not big.storageLevel.useMemory
    assert sorted(map(tuple, big.collect())) == sorted(
        map(tuple, build2(spark, SF_DIR).collect())
    )
    clear_table_cache()
    assert not _DERIVED_CACHE
    assert not dv.storageLevel.useMemory


def test_warm_scopes_copartition_guard(spark, cold_cache):
    """ADVICE r10 item 2: the subset-co-partition skew-guard
    relaxation is opt-in via warm_table_cache, not a blanket session
    default — warming must flip it for this session, and clearing the
    cache must restore the guard (round-11 review fix: a session that
    warmed once must not keep the relaxation after the co-partitioned
    tables are gone)."""
    spark.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "true")
    warm_table_cache(spark, SF_DIR)
    assert (
        spark.conf.get("spark.sql.requireAllClusterKeysForCoPartition")
        == "false"
    )
    clear_table_cache()
    # back to Spark's default (true) — the relaxation died with the cache
    assert (
        spark.conf.get("spark.sql.requireAllClusterKeysForCoPartition")
        == "true"
    )


def test_clear_leaves_nonwarm_sessions_alone(spark, cold_cache):
    """ADVICE r11: restore tracking is by who-set-the-conf
    (_SKEW_GUARD_RELAXED), not by cache contents.  A session that only
    did plain _t() reads (which DO populate _T_CACHE) must keep its own
    explicit conf setting across clear_table_cache."""
    from defenda_data_lake_spark.plans.catalog_shared import _t

    spark.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
    _t(spark, SF_DIR, "region")  # populates _T_CACHE without warming
    assert _T_CACHE
    clear_table_cache()
    # the user's own setting survives — this session never warmed
    assert (
        spark.conf.get("spark.sql.requireAllClusterKeysForCoPartition")
        == "false"
    )
    spark.conf.unset("spark.sql.requireAllClusterKeysForCoPartition")


def test_clear_restores_guard_even_with_empty_cache(spark, cold_cache, monkeypatch):
    """ADVICE r11, converse case: warm_table_cache that cached ZERO
    tables (budget excludes everything) still set the conf, so
    clear_table_cache must still restore it."""
    spark.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "true")
    monkeypatch.setattr(catalog_shared, "CACHE_BUDGET_BYTES", 0)
    cached = warm_table_cache(spark, SF_DIR)
    assert not cached and not _T_CACHE
    assert (
        spark.conf.get("spark.sql.requireAllClusterKeysForCoPartition")
        == "false"
    )
    clear_table_cache()
    assert (
        spark.conf.get("spark.sql.requireAllClusterKeysForCoPartition")
        == "true"
    )
