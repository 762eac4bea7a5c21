"""Snapshot diff (operators/diff.py): row-level reconciliation
semantics, NULL handling, and the key-only degenerate form."""

import pytest
from pyspark.sql import functions as F

from defenda_data_lake_spark.operators.diff import (
    snapshot_diff,
    snapshot_diff_summary,
)


def _snap(spark, rows):
    return spark.createDataFrame(rows, "k long, v string, w double")


def test_all_four_types(spark):
    old = _snap(spark, [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)])
    new = _snap(spark, [(2, "b", 2.0), (3, "C", 3.0), (4, "d", 4.0)])
    got = {
        r["k"]: r["diff_type"]
        for r in snapshot_diff(old, new, ["k"]).collect()
    }
    assert got == {1: "removed", 2: "unchanged", 3: "modified", 4: "added"}


def test_null_values_compare_null_safely(spark):
    """NULL -> NULL is unchanged; NULL -> value is modified — a plain
    equality would misread both as modified/unknown."""
    old = _snap(spark, [(1, None, 1.0), (2, None, 2.0)])
    new = _snap(spark, [(1, None, 1.0), (2, "x", 2.0)])
    got = {
        r["k"]: r["diff_type"]
        for r in snapshot_diff(old, new, ["k"]).collect()
    }
    assert got == {1: "unchanged", 2: "modified"}


def test_null_key_component_matches_null_safely(spark):
    """A NULL-keyed row must pair with its NULL-keyed counterpart, not
    explode into one 'added' plus one 'removed'."""
    old = spark.createDataFrame([(None, "a")], "k string, v string")
    new = spark.createDataFrame([(None, "b")], "k string, v string")
    rows = snapshot_diff(old, new, ["k"]).collect()
    assert len(rows) == 1 and rows[0]["diff_type"] == "modified"


def test_compare_cols_subset(spark):
    """Columns outside compare_cols must not trigger 'modified'."""
    old = _snap(spark, [(1, "a", 1.0)])
    new = _snap(spark, [(1, "a", 99.0)])
    rows = snapshot_diff(old, new, ["k"], compare_cols=["v"]).collect()
    assert rows[0]["diff_type"] == "unchanged"
    # and the full default (v AND w) sees the w change
    rows = snapshot_diff(old, new, ["k"]).collect()
    assert rows[0]["diff_type"] == "modified"


def test_key_only_diff(spark):
    """No shared non-key columns: presence diff only (modified can
    never occur)."""
    old = spark.createDataFrame([(1,), (2,)], "k long")
    new = spark.createDataFrame([(2,), (3,)], "k long")
    got = {
        r["k"]: r["diff_type"]
        for r in snapshot_diff(old, new, ["k"]).collect()
    }
    assert got == {1: "removed", 2: "unchanged", 3: "added"}


def test_summary_counts(spark):
    old = _snap(spark, [(i, "a", float(i)) for i in range(100)])
    new = _snap(
        spark,
        [(i, "a", float(i) + (1.0 if i % 10 == 0 else 0.0)) for i in range(5, 105)],
    )
    got = {
        r["diff_type"]: (r["n_rows"], r["min_key"], r["max_key"])
        for r in snapshot_diff_summary(old, new, ["k"]).collect()
    }
    # 0-4 removed; 100-104 added; of 5..99: every 10th modified (10 of
    # them: 10,20,...,90 -> 9 values... plus none at 5..9), rest unchanged
    mods = [i for i in range(5, 100) if i % 10 == 0]
    assert got["removed"] == (5, 0, 4)
    assert got["added"] == (5, 100, 104)
    assert got["modified"] == (len(mods), min(mods), max(mods))
    assert got["unchanged"][0] == 95 - len(mods)


def test_rejects_empty_keys(spark):
    old = _snap(spark, [(1, "a", 1.0)])
    with pytest.raises(ValueError):
        snapshot_diff(old, old, [])


def test_diff_audits_upsert_exactly(spark):
    """Diffing a snapshot before/after an upsert must report exactly
    the upserted keys — modified for replaced keys, added for new ones,
    unchanged for everything else (and never a removed row: upsert
    deletes nothing).  The after-snapshot is the upsert itself: the old
    rows whose key the updates miss, plus the updates."""
    old = spark.createDataFrame(
        [(i, f"text-{i}", "src") for i in range(50)],
        "doc_id long, text string, source string",
    )
    updates = spark.createDataFrame(
        [(7, "text-7-v2", "src"), (13, "text-13-v2", "src"),
         (99, "text-99", "src")],
        "doc_id long, text string, source string",
    )
    new = updates.unionByName(old.join(updates, "doc_id", "left_anti"))

    got = {
        r["doc_id"]: r["diff_type"]
        for r in snapshot_diff(old, new, ["doc_id"]).collect()
        if r["diff_type"] != "unchanged"
    }
    assert got == {7: "modified", 13: "modified", 99: "added"}
    summary = {
        r["diff_type"]: r["n_rows"]
        for r in snapshot_diff_summary(old, new, ["doc_id"]).collect()
    }
    assert summary.get("removed") is None and summary["unchanged"] == 48


def test_sampled_diff_estimates_full_report(spark):
    """The 1/16 coordinated-sample estimate must land near the exact
    reconciliation counts on a drift big enough to sample well (5000
    keys, ~25% per type)."""
    from defenda_data_lake_spark.operators.diff import (
        sampled_snapshot_diff_summary,
    )

    n = 5000
    old = spark.range(0, n).select(
        F.col("id").alias("k"),
        (F.col("id") % 10).cast("string").alias("v"),
        F.lit(0.0).alias("w"),
    ).filter(F.col("k") % 4 != 0)       # %4==0 keys -> 'added'
    new = spark.range(0, n).select(
        F.col("id").alias("k"),
        (F.col("id") % 10).cast("string").alias("v"),
        # %4==2 keys -> 'modified'
        F.when(F.col("id") % 4 == 2, 1.0).otherwise(0.0).alias("w"),
    ).filter(F.col("k") % 4 != 1)       # %4==1 keys -> 'removed'
    est = {
        r["diff_type"]: r["est_rows"]
        for r in sampled_snapshot_diff_summary(old, new, ["k"]).collect()
    }
    exact = {
        r["diff_type"]: r["n_rows"]
        for r in snapshot_diff_summary(old, new, ["k"]).collect()
    }
    for t, truth in exact.items():
        assert abs(est[t] - truth) / truth < 0.25, (t, est[t], truth)


def test_diff_empty_sides(spark):
    """Empty old = everything added; empty new = everything removed;
    both empty = empty report."""
    some = _snap(spark, [(1, "a", 1.0), (2, "b", 2.0)])
    none = some.filter(F.lit(False))
    assert {
        r["diff_type"] for r in snapshot_diff(none, some, ["k"]).collect()
    } == {"added"}
    assert {
        r["diff_type"] for r in snapshot_diff(some, none, ["k"]).collect()
    } == {"removed"}
    assert snapshot_diff(none, none, ["k"]).count() == 0
    assert snapshot_diff_summary(none, none, ["k"]).count() == 0


def test_diff_with_map_column(spark):
    """Map-typed compare columns (a rollup's HLL register map) must
    diff correctly: Spark can't equality-compare maps, so the operator
    canonicalizes them to sorted entry arrays internally — and
    semantically-equal maps with different entry ORDER read as
    unchanged.  Output keeps the original map type."""
    old = spark.createDataFrame(
        [(1, {"a": 1, "b": 2}, 5), (2, {"x": 1}, 5), (3, {"y": 9}, 5)],
        "k long, m map<string,int>, n long",
    )
    new = spark.createDataFrame(
        [(1, {"b": 2, "a": 1}, 5), (2, {"x": 2}, 5), (4, {"z": 1}, 5)],
        "k long, m map<string,int>, n long",
    )
    got = {r["k"]: r["diff_type"] for r in snapshot_diff(old, new, ["k"]).collect()}
    assert got == {1: "unchanged", 2: "modified", 3: "removed", 4: "added"}
    row = {
        r["k"]: r["m"] for r in snapshot_diff(old, new, ["k"]).collect()
    }
    assert row[2] == {"x": 2}  # output carries the original map type
