"""CDC apply (operators/cdc.py): net-effect collapsing with the
winning-seq tie guard and merge-with-deletes semantics."""

import pytest

from defenda_data_lake_spark.operators.cdc import cdc_apply, cdc_collapse

SCHEMA = "op string, seq long, k long, v string"


def _changes(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _snap(spark, rows):
    return spark.createDataFrame(rows, "k long, v string")


def _frame(df, cols=("k", "v")):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


# ----------------------------------------------------------- collapse


def test_collapse_latest_seq_wins(spark):
    net = cdc_collapse(
        _changes(
            spark,
            [
                ("U", 1, 1, "a"), ("U", 3, 1, "c"), ("U", 2, 1, "b"),
                ("D", 5, 2, None), ("I", 4, 2, "x"),
                ("I", 7, 3, "y"),
            ],
        ),
        ["k"],
    )
    got = sorted((r["k"], r["op"], r["seq"], r["v"]) for r in net.collect())
    assert got == [(1, "U", 3, "c"), (2, "D", 5, None), (3, "I", 7, "y")]


def test_collapse_tie_at_winning_seq_raises(spark):
    bad = _changes(spark, [("U", 3, 1, "a"), ("D", 3, 1, None)])
    with pytest.raises(Exception, match="tie at winning seq"):
        cdc_collapse(bad, ["k"]).collect()
    # a tie BELOW the winner cannot change the net effect: allowed
    ok = _changes(spark, [("U", 1, 1, "a"), ("U", 1, 1, "b"), ("U", 2, 1, "c")])
    assert [r["v"] for r in cdc_collapse(ok, ["k"]).collect()] == ["c"]


def test_collapse_unknown_op_raises(spark):
    bad = _changes(spark, [("X", 1, 1, "a")])
    with pytest.raises(Exception, match="unknown op"):
        cdc_collapse(bad, ["k"]).collect()


def test_collapse_null_seq_raises(spark):
    bad = _changes(spark, [("U", None, 1, "a")])
    with pytest.raises(Exception, match="NULL seq"):
        cdc_collapse(bad, ["k"]).collect()


# -------------------------------------------------------------- apply


def test_apply_merge_with_deletes(spark):
    snap = _snap(spark, [(1, "old1"), (2, "old2"), (3, "old3")])
    changes = _changes(
        spark,
        [
            ("U", 1, 1, "new1"),          # update existing
            ("D", 2, 2, None),            # delete existing
            ("I", 3, 4, "new4"),          # insert new key
            ("D", 4, 5, None),            # delete absent key: no-op
            ("D", 5, 6, None), ("I", 6, 6, "back6"),  # delete+reinsert
        ],
    )
    got = _frame(cdc_apply(snap, changes, ["k"]))
    assert got == [(1, "new1"), (3, "old3"), (4, "new4"), (6, "back6")]


def test_apply_missing_payload_column_raises(spark):
    snap = spark.createDataFrame([(1, "a", 2)], "k long, v string, extra long")
    with pytest.raises(ValueError, match="missing snapshot columns"):
        cdc_apply(snap, _changes(spark, [("U", 1, 1, "x")]), ["k"])


def test_q113_plan_windowgrouplimit_no_cartesian(spark):
    from defenda_data_lake_spark.plans.catalog import CATALOG

    fn, _ = CATALOG["q113_cdc_apply"]
    plan = fn(spark, "/root/testdata/sf0.001")._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    plan = plan.split("== Initial Plan ==")[0]
    assert "WindowGroupLimit" in plan  # collapse prunes before the exchange
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
