"""Round-12 optimization pins: every change this round rewrote an
operator's INTERNALS while claiming identical behavior — these tests
pin each claim directly against a reference implementation or an
adversarial matrix, so a future edit can't silently drift.

Covered claims:

* ``collect_fields`` (iterative DFS) visits the same keys and yields
  per-field hits in the same document order as the recursive form;
* ``_criteria_match`` equals ``bool(wanted & event_criteria_values)``;
* ``is_ip``'s compiled-regex dotted-quad path matches the old manual
  octet rules on the adversarial boundary set;
* ``_uuid4_str`` is a valid RFC-4122 version-4 UUID string;
* fused ``pq_train`` returns the SAME codebooks as the per-subspace
  Lloyd loop (``clustering._lloyd``) it replaced.
"""

from __future__ import annotations

import random
import string
import uuid

import pytest


# ------------------------------------------------------- json_tree DFS


def _collect_fields_reference(node, wanted):
    """The pre-round-12 recursive form, kept verbatim as the oracle."""
    keys: set = set()
    hits: dict = {}

    def walk(cur):
        if isinstance(cur, dict):
            for k, v in cur.items():
                keys.add(k)
                if k in wanted:
                    hits.setdefault(k, []).append(v)
                if isinstance(v, (dict, list)):
                    walk(v)
        elif isinstance(cur, list):
            for item in cur:
                if isinstance(item, (dict, list)):
                    walk(item)

    walk(node)
    return keys, hits


def _rand_tree(rng, depth):
    if depth == 0 or rng.random() < 0.3:
        return rng.choice([1, "x", None, 3.5, True])
    if rng.random() < 0.5:
        return {
            rng.choice(string.ascii_lowercase[:8]) + str(rng.randint(0, 3)): _rand_tree(
                rng, depth - 1
            )
            for _ in range(rng.randint(0, 5))
        }
    return [_rand_tree(rng, depth - 1) for _ in range(rng.randint(0, 4))]


def test_collect_fields_matches_recursive_reference():
    from defenda_data_lake_spark.utils.json_tree import collect_fields

    rng = random.Random(20260817)
    wanted = {"a0", "b1", "c2", "time", "date", "srcaddr"}
    for _ in range(3000):
        tree = _rand_tree(rng, 4)
        got = collect_fields(tree, wanted)
        want = _collect_fields_reference(tree, wanted)
        assert got[0] == want[0]
        assert got[1] == want[1]  # exact per-field hit ORDER


# --------------------------------------------------- routing criteria


def test_criteria_match_equals_token_set_intersection():
    from defenda_data_lake_spark.operators.pipeline import (
        _criteria_match,
        event_criteria_values,
    )

    rng = random.Random(42)
    wanted = frozenset({"kind", "gsuite", "d2"})
    for _ in range(2000):
        tree = _rand_tree(rng, 3)
        if not isinstance(tree, dict):
            tree = {"root": tree}
        # exercise the tags/category arms too
        if rng.random() < 0.3:
            tree["tags"] = rng.choice([["kind"], ["x"], "kind", [1, "gsuite"]])
        if rng.random() < 0.3:
            tree["category"] = rng.choice(["kind", "other", 7])
        assert _criteria_match(tree, wanted) == bool(
            wanted & event_criteria_values(tree)
        )


# -------------------------------------------------------------- is_ip


@pytest.mark.parametrize(
    "value,expected",
    [
        ("1.2.3.4", True),
        ("0.0.0.0", True),
        ("255.255.255.255", True),
        ("256.1.1.1", False),
        ("1.2.3", False),
        ("1.2.3.4.5", False),
        ("01.2.3.4", False),  # leading zero
        ("00.2.3.4", False),
        ("1.2.3.04", False),
        ("1.2.3.4\n", False),  # trailing newline ($ would accept it)
        ("1.2.3.", False),
        (".1.2.3.4", False),
        ("1..2.3", False),
        ("1.2.3.٤", False),  # unicode digit passes isdigit(), not \d ASCII
        ("１.2.3.4", False),  # fullwidth digit
        ("1.2.3.+4", False),
        ("1.2.3.4 ", False),
        (" 1.2.3.4", False),
        ("a.b.c.d", False),
        ("10.0.0.0/8", True),  # CIDR falls through to the stdlib parser
        ("2001:db8::1", True),
        ("0", False),
        (None, False),
        (1234, False),
    ],
)
def test_is_ip_boundary_matrix(value, expected):
    from defenda_data_lake_spark.operators.plugins import is_ip

    assert is_ip(value) is expected


# ---------------------------------------------------------- uuid mint


def test_fast_uuid4_is_valid_rfc4122_v4():
    from defenda_data_lake_spark.operators.plugins import _uuid4_str

    seen = set()
    for _ in range(200):
        s = _uuid4_str()
        u = uuid.UUID(s)
        assert u.version == 4
        assert u.variant == uuid.RFC_4122
        assert str(u) == s  # canonical lowercase hyphenated form
        seen.add(s)
    assert len(seen) == 200  # no collisions in a trivial sample


# ------------------------------------------- fused PQ subspace training


def test_pq_train_fused_matches_per_subspace_kmeans(spark):
    from defenda_data_lake_spark.operators.clustering import _lloyd
    from defenda_data_lake_spark.operators.pq import pq_train
    from defenda_data_lake_spark.utils.partitioning import (
        ensure_min_parallelism,
        kernel_parallelism,
    )
    from pyspark.sql import functions as F

    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    fused = pq_train(df, dim=8)

    # one Lloyd run per 2-wide subspace: 16 centroids, 2 iterations
    reference = []
    for s in range(4):
        sliced = ensure_min_parallelism(
            df.select(
                F.col("vec_id").alias("id"),
                F.slice(F.col("embedding"), s * 2 + 1, 2).alias("vec"),
            ),
            kernel_parallelism(df),
        ).cache()
        reference.append(_lloyd(sliced, 16, 2))
        sliced.unpersist()
    assert fused == reference


# --------------------------------------- pagerank symmetric-input knob


def test_pagerank_symmetric_input_matches_general_path(spark):
    """``symmetric_input=True`` derives the node list from the distinct
    ``src`` set alone — valid exactly because symmetrized input puts
    every node on both sides.  On such input the node set, and hence
    every exact-integer rank, must match the general union-distinct
    path row-for-row."""
    from defenda_data_lake_spark.operators.graph import pagerank, symmetrize

    rng = random.Random(100)
    raw = [(rng.randrange(25), rng.randrange(25)) for _ in range(60)]
    raw = [(a, b) for a, b in raw if a != b]
    edges = symmetrize(
        spark.createDataFrame(raw, "id_a long, id_b long"),
        src="id_a",
        dst="id_b",
    )

    def as_map(df):
        return {r["node_id"]: r["rank_e12"] for r in df.collect()}

    general = as_map(pagerank(edges))
    fast = as_map(pagerank(edges, symmetric_input=True))
    assert fast == general
