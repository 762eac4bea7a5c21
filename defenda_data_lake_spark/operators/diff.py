"""Snapshot diff: row-level reconciliation of two versions of a keyed
table — which rows were ADDED, REMOVED, MODIFIED, UNCHANGED between a
backfill's before/after, a replica pair, or two daily snapshots.

The audit tool that closes the maintenance loop (upsert writes,
compaction rewrites, retention drops — this verifies): data-diff as an
operator instead of an eyeballed count.

Design (100 TB): ONE co-partitioned full-outer join on the key — the
unavoidable shuffle; bucket both snapshots by the key and even that
exchange disappears.  Column
comparison is null-safe struct equality (``<=>`` over a struct of the
compared columns) evaluated inside the join's codegen stage — no
row-serialization hash, no Python.  The per-type counts aggregate
map-side to four rows.

Determinism: no hashing across engines is needed — equality is
re-expressed in the oracle as column-wise ``IS NOT DISTINCT FROM``
(the q94 oracle replays the whole diff).  NULL key components match
null-safely, so a NULL-keyed row diffs against its NULL-keyed
counterpart instead of always reading as added+removed.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: Sequence[str],
    compare_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Per-key diff of two snapshots: returns one row per key present
    in either side with ``diff_type`` ∈ ``added`` (new only) / ``removed``
    (old only) / ``modified`` (both, any compared column distinct) /
    ``unchanged`` — plus the key columns and, for modified/unchanged
    rows, the NEW side's compared columns (the current truth).

    ``compare_cols`` defaults to every shared non-key column.  Keys are
    assumed unique per snapshot (it is a keyed-table diff; duplicate
    keys join-multiply exactly like any reconciliation query would).
    TOP-LEVEL map columns are supported (canonicalized to sorted entry
    arrays for the comparison — Spark cannot equality-compare maps); a
    map nested deeper inside a struct/array compare column is not —
    pre-flatten such columns before diffing.

    NULL key components pair with each other (a null-safe join).
    Spark compiles a null-safe equi-join key to the ``(coalesce(k),
    isnull(k))`` composite, which no bucketing layout matches, so
    BUCKETED snapshots still shuffle."""
    keys = list(key_cols)
    if not keys:
        raise ValueError("key_cols must not be empty")
    if compare_cols is None:
        compare_cols = [
            c
            for c in new.columns
            if c in set(old.columns) and c not in set(keys)
        ]
    cmps = list(compare_cols)

    # Spark cannot equality-compare MAP columns (not orderable), so a
    # map-typed compare column (e.g. a rollup's HLL register map) is
    # canonicalized to its SORTED entry array inside the comparison
    # struct — equatable, and order-insensitive for semantically-equal
    # maps.  The OUTPUT still carries the original map (carried beside
    # the struct), so callers see their own types.
    from pyspark.sql.types import MapType

    map_cols = {
        f.name for f in new.schema.fields if isinstance(f.dataType, MapType)
    }

    def cmp_field(c: str):
        if c in map_cols:
            return F.sort_array(F.map_entries(F.col(c))).alias(c)
        return F.col(c)

    if not cmps:
        # key-only diff: presence is the only comparable thing — a
        # zero-field struct is invalid, so carry a constant marker
        # (modified can never occur, added/removed/unchanged still do)
        o = old.select(
            *[F.col(k).alias(f"_do_{k}") for k in keys],
            F.struct(F.lit(1).alias("_present")).alias("_do_vals"),
        )
        n = new.select(
            *[F.col(k).alias(f"_dn_{k}") for k in keys],
            F.struct(F.lit(1).alias("_present")).alias("_dn_vals"),
        )
        return _diff_tail(o, n, keys, [], set())
    o = old.select(
        *[F.col(k).alias(f"_do_{k}") for k in keys],
        F.struct(*[cmp_field(c) for c in cmps]).alias("_do_vals"),
    )
    n = new.select(
        *[F.col(k).alias(f"_dn_{k}") for k in keys],
        F.struct(*[cmp_field(c) for c in cmps]).alias("_dn_vals"),
        *[F.col(c).alias(f"_dnv_{c}") for c in cmps if c in map_cols],
    )
    return _diff_tail(o, n, keys, cmps, map_cols)


def _diff_tail(
    o: DataFrame,
    n: DataFrame,
    keys: list,
    cmps: list,
    map_cols: set,
) -> DataFrame:
    cond = None
    for k in keys:
        c = F.col(f"_do_{k}").eqNullSafe(F.col(f"_dn_{k}"))
        cond = c if cond is None else cond & c
    j = o.join(n, cond, "full")
    # presence = the side's struct row existed (a struct whose FIELDS
    # are all NULL is still non-NULL — only a missing join side nulls
    # the struct itself)
    has_old = F.col("_do_vals").isNotNull()
    has_new = F.col("_dn_vals").isNotNull()
    diff_type = (
        F.when(~has_old, F.lit("added"))
        .when(~has_new, F.lit("removed"))
        .when(F.col("_do_vals").eqNullSafe(F.col("_dn_vals")), F.lit("unchanged"))
        .otherwise(F.lit("modified"))
    )
    return j.select(
        *[
            F.coalesce(F.col(f"_dn_{k}"), F.col(f"_do_{k}")).alias(k)
            for k in keys
        ],
        diff_type.alias("diff_type"),
        *[
            (
                F.col(f"_dnv_{c}")
                if c in map_cols
                else F.col("_dn_vals").getField(c)
            ).alias(c)
            for c in cmps
        ],
    )


def sampled_snapshot_diff_summary(
    old: DataFrame,
    new: DataFrame,
    key_cols: Sequence[str],
    compare_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Reconciliation ESTIMATE from a coordinated key sample — "how
    much drifted?" before paying for the full join: both snapshots are
    filtered MAP-SIDE to keys whose ``md5`` starts with a ``0`` hex
    digit (the same fixed-threshold coordinated sampling as
    ``sketches.hash_sample_sketch``, keyed on the key VALUES so both
    sides keep exactly the same keys), the sample is diffed, and
    counts scale by 16.  Unbiased per key; relative stderr per type ≈
    ``sqrt(16 / n_type)``.

    Scale: the sample filter is evaluated in each scan stage, so the
    full-outer join exchanges ``~1/16`` of the keys — the estimate
    costs a fraction of the reconciliation it previews.

    Returns per observed diff type: ``sample_rows`` (exact, on the
    sample) and ``est_rows = 16 · sample_rows`` (BIGINT,
    integer-exact).  A type with no sampled rows is absent — with a
    deterministic sample, identically absent in any replay."""
    keys = list(key_cols)
    if not keys:
        raise ValueError("key_cols must not be empty")
    khash = F.md5(
        F.concat_ws("\x1f", *[F.col(k).cast("string") for k in keys])
    )
    keep = F.substring(khash, 1, 1) == F.lit("0")
    d = snapshot_diff(old.filter(keep), new.filter(keep), keys, compare_cols)
    return d.groupBy("diff_type").agg(
        F.count("*").alias("sample_rows"),
        (F.count("*") * F.lit(16)).cast("long").alias("est_rows"),
    )


def snapshot_diff_summary(
    old: DataFrame,
    new: DataFrame,
    key_cols: Sequence[str],
    compare_cols: Sequence[str] | None = None,
) -> DataFrame:
    """The four-row reconciliation report: per diff type, row count and
    the min/max key (the first/last affected row — where to start
    looking).  Counts aggregate map-side; only four rows survive."""
    keys = list(key_cols)
    d = snapshot_diff(old, new, keys, compare_cols)
    return d.groupBy("diff_type").agg(
        F.count("*").alias("n_rows"),
        F.min(keys[0]).alias("min_key"),
        F.max(keys[0]).alias("max_key"),
    )
