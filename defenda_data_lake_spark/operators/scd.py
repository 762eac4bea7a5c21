"""Slowly-changing-dimension (type 2) history build.

The warehouse-maintenance twin of :mod:`.diff`: where ``snapshot_diff``
compares two *snapshots*, ``scd2_history`` compacts an *observation
log* (append-only rows of ``(key, attributes, observed-at)``) into
versioned validity intervals — the table shape every dimension join
against point-in-time state needs (and the natural build input for the
engine's as-of join, ``operators/asof.py``).

Reference parity note: the reference system keeps raw event history in
partitioned parquet and leaves temporal compaction to Athena SQL; this
module makes the operator first-class.  (reference:
``lambdas/utils/helpers.py`` stores events append-only; no native SCD
support exists there.)

Scale: ONE hash exchange on the dimension key.  Every step after the
shuffle is a sort or a window over that same key-clustered layout —
the change-flag lag, the running version sum, the per-version
observation count (``partitionBy(key, version)`` is satisfied by the
existing ``hash(key)`` distribution, so it costs a sort, not a second
exchange), the version-start filter, and the ``lead`` that closes each
interval.  At 100 TB the input would arrive partition-pruned by day
and the operator applied per dimension key-range; nothing here holds
more than a key's run in memory.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def scd2_history(
    df: DataFrame,
    key_cols: Sequence[str],
    attr_cols: Sequence[str],
    ts_col: str,
    order_cols: Sequence[str] = (),
) -> DataFrame:
    """Compact an observation log into SCD-2 validity intervals.

    Each output row is one *version*: a maximal run of consecutive
    observations (per key, ordered by ``ts_col`` then ``order_cols``)
    whose ``attr_cols`` are all unchanged.  Columns: the keys, the
    attributes, ``version`` (1-based per key), ``valid_from_s`` /
    ``valid_to_s`` (epoch seconds; ``valid_to_s`` is NULL for the
    current version), and ``n_obs`` (observations folded into the
    version).

    NULL attribute values are compared null-safely (NULL → NULL is
    "unchanged"); ties on ``ts_col`` are broken by ``order_cols`` —
    pass a unique column there or version boundaries within a tied
    timestamp are undefined.
    """
    keys = list(key_cols)
    attrs = list(attr_cols)
    w = Window.partitionBy(*keys).orderBy(ts_col, *order_cols)
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)

    changed: Column = F.lit(False)
    for a in attrs:
        changed = changed | ~F.col(a).eqNullSafe(F.lag(a).over(w))
    # the first observation of a key has lag() == NULL for every attr:
    # eqNullSafe against a non-null value is False there, so `changed`
    # already fires — except when the first value IS NULL.  Catch that
    # with an explicit first-row test on the row number.
    first_row = F.row_number().over(w) == 1
    flag = F.when(first_row | changed, F.lit(1)).otherwise(F.lit(0))

    sec = F.floor(F.unix_micros(F.col(ts_col)) / 1_000_000)
    versioned = (
        df.withColumn("_chg", flag)
        .withColumn("version", F.sum("_chg").over(run))
        .withColumn("_obs_s", sec)
    )

    # per-version observation count: partitioning by (keys..., version)
    # is satisfied by the hash(keys) layout the windows above built —
    # Spark inserts a sort, not a second exchange (pinned in the plan
    # test).  The version-start row is exactly the row whose change
    # flag fired (it is first in the version by construction), so no
    # row_number pass is needed to find it.
    wv = Window.partitionBy(*keys, "version")
    counted = versioned.withColumn("n_obs", F.count("*").over(wv))
    starts = counted.filter(F.col("_chg") == 1).select(
        *keys,
        *attrs,
        F.col("version"),
        F.col("_obs_s").alias("valid_from_s"),
        F.col("n_obs"),
    )
    wnext = Window.partitionBy(*keys).orderBy("version")
    return starts.withColumn(
        "valid_to_s", F.lead("valid_from_s").over(wnext)
    ).select(*keys, *attrs, "version", "valid_from_s", "valid_to_s", "n_obs")
