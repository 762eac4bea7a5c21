"""CDC apply: fold a change-data-capture stream (Debezium/DMS-style
insert/update/delete rows with a total order) into a snapshot table —
a MERGE with deletes and sequence collapsing (``operators/scd.py``
keeps full history instead of a current snapshot).

Semantics: each change row is ``(op, seq, key..., payload...)`` with
``op ∈ {'I','U','D'}`` and ``seq`` a monotone change-log position
(Debezium LSN / binlog offset / Kinesis sequence).  Per key, the
change with the HIGHEST ``seq`` is the net effect — 'I' and 'U' both
mean "the row now looks like this" (CDC upsert semantics: applying an
'I' for an existing key or a 'U' for an absent one is routine after
snapshot re-syncs), 'D' means the key is gone.  A tie at a key's
WINNING seq has no defined order, so it raises instead of silently
picking a winner (like SQL MERGE with multiple source matches);
ties below the winner cannot change the net effect and are ignored.

Scale notes (100 TB): collapsing is ONE window top-1 over the change
batch keyed by the key columns — planned as WindowGroupLimit, i.e. a
partition-local prune before the single exchange, so a hot key's
million-change backlog never materializes per-row in one task's sort
buffer beyond the limit.  The apply is one key-equi anti-join of the
snapshot against the (small) net-change set — AQE broadcasts it when
it fits — plus a union; the snapshot is scanned exactly once.  Nothing
is driver-side.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

#: valid change operations: insert, update (both upsert), delete
CDC_OPS = ("I", "U", "D")


def cdc_collapse(changes: DataFrame, key_cols: Sequence[str]) -> DataFrame:
    """Net effect of a change batch: one row per key — the change with
    the highest ``seq`` — schema unchanged.  Raises at execution time
    on a tie at a key's winning ``seq`` (no defined order) or an
    unknown op code (a corrupt log should fail the batch, not silently
    drop rows)."""
    checked = changes.withColumn(
        "op",
        F.when(F.col("op").isin(*CDC_OPS), F.col("op")).otherwise(
            F.expr(
                "raise_error(concat('cdc_collapse: unknown op ', "
                "coalesce(cast(op as string), 'NULL'), "
                "' (expected I/U/D)'))"
            )
        ),
    ).withColumn(
        # a NULL seq has no position in the log's total order: it
        # would lose every desc comparison and silently "win" alone,
        # and downstream a NULL _last_seq permanently disables the
        # late-arrival guard for its key — fail loudly instead
        "seq",
        F.when(F.col("seq").isNotNull(), F.col("seq")).otherwise(
            F.expr("raise_error('cdc_collapse: NULL seq')")
        ),
    )
    # rank(), not row_number(): ties at the winning seq all get rank 1
    # and SURVIVE the prune, where the tie guard below can see them.
    # The plain `rank == 1` filter sits directly above the Window, so
    # Catalyst plans it as WindowGroupLimit — the winner is selected
    # partition-locally BEFORE the key exchange and a hot key's
    # million-change backlog never materializes in one sort buffer.
    w = Window.partitionBy(*key_cols).orderBy(F.col("seq").desc())
    winners = checked.select(
        "*", F.rank().over(w).alias("_cdc_rnk")
    ).filter(F.col("_cdc_rnk") == 1)
    # the guard rides a second window over the SAME key partitioning
    # (no new exchange) but over the pruned winners only; it must live
    # INSIDE a filter predicate — a raise_error in a projected-then-
    # dropped column would be pruned by the optimizer and never
    # evaluate — and it cannot push below the count window (the
    # predicate reads the window output), so the rank filter above
    # stays clean for the WindowGroupLimit rule.
    wk = Window.partitionBy(*key_cols)
    guarded = winners.select("*", F.count("*").over(wk).alias("_cdc_nwin"))
    keep = F.when(
        F.col("_cdc_nwin") > 1,
        F.expr(
            "raise_error(concat('cdc_collapse: duplicate (key, seq) "
            "— tie at winning seq ', cast(seq as string)))"
        ).cast("boolean"),
    ).otherwise(F.lit(True))
    return guarded.filter(keep).drop("_cdc_rnk", "_cdc_nwin")


def cdc_apply(
    snapshot: DataFrame,
    changes: DataFrame,
    key_cols: Sequence[str],
) -> DataFrame:
    """Apply a change batch (ordered by ``seq``, operation in ``op``)
    to a snapshot: net-'D' keys are removed,
    net-'I'/'U' rows replace or insert their key's row.  Returns the
    new snapshot with exactly the snapshot's columns.

    The payload columns are taken from the change rows, so ``changes``
    must carry every snapshot column (after dropping ``op``/``seq``) —
    checked up front because a silently-missing column would surface
    as an unrelated analysis error deep in the union."""
    payload_cols = [c for c in snapshot.columns]
    missing = [
        c for c in payload_cols
        if c not in changes.columns
    ]
    if missing:
        raise ValueError(
            f"cdc_apply: changes are missing snapshot columns {missing}"
        )
    net = cdc_collapse(changes, key_cols)
    touched = net.select(*key_cols)
    survivors = snapshot.join(touched, list(key_cols), "left_anti")
    upserts = net.filter(F.col("op") != "D").select(*payload_cols)
    return survivors.unionByName(upserts)
