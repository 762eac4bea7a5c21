"""As-of (point-in-time) join.

Not in the reference's documented Presto surface (SURVEY.md §2B(b)
flags it as the one join family Presto lacks but lake users routinely
need): for every left row, the single most recent right row with
``right.time <= left.time`` within the same key — "what was the last
quote before this trade", "the last config change before this alert".

Spark has no ASOF JOIN operator; the naive formulation (theta join on
``r.time <= l.time`` + row_number to keep the latest) explodes every
key's pair space before pruning it — quadratic per key.  This
implementation is the scale-correct union+window idiom instead:

1. tag and union both inputs (no join — the union is a metadata-only
   plan node),
2. one window over (keys, time) carrying the right side's payload
   struct forward with ``last(..., ignorenulls=True)`` (a struct, so a
   right row whose payload VALUES are NULL still counts as a match),
3. keep the left rows: each now holds the payload of the latest
   right row at-or-before its time.

Cost: ONE shuffle of left+right on the key columns and a per-partition
sort — the same price as a plain equi-join of the two inputs, with no
pair expansion at any skew.  At a tie (right.time == left.time) the
right row sorts first, so equal timestamps match, exactly DuckDB's
``ASOF JOIN`` (``>=``) semantics — which is what the Q29 oracle
replays.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def asof_join(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    time_col: str,
    payload_cols: Sequence[str],
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Left as-of join: every ``left`` row plus ``payload_cols`` from
    the latest ``right`` row with the same ``keys`` and
    ``right.time_col <= left.time_col`` (NULL payload when no such row
    exists).  Output columns: all of ``left``'s, then one
    ``asof_<name>`` per payload column.

    ``tiebreak_col`` makes the result deterministic when several right
    rows share a key's max matching time: the one with the greatest
    tiebreak value wins."""
    keys = list(keys)

    # SQL match semantics: a right row with a NULL time can never
    # satisfy r.time <= l.time, and NULL keys never equi-match — drop
    # them up front (otherwise NULL time sorts first in the window and
    # its payload would leak into every row of the key)
    null_free = F.col(time_col).isNotNull()
    for key in keys:
        null_free = null_free & F.col(key).isNotNull()
    right = right.filter(null_free)

    # build the payload struct on the right and cast the left's NULL
    # literal to the same type so the union lines up
    right_payloaded = right.select(
        *keys,
        F.col(time_col),
        F.lit(0).alias("_is_left"),
        F.struct(*[F.col(name) for name in payload_cols]).alias("_asof_payload"),
        (
            F.col(tiebreak_col) if tiebreak_col else F.lit(0)
        ).alias("_asof_tie"),
    )
    payload_type = right_payloaded.schema["_asof_payload"].dataType.simpleString()
    tie_type = right_payloaded.schema["_asof_tie"].dataType.simpleString()
    tagged_left = (
        left.withColumn("_is_left", F.lit(1))
        .withColumn("_asof_payload", F.lit(None).cast(payload_type))
        .withColumn("_asof_tie", F.lit(None).cast(tie_type))
    )
    for name in tagged_left.columns:
        if name not in right_payloaded.columns:
            right_payloaded = right_payloaded.withColumn(name, F.lit(None))
    unioned = right_payloaded.select(*tagged_left.columns).unionByName(tagged_left)

    # rows-unbounded-preceding: the latest right payload at-or-before
    # each row; right sorts before left at equal time (ties match),
    # ascending tiebreak among equal-time right rows so last() keeps
    # the greatest
    w = (
        Window.partitionBy(*keys)
        .orderBy(F.col(time_col), F.col("_is_left"), F.col("_asof_tie"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned.withColumn(
        "_asof_match", F.last("_asof_payload", ignorenulls=True).over(w)
    )
    return carried.filter(F.col("_is_left") == 1).select(
        *[c for c in left.columns],
        *[
            F.col(f"_asof_match.{name}").alias(f"asof_{name}")
            for name in payload_cols
        ],
    )
